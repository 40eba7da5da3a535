"""CSR-kernel checkpoint/resume: vid-space checkpoints resume correctly
because the entity→vid mapping is a deterministic function of the vertex
set (a vertex's vid is its position among the sorted distinct ids)."""

import shutil
import tempfile

import numpy as np

from pagerank_optimization_spark.checkpoint import CheckpointManager
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts


def test_csr_kernel_kill_resume(spark):
    transcripts = synthesize_transcripts(spark, 60, seed=9)
    vertices, wedges = build_graph(transcripts)
    vertices, wedges = vertices.cache(), wedges.cache()
    want = {r[0]: r[1] for r in pagerank(vertices, wedges, fixed_iters=6, partitions=4).ranks.collect()}

    root = tempfile.mkdtemp(prefix="csr_ckpt_")
    try:
        cm1 = CheckpointManager(spark, root, "r")
        pagerank(vertices, wedges, fixed_iters=3, partitions=4, kernel="csr-blocks", checkpointer=cm1)
        cm2 = CheckpointManager(spark, root, "r")
        assert cm2.last_complete_superstep() == 2
        res = pagerank(
            vertices, wedges, fixed_iters=6, partitions=4, kernel="csr-blocks", checkpointer=cm2
        )
        got = {r[0]: r[1] for r in res.ranks.collect()}
        assert res.iterations == 6
        ks = sorted(want)
        assert np.allclose([got[k] for k in ks], [want[k] for k in ks], atol=1e-12)
    finally:
        shutil.rmtree(root, ignore_errors=True)
