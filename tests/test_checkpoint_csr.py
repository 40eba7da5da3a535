"""CSR-kernel checkpoint/resume: vid-space checkpoints resume correctly
because the entity→vid mapping is a deterministic function of the vertex
set (row_number over sorted entities). Parametrized over BOTH frontier
modes — the scale mode's resume path (DataFrame state, merge-join
supersteps) is the one a 10^9-vertex run would use."""

import shutil
import tempfile

import numpy as np
import pytest

from pagerank_optimization_spark.checkpoint import CheckpointManager
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts


@pytest.mark.parametrize("bf", [True, False])
def test_csr_kernel_kill_resume(spark, bf):
    transcripts = synthesize_transcripts(spark, 60, seed=9)
    vertices, wedges = build_graph(transcripts)
    vertices, wedges = vertices.cache(), wedges.cache()
    want = {r[0]: r[1] for r in pagerank(vertices, wedges, fixed_iters=6, partitions=4).ranks.collect()}

    root = tempfile.mkdtemp(prefix="csr_ckpt_")
    try:
        cm1 = CheckpointManager(spark, root, "r")
        pagerank(
            vertices, wedges, fixed_iters=3, partitions=4, kernel="csr-blocks",
            checkpointer=cm1, csr_broadcast_frontier=bf,
        )
        cm2 = CheckpointManager(spark, root, "r")
        assert cm2.last_complete_superstep() == 2
        res = pagerank(
            vertices, wedges, fixed_iters=6, partitions=4, kernel="csr-blocks",
            checkpointer=cm2, csr_broadcast_frontier=bf,
        )
        got = {r[0]: r[1] for r in res.ranks.collect()}
        assert res.iterations == 6
        ks = sorted(want)
        assert np.allclose([got[k] for k in ks], [want[k] for k in ks], atol=1e-12)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_csr_scale_mode_resume_bitwise(spark):
    """Scale-mode kill/resume must be float64-BITWISE identical to the
    uninterrupted scale-mode run (deterministic lexsorted blocks + parquet
    float64 round-trip — same guarantee the broadcast mode already has)."""
    transcripts = synthesize_transcripts(spark, 60, seed=9)
    vertices, wedges = build_graph(transcripts)
    vertices, wedges = vertices.cache(), wedges.cache()
    want = {
        r[0]: r[1]
        for r in pagerank(
            vertices, wedges, fixed_iters=6, partitions=4, kernel="csr-blocks",
            csr_broadcast_frontier=False,
        ).ranks.collect()
    }
    root = tempfile.mkdtemp(prefix="csr_ckpt_scale_")
    try:
        cm1 = CheckpointManager(spark, root, "r")
        pagerank(
            vertices, wedges, fixed_iters=3, partitions=4, kernel="csr-blocks",
            checkpointer=cm1, csr_broadcast_frontier=False,
        )
        cm2 = CheckpointManager(spark, root, "r")
        got = {
            r[0]: r[1]
            for r in pagerank(
                vertices, wedges, fixed_iters=6, partitions=4, kernel="csr-blocks",
                checkpointer=cm2, csr_broadcast_frontier=False,
            ).ranks.collect()
        }
        assert got == want  # bitwise: dict equality on float64 values
    finally:
        shutil.rmtree(root, ignore_errors=True)
