"""Kill-resume contract (SURVEY.md §5 item 5): a run interrupted after
superstep s and resumed must produce ranks bitwise-equal to an
uninterrupted run."""

import shutil
import tempfile

import pytest

from pagerank_optimization_spark.checkpoint import CheckpointManager
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def graph(spark):
    transcripts = synthesize_transcripts(spark, 80, seed=3)
    vertices, wedges = build_graph(transcripts)
    return vertices.cache(), wedges.cache()


@pytest.fixture()
def ckpt_root():
    d = tempfile.mkdtemp(prefix="pr_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _d(df):
    return {r[0]: r[1] for r in df.collect()}


KERNELS = {
    "join-agg": {"kernel": "join-agg"},
    "csr-broadcast": {"kernel": "csr-blocks"},
}


@pytest.mark.parametrize("kern", list(KERNELS))
def test_kill_resume_bitwise_equal(spark, graph, ckpt_root, kern):
    vertices, wedges = graph
    kw = KERNELS[kern]
    # uninterrupted 6-superstep run (no checkpointer)
    want = _d(pagerank(vertices, wedges, fixed_iters=6, partitions=4, **kw).ranks)

    # interrupted: run 3 supersteps, "die", resume to 6 with a fresh manager
    cm1 = CheckpointManager(spark, ckpt_root, "run-a")
    pagerank(vertices, wedges, fixed_iters=3, partitions=4, checkpointer=cm1, **kw)
    cm2 = CheckpointManager(spark, ckpt_root, "run-a")
    assert cm2.last_complete_superstep() == 2  # supersteps 0,1,2 complete
    res = pagerank(vertices, wedges, fixed_iters=6, partitions=4, checkpointer=cm2, **kw)
    got = _d(res.ranks)
    assert res.iterations == 6
    assert got == want  # exact float64 equality, not allclose


@pytest.mark.parametrize("kern", ["join-agg", "csr-broadcast"])
def test_resume_after_convergence_runs_no_superstep(spark, graph, ckpt_root, kern):
    """A converged checkpointed run resumed on the same root (the process
    died after the last save) runs no further superstep: same iteration
    count, converged, ranks bitwise-equal to the finished run."""
    vertices, wedges = graph
    kw = dict(KERNELS[kern], tol=1e-4, partitions=4)
    first = pagerank(vertices, wedges, checkpointer=CheckpointManager(spark, ckpt_root, "c"), **kw)
    assert first.converged
    again = pagerank(vertices, wedges, checkpointer=CheckpointManager(spark, ckpt_root, "c"), **kw)
    assert (again.iterations, again.converged, again.deltas) == (first.iterations, True, [])
    assert _d(again.ranks) == _d(first.ranks)


def test_metrics_and_lineage_written(spark, graph, ckpt_root):
    vertices, wedges = graph
    cm = CheckpointManager(spark, ckpt_root, "run-b")
    pagerank(vertices, wedges, fixed_iters=3, partitions=4, checkpointer=cm)
    m = cm.metrics().collect()
    assert {r.superstep for r in m} == {0, 1, 2}
    assert all(r.l1_delta >= 0 and r.edges_processed > 0 and r.wall_ms > 0 for r in m)
    lin = cm.lineage_table().collect()
    assert {r.superstep for r in lin} == {0, 1, 2}
    n_vertices = vertices.count()
    for s in (0, 1, 2):
        assert sum(r.rows for r in lin if r.superstep == s) == n_vertices


def test_resume_fresh_returns_none(spark, ckpt_root):
    cm = CheckpointManager(spark, ckpt_root, "never-ran")
    assert cm.resume() is None


def test_cc_kill_resume_exact(spark, graph, ckpt_root):
    """CC converged mode with checkpointing: a run killed after round r and
    resumed matches the uninterrupted run EXACTLY (labels are discrete
    strings — bitwise is free). Same commit protocol as PageRank ranks."""
    from pagerank_optimization_spark.operators.components import connected_components

    vertices, wedges = graph
    want = _d(connected_components(vertices, wedges, partitions=4))

    cm1 = CheckpointManager(spark, ckpt_root, "cc-a")
    # "kill" after 2 rounds by capping max_rounds
    connected_components(vertices, wedges, partitions=4, max_rounds=2, checkpointer=cm1)
    cm2 = CheckpointManager(spark, ckpt_root, "cc-a")
    assert cm2.last_complete_superstep() == 1
    got = _d(connected_components(vertices, wedges, partitions=4, checkpointer=cm2))
    assert got == want


def test_lpa_kill_resume_exact(spark, graph, ckpt_root):
    from pagerank_optimization_spark.operators.lpa import label_propagation

    vertices, wedges = graph
    want = _d(label_propagation(vertices, wedges, rounds=5, partitions=4))

    cm1 = CheckpointManager(spark, ckpt_root, "lpa-a")
    label_propagation(vertices, wedges, rounds=2, partitions=4, checkpointer=cm1)
    cm2 = CheckpointManager(spark, ckpt_root, "lpa-a")
    assert cm2.last_complete_superstep() == 1
    got = _d(label_propagation(vertices, wedges, rounds=5, partitions=4, checkpointer=cm2))
    assert got == want


def _converged_resume(spark, ckpt_root, run, op):
    """Run ``op(checkpointer)`` to its fixpoint, then again on the same
    root with a new manager → (labels of both, metrics rows before and
    after the second call)."""
    first = _d(op(CheckpointManager(spark, ckpt_root, run)))
    cm = CheckpointManager(spark, ckpt_root, run)
    rows = cm.metrics().count()
    assert cm.last_metrics()["l1_delta"] == 0  # the first run converged
    again = _d(op(cm))
    return first, again, rows, cm.metrics().count()


def test_cc_converged_resume_runs_no_round(spark, graph, ckpt_root):
    """A converged CC run resumed on its own checkpoints (the process died
    after the last save) runs no round: no metrics row is added and the
    labels equal the finished run's."""
    from pagerank_optimization_spark.operators.components import connected_components

    vertices, wedges = graph
    first, again, before, after = _converged_resume(
        spark, ckpt_root, "cc-done",
        lambda cm: connected_components(vertices, wedges, partitions=4, checkpointer=cm),
    )
    assert after == before
    assert again == first


def test_lpa_converged_resume_runs_no_round(spark, ckpt_root):
    """The same for ``label_propagation(until_stable=True)``: its last saved
    round changed no label, so a resume runs none."""
    from pagerank_optimization_spark.operators.lpa import label_propagation

    # two disjoint triangles: both collapse to their min label and freeze
    # (synchronous LPA may oscillate on the transcript graph)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    vertices = spark.createDataFrame([(v,) for v in "abcxyz"], "entity string")
    first, again, before, after = _converged_resume(
        spark, ckpt_root, "lpa-done",
        lambda cm: label_propagation(
            vertices, edges, rounds=10, until_stable=True, partitions=4, checkpointer=cm
        ),
    )
    assert after == before
    assert again == first
