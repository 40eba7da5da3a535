"""Cross-kernel differential: csr-blocks (vectorized Arrow/numpy) vs
join-agg (pure DataFrame) — the reference's REF/TST variant harness
(verify_op.c:196-254) with a deterministic input and a 1e-12 bar
(SURVEY.md §5 item 3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts
from tests import oracle

@pytest.fixture(scope="module")
def graph(spark):
    transcripts = synthesize_transcripts(spark, 150, seed=11).cache()
    vertices, wedges = build_graph(transcripts)
    rows = [r.asDict() for r in transcripts.select("conv_id", "turn_idx", "role", "tool").collect()]
    o_edges = oracle.derive_edges(rows)
    o_vertices = oracle.vertices_of(rows, o_edges)
    return vertices.cache(), wedges.cache(), o_vertices, o_edges


def _d(df):
    return {r[0]: r[1] for r in df.collect()}


def _agent_reset(vertices):
    return vertices.filter(F.col("entity").startswith("agent:")).withColumn("weight", F.lit(1.0))


def test_csr_kernel_matches_joinagg_fixed_k(graph):
    vertices, wedges, _, _ = graph
    a = _d(pagerank(vertices, wedges, fixed_iters=4, partitions=8, kernel="join-agg").ranks)
    b = _d(pagerank(vertices, wedges, fixed_iters=4, partitions=8, kernel="csr-blocks").ranks)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)


def test_csr_kernel_matches_numpy_converged(graph):
    vertices, wedges, o_vertices, o_edges = graph
    res = pagerank(vertices, wedges, tol=1e-6, max_iter=100, partitions=8, kernel="csr-blocks")
    assert res.converged
    got = _d(res.ranks)
    want = oracle.pagerank_dense(o_vertices, o_edges, tol=1e-6, max_iter=100)
    ks = sorted(want)
    assert np.allclose([got[k] for k in ks], [want[k] for k in ks], atol=1e-6)


def test_csr_kernel_partition_count_invariance(graph):
    """Physical partitioning must not change the result, not even in the
    last ulp: every ``partitions`` compiles the same one CSR block and
    reduces it in the same order (the reference's OpenMP reorder tolerance
    was 1e-4 because of float32)."""
    vertices, wedges, _, _ = graph
    a = _d(pagerank(vertices, wedges, fixed_iters=3, partitions=3, kernel="csr-blocks").ranks)
    b = _d(pagerank(vertices, wedges, fixed_iters=3, partitions=16, kernel="csr-blocks").ranks)
    assert a == b


FUSED_CASES = ["converged", "fixed5", "personalized", "x0"]


@pytest.mark.parametrize("case", FUSED_CASES)
def test_fused_loop_bitwise_equals_per_superstep_jobs(spark, graph, tmp_path, case):
    """The csr kernel runs the whole loop in one task when no checkpointer
    needs each superstep's state (no job per superstep); a checkpointed
    run of the same graph takes one one-superstep job per superstep. Both
    run the same numpy update in the same order, so deltas, dangling
    masses and ranks are float64-equal, not just close."""
    from pagerank_optimization_spark.checkpoint import CheckpointManager

    vertices, wedges, _, _ = graph
    kw = {"partitions": 8, "kernel": "csr-blocks"}
    if case == "fixed5":
        kw["fixed_iters"] = 5
    else:
        kw["tol"] = 1e-6
    if case == "personalized":
        # agents have out-edges; a reset on (dangling) tools would already
        # be its own fixed point
        kw["reset"] = _agent_reset(vertices)
    if case == "x0":
        kw["x0"] = pagerank(vertices, wedges, fixed_iters=3, **kw).ranks

    fused = pagerank(vertices, wedges, **kw)
    jobs = pagerank(
        vertices, wedges, checkpointer=CheckpointManager(spark, str(tmp_path), "r"), **kw
    )
    assert fused.metrics and fused.metrics[0]["n_partitions"] == 1
    assert fused.deltas == jobs.deltas
    assert [m["dangling_mass_next"] for m in fused.metrics] == [
        m["dangling_mass_next"] for m in jobs.metrics
    ]
    assert [m["dangling_mass"] for m in fused.metrics] == [
        m["dangling_mass"] for m in jobs.metrics
    ]
    assert (fused.iterations, fused.converged) == (jobs.iterations, jobs.converged)
    assert fused.converged == (case != "fixed5")
    assert fused.iterations > 1
    assert _d(fused.ranks) == _d(jobs.ranks)
    probe_kw = {k: v for k, v in kw.items() if k not in ("tol", "fixed_iters")}
    assert _jobs_per_extra_superstep(spark, vertices, wedges, f"fused-{case}", **probe_kw) == 0


def _job_count(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "pagerank job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_per_extra_superstep(spark, vertices, edges, name: str, **kw) -> float:
    """Jobs of a fixed_iters=3 call minus those of a fixed_iters=1 call, per
    extra superstep (the call's fixed jobs, its layout build included,
    cancel)."""
    one, three = (
        _job_count(spark, f"{name}-{k}", lambda k=k: pagerank(vertices, edges, fixed_iters=k, **kw))
        for k in (1, 3)
    )
    return (three - one) / 2


def test_one_bucket_loop_starts_no_job_per_superstep(spark, graph):
    vertices, wedges, _, _ = graph
    kw = {"partitions": 8, "kernel": "csr-blocks"}
    assert pagerank(vertices, wedges, fixed_iters=1, **kw).metrics[0]["n_partitions"] == 1
    assert _jobs_per_extra_superstep(spark, vertices, wedges, "csr-p1", **kw) == 0


def test_large_ring_loop_runs_one_block_and_no_job_per_superstep(spark):
    """A graph above ROWS_PER_PARTITION rows at ``partitions=4`` still
    compiles to one CSR block, and the loop still runs in one task."""
    n = 70_000  # > ROWS_PER_PARTITION (65,536)
    ids = spark.range(n)
    vertices = ids.select(F.col("id").cast("string").alias("entity")).cache()
    ring = ids.select(  # a directed ring: every rank is 1/n
        F.col("id").cast("string").alias("src"),
        ((F.col("id") + 1) % n).cast("string").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).cache()
    kw = {"partitions": 4, "kernel": "csr-blocks"}
    res = pagerank(vertices, ring, fixed_iters=2, **kw)
    assert res.metrics[0]["n_partitions"] == 1
    pr = np.array([r[0] for r in res.ranks.select("pr").collect()])
    assert len(pr) == n and np.allclose(pr, 1.0 / n, rtol=0, atol=1e-15)
    assert _jobs_per_extra_superstep(spark, vertices, ring, "csr-ring", **kw) == 0
    vertices.unpersist()
    ring.unpersist()


def test_csr_blocks_runs_above_broadcast_row_limit(graph, monkeypatch):
    """``kernel="auto"`` sends graphs above BROADCAST_ROW_LIMIT to join-agg,
    but an explicit ``kernel="csr-blocks"`` still runs there (the rank
    vector stays on the driver; the id-map joins lose the broadcast hint)
    and matches join-agg."""
    from pagerank_optimization_spark.operators import pagerank_csr
    from pagerank_optimization_spark.operators.pagerank import resolve_auto_kernel

    vertices, wedges, _, _ = graph
    monkeypatch.setattr(pagerank_csr, "BROADCAST_ROW_LIMIT", 10)
    assert resolve_auto_kernel(vertices.count()) == "join-agg"
    a = _d(pagerank(vertices, wedges, fixed_iters=4, partitions=8, kernel="join-agg").ranks)
    b = _d(pagerank(vertices, wedges, fixed_iters=4, partitions=8, kernel="csr-blocks").ranks)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)


def _left_cached(spark, fn) -> tuple[list, list]:
    """Run ``fn`` with DataFrame.persist spied on → (the frames it
    persisted, those of them that Spark's cache manager still holds)."""
    frame_cls = type(spark.range(1))
    persist, persisted = frame_cls.persist, []

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frame_cls, "persist", spy)
        fn()
    cache = spark._jsparkSession.sharedState().cacheManager()
    return persisted, [df for df in persisted if cache.lookupCachedData(df._jdf).isDefined()]


@pytest.mark.parametrize("personalized", [False, True], ids=["plain", "personalized"])
def test_csr_call_releases_what_it_cached(spark, graph, personalized):
    """A csr call builds its layout for itself and unpersists it before it
    returns: afterwards Spark's cache manager holds no DataFrame that the
    call persisted. Frames cached outside the call are left alone."""
    vertices, wedges, _, _ = graph
    # new frame objects: the layout must be built by this call, whatever
    # earlier calls on the fixture's frames left behind
    vertices, wedges = vertices.select("*"), wedges.select("*")
    kw = {"reset": _agent_reset(vertices)} if personalized else {}
    persisted, cached = _left_cached(
        spark,
        lambda: pagerank(vertices, wedges, fixed_iters=2, partitions=8, kernel="csr-blocks", **kw),
    )
    assert persisted
    assert cached == []


def test_csr_layout_above_row_limit_raises(spark, graph, monkeypatch):
    """The layout is one Spark row; one that would exceed
    LAYOUT_BYTES_LIMIT raises before it is built, points at join-agg and
    leaves nothing cached."""
    from pagerank_optimization_spark.operators import pagerank_csr

    vertices, wedges, _, _ = graph
    vertices, wedges = vertices.select("*"), wedges.select("*")
    monkeypatch.setattr(pagerank_csr, "LAYOUT_BYTES_LIMIT", 1_000)

    def call():
        with pytest.raises(ValueError, match='use kernel="join-agg"'):
            pagerank(vertices, wedges, fixed_iters=2, partitions=8, kernel="csr-blocks")

    persisted, cached = _left_cached(spark, call)
    assert persisted
    assert cached == []


def test_auto_runs_join_agg_when_csr_layout_exceeds_row_limit(spark, graph, monkeypatch):
    """``kernel="auto"`` picks csr below BROADCAST_ROW_LIMIT vertices only
    while the layout fits in one Spark row; a denser graph runs join-agg
    (the same ranks, bit for bit) instead of raising, and the abandoned
    csr setup leaves nothing cached."""
    from pagerank_optimization_spark.operators import pagerank_csr

    vertices, wedges, _, _ = graph
    vertices, wedges = vertices.select("*"), wedges.select("*")
    monkeypatch.setattr(pagerank_csr, "LAYOUT_BYTES_LIMIT", 1_000)
    kw = {"fixed_iters": 4, "partitions": 8}
    auto = []
    _, cached = _left_cached(
        spark, lambda: auto.append(pagerank(vertices, wedges, kernel="auto", **kw))
    )
    assert cached == []
    assert _d(auto[0].ranks) == _d(pagerank(vertices, wedges, kernel="join-agg", **kw).ranks)


def test_csr_call_job_count(spark, graph):
    """One whole uncheckpointed csr call — sizing, layout task, loop and
    result — starts at most 14 Spark jobs on this fixture. The vid
    assignment by range partitioning, the id-map joins, the vid-space edge
    count and the dangling-flag joins it replaced took 21."""
    vertices, wedges, _, _ = graph
    kw = {"fixed_iters": 5, "partitions": 8, "kernel": "csr-blocks"}
    pagerank(vertices, wedges, **kw)  # the session's first Arrow task starts the workers
    assert _job_count(spark, "csr-call", lambda: pagerank(vertices, wedges, **kw)) <= 14
