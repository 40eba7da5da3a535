"""Skew-handling equivalence + physical-plan audits."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pagerank_optimization_spark.operators.graph_build import (
    build_graph,
    turn_entities,
    vertex_ids,
)
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.plans.partitioning import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_no_broadcast_join,
    assert_no_single_partition_exchange,
    assert_partial_aggregation,
)
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def graph(spark):
    transcripts = synthesize_transcripts(spark, 200, seed=13).cache()
    vertices, wedges = build_graph(transcripts)
    return vertices.cache(), wedges.cache()


def test_auto_hub_split(spark, graph):
    """hub_split_degree='auto' probes the OUT-degree histogram: triggers
    on a deliberately src-hub-heavy graph, stays off on the balanced
    fixture, and never changes results."""
    from pagerank_optimization_spark.plans.partitioning import auto_hub_split_degree

    vertices, wedges = graph
    # balanced fixture at production bounds: no salting
    assert auto_hub_split_degree(wedges) is None
    # src-hub synthetic: one source owns 10% of edges, others unique →
    # p99 outdeg = 1, max ≫ bound
    hub = spark.range(3000).selectExpr(
        "CASE WHEN id % 10 = 0 THEN 'hub' ELSE concat('v', id) END AS src",
        "concat('w', id) AS dst",
        "1.0 AS weight",
    )
    thr = auto_hub_split_degree(hub, min_deg=100)
    assert thr is not None and thr >= 100
    # no-trigger path is result-identical to plain on the fixture
    plain = pagerank(vertices, wedges, fixed_iters=4, partitions=8)
    auto = pagerank(vertices, wedges, fixed_iters=4, partitions=8, hub_split_degree="auto")
    a = {r[0]: r[1] for r in plain.ranks.collect()}
    b = {r[0]: r[1] for r in auto.ranks.collect()}
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)


def test_src_split_triggered_preserves_pagerank(spark):
    """End-to-end on a graph where 'auto' actually ENGAGES (one source's
    outdeg exceeds the production floor): salted results match unsalted
    to 1e-12, and the salt genuinely spread the hub's edges."""
    from pagerank_optimization_spark.plans.partitioning import with_src_degree_salt

    n = 30_000
    edges = spark.range(n).selectExpr(
        # half the edges come out of one hub source (outdeg 15k > 10k floor)
        "CASE WHEN id % 2 = 0 THEN 'hub' ELSE concat('v', id) END AS src",
        "concat('w', id % 5000) AS dst",
        "1.0 / 15000 AS weight",
    ).persist()
    vertices = (
        edges.selectExpr("src AS entity")
        .union(edges.selectExpr("dst AS entity"))
        .distinct()
        .persist()
    )
    salted, hubs = with_src_degree_salt(edges, max_deg=10_000)
    assert hubs.count() == 1
    assert salted.filter("src = 'hub'").select("ssalt").distinct().count() >= 2
    plain = pagerank(vertices, edges, fixed_iters=3, partitions=8)
    auto = pagerank(vertices, edges, fixed_iters=3, partitions=8, hub_split_degree="auto")
    a = {r[0]: r[1] for r in plain.ranks.collect()}
    b = {r[0]: r[1] for r in auto.ranks.collect()}
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)


def test_hub_split_degree_accepts_only_auto_or_none(graph):
    """The dst-side integer salt is gone: only "auto" or None are valid."""
    vertices, wedges = graph
    for bad in (5, 10_000, "on"):
        with pytest.raises(ValueError, match="hub_split_degree"):
            pagerank(vertices, wedges, fixed_iters=1, partitions=8, hub_split_degree=bad)


def test_text_column_pruned_from_graph_scan(spark, tmp_path):
    # write transcripts to parquet, derive entities, check scan schema
    tr = synthesize_transcripts(spark, 50, seed=1)
    p = str(tmp_path / "tr.parquet")
    tr.write.parquet(p)
    turns = turn_entities(spark.read.parquet(p))
    assert_column_pruned(turns, "text")


def test_degree_normalization_plan(spark, graph):
    """r6: the default weight normalization is a COUNT window over the src
    partitioning — ONE exchange, NO degree join at all (so there is no
    |V|-sized join side whose broadcast would need gating at 10^9
    vertices). The explicit-outdeg form keeps the join, still without a
    forced broadcast hint: Spark broadcasts it only when the measured
    size fits autoBroadcastJoinThreshold."""
    from pagerank_optimization_spark.operators.graph_build import (
        build_edges,
        normalize_edges,
        out_degrees,
    )

    _, wedges = graph
    # default (window) path: no join of any kind in the weighted-edge plan
    plan = wedges._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    # explicit-outdeg path: the join survives, gated not forced
    transcripts = synthesize_transcripts(spark, 50, seed=13)
    edges = build_edges(transcripts)
    joined = normalize_edges(edges, out_degrees(edges))
    assert_broadcast_join(joined)  # tiny fixture → measured size broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert_no_broadcast_join(normalize_edges(edges, out_degrees(edges)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_csr_call_runs_no_entity_join_before_its_task(spark, graph):
    """A personalized csr call with a warm start maps the reset and x0 rows
    to vids inside its one Arrow task, as side rows tagged beside the
    vertex ids: the one frame the call checkpoints is the cogrouped task,
    and its plan has no join."""
    from pagerank_optimization_spark.plans.partitioning import physical_plan

    # truncate lineage: the cached graph plans embed their own (legitimate)
    # degree broadcast join, which would false-positive the audit below
    vertices, wedges = (df.localCheckpoint(eager=True) for df in graph)
    reset = vertices.filter(F.col("entity").startswith("agent:")).withColumn("weight", F.lit(1.0))
    x0 = vertices.withColumn("pr", F.lit(1.0))
    frame_cls = type(vertices)
    checkpoint, plans = frame_cls.localCheckpoint, []

    def spy(self, *args, **kwargs):
        plans.append(physical_plan(self))
        return checkpoint(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frame_cls, "localCheckpoint", spy)
        res = pagerank(
            vertices, wedges, fixed_iters=3, partitions=4, kernel="csr-blocks", reset=reset, x0=x0
        )
    assert res.iterations == 3
    assert len(plans) == 1
    assert "FlatMapCoGroupsInArrow" in plans[0]
    assert "Join" not in plans[0]


def test_vertex_ids_plan_has_no_global_funnel(spark, graph):
    """The vid assignment must never serialize |V| rows through one task
    (the round-1 `WindowExec: No Partition Defined` scale-killer)."""
    vertices, _ = graph
    lazy = vertex_ids(vertices, partitions=8, eager=False)
    assert_no_single_partition_exchange(lazy)


def test_contrib_agg_has_partial_phase(graph):
    vertices, wedges = graph
    ranks = vertices.withColumn("pr", F.lit(0.1))
    contribs = (
        wedges.join(ranks.withColumnRenamed("entity", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("weight") * F.col("pr")).alias("contrib"))
    )
    assert_partial_aggregation(contribs)


def test_cc_lpa_gather_salting_bounded_and_exact(spark):
    """Planted hub + giant component (the CC/LPA 100x hazard): a 4000-leaf
    star. Unsalted, the per-round neighbor gather puts all 4000 hub rows in
    ONE task's key, and once the component converges the pointer-doubling
    join funnels every member through the single hot label. With forced
    small thresholds both defenses must (a) fire, (b) bound the per-(key,
    salt) fan-in, and (c) leave CC/LPA values exactly unchanged."""
    from pyspark.sql import functions as F

    from pagerank_optimization_spark.operators.components import (
        _shortcut,
        connected_components,
        symmetrize,
    )
    from pagerank_optimization_spark.operators.lpa import label_propagation
    from pagerank_optimization_spark.plans.partitioning import with_key_degree_salt

    n_leaves = 4000
    vertices = spark.createDataFrame(
        [("h000",)] + [(f"leaf{i:05d}",) for i in range(n_leaves)], "entity string"
    )
    edges = spark.createDataFrame(
        [("h000", f"leaf{i:05d}") for i in range(n_leaves)], "src string, dst string"
    )

    # (b) the salted gather's fan-in bound: no (b, ssalt) key exceeds ~thr
    sym = symmetrize(edges)
    thr = 250
    salted, hubs = with_key_degree_salt(sym, key="b", hash_col="a", max_deg=thr)
    assert hubs.count() == 1  # the hub fired
    mx = salted.groupBy("b", "ssalt").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 2 * thr, f"salted gather key still hot: {mx} rows"

    # row-equivalence of the salted join vs the unsalted one
    from pagerank_optimization_spark.plans.partitioning import salted_unique_side

    lbl_b = vertices.select(F.col("entity").alias("b"), F.col("entity").alias("lbl"))
    plain = sym.join(lbl_b, "b").select("a", "b", "lbl")
    via_salt = (
        salted.join(salted_unique_side(lbl_b, hubs, "b"), ["b", "ssalt"])
        .select("a", "b", "lbl")
    )
    assert plain.exceptAll(via_salt).count() == 0
    assert via_salt.exceptAll(plain).count() == 0

    # (b') the doubling lookup under a degenerate hot label
    hot_labels = spark.createDataFrame(
        [(f"leaf{i:05d}", "h000") for i in range(n_leaves)] + [("h000", "h000")],
        "entity string, lbl string",
    )
    lsalted, lhot = with_key_degree_salt(
        hot_labels, key="lbl", hash_col="entity", max_deg=200
    )
    assert lhot.count() == 1
    lmx = lsalted.groupBy("lbl", "ssalt").count().agg(F.max("count")).collect()[0][0]
    assert lmx <= 400, f"salted doubling key still hot: {lmx} rows"
    doubled = {r.entity: r.lbl for r in _shortcut(hot_labels, max_members=200).collect()}
    assert doubled == {r.entity: "h000" for r in hot_labels.collect()}

    # (c) end-to-end exactness with both defenses forced on
    got = {
        r.entity: r.component
        for r in connected_components(
            vertices, edges, hub_split=thr, shortcut_salt_members=200, partitions=8
        ).collect()
    }
    assert set(got.values()) == {"h000"} and len(got) == n_leaves + 1
    lpa_salted = {
        r.entity: r.label
        for r in label_propagation(vertices, edges, rounds=3, hub_split=thr, partitions=8).collect()
    }
    lpa_plain = {
        r.entity: r.label
        for r in label_propagation(vertices, edges, rounds=3, hub_split=None, partitions=8).collect()
    }
    assert lpa_salted == lpa_plain
