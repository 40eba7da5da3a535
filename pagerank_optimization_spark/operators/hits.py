"""HITS (hubs & authorities) — Kleinberg's mutual-reinforcement iteration
on the directed link graph (engine-brief addition; the reference is
PageRank-only — its power-iteration ping-pong, tuned_variant_baseline.c:
107-148, is the pattern both half-steps reuse).

Per iteration (L1-normalized so scores are comparable across graph sizes
and SQL-expressible without a sqrt aggregate):

    auth_i(v) = Σ_{u→v} hub_{i-1}(u)   then  auth_i /= Σ auth_i
    hub_i(u)  = Σ_{u→v} auth_i(v)      then  hub_i  /= Σ hub_i

Scale shape: each half-step is ONE shuffle — a gather join of the score
vector against the edge list on the gathered endpoint followed by a
partially-aggregated groupBy (map-side combine handles in/out-degree hubs
natively, same argument as the PageRank contribution sum). The edge list
is repartitioned once per direction and reused every superstep
(DISTRIBUTE_DATA-once); the only driver traffic is one normalization
scalar per half-step (the CC ``changed`` pattern). At 1000 executors this
is 2k shuffles of |E| rows for k iterations — the same cost envelope as
k-iteration PageRank, no new hazards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    k: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """→ DataFrame(entity, auth, hub) after exactly ``k`` iterations from
    the uniform hub vector h₀ = 1/|V|. Vertices with no in-edges hold
    auth 0; no out-edges, hub 0 (coalesced, they stay in the result —
    the score vector is always |V|-dense like the PageRank kernel's).

    A zero normalization sum (edgeless graph) leaves the vector all-zero
    instead of dividing by zero — mirrored by ``nullif`` in the SQL twin
    (plans.oracle_sql.hits_query_sql).
    """
    if k < 1:
        raise ValueError("hits: k must be ≥ 1 (auth is undefined before the first half-step)")
    spark = vertices.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism

    ev = edges.select("src", "dst")
    # scale-adaptive loop width (r6): caller's value caps, |E| decides
    from pagerank_optimization_spark.plans.partitioning import effective_partitions

    partitions = effective_partitions(partitions, ev.count())
    # one partitioning per gather direction, built once, reused every round
    by_src = ev.repartition(partitions, "src").persist()
    by_dst = ev.repartition(partitions, "dst").persist()
    by_src.count(), by_dst.count()

    verts = vertices.select("entity").distinct().persist()
    n = verts.count()

    # uniform h₀, materialized as a plan LEAF — every per-round state frame
    # is localCheckpoint'ed, the same lineage hygiene as the PageRank loop
    # (pagerank.py:25): persist alone leaves the logical tree growing by a
    # full gather-join per half-step, and Catalyst re-analysis + the SQL
    # listener's plan stringification go quadratic in k (measured: the
    # persist-only form of this loop spent 40 min of driver CPU on a
    # 1.3k-vertex test graph before the first k=5 run finished)
    hub = verts.select("entity", F.lit(1.0 / n).alias("score")).localCheckpoint(eager=True)
    auth: DataFrame | None = None

    def _half(scores: DataFrame, edge_part: DataFrame, gather: str, emit: str) -> DataFrame:
        """gather scores over one edge direction, L1-normalize, densify."""
        raw = (
            edge_part.join(scores.withColumnRenamed("entity", gather), gather)
            .groupBy(F.col(emit).alias("entity"))
            .agg(F.sum("score").alias("raw"))
        )
        # r6: normalization total as a broadcast one-row aggregate (the
        # katz.py idiom) — one job per half-step, zero in-loop collects;
        # same algebra (score = coalesce(raw,0) · (1/total), 0 if total ≤ 0)
        total = raw.agg(F.coalesce(F.sum("raw"), F.lit(0.0)).alias("tot"))
        scale = F.when(F.col("tot") > 0, F.lit(1.0) / F.col("tot")).otherwise(F.lit(0.0))
        out = (
            verts.join(raw, "entity", "left")
            .crossJoin(F.broadcast(total))
            .select("entity", (F.coalesce(F.col("raw"), F.lit(0.0)) * scale).alias("score"))
            .localCheckpoint(eager=True)
        )
        return out

    from pagerank_optimization_spark.session import iterative_conf

    with iterative_conf(spark, shuffle_partitions=partitions):
        for _ in range(k):
            # superseded checkpoints are reclaimed by Spark's ContextCleaner
            # once unreferenced (same contract as the csr kernel's id map,
            # pagerank_csr._Csr)
            auth = _half(hub, by_src, gather="src", emit="dst")
            hub = _half(auth, by_dst, gather="dst", emit="src")

    result = (
        hub.withColumnRenamed("score", "hub")
        .join(auth.withColumnRenamed("score", "auth"), "entity")
        .select("entity", "auth", "hub")
    )
    by_src.unpersist(), by_dst.unpersist(), verts.unpersist()
    return result
