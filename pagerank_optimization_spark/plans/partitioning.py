"""Partitioning / skew utilities (SURVEY.md §4 "skew handling" row).

Kronecker/transcript graphs are power-law: hub tools/agents concentrate a
large fraction of edges on a few keys. Spark's partial (map-side)
aggregation already flattens groupBy skew on the receiving side — an
in-degree hub reduces to ≤ P partial rows before the shuffle — and AQE
splits skewed join partitions outside superstep loops. What remains is
the JOIN side inside a loop (AQE is off there): one task owning a hub key's
whole row list every superstep. That is handled here with explicit
degree-based salting of the join key (the north rule's "degree-based edge
splitting"):

- ``auto_hub_split_degree``  one degree-histogram probe → salt threshold
  or None;
- ``with_key_degree_salt`` / ``salted_unique_side``  spread a hot key's
  rows over deterministic xxhash64 salts and replicate the unique side
  across them (PageRank gather, CC/LPA gathers, CC pointer doubling);
- ``src_salted_pagerank_step``  the join-agg kernel's contribution step
  over src-salted edges.

Salted results match the unsalted ones to 1e-12 (tested). Plus
scale-adaptive partition sizing and physical-plan audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Scale-adaptive partition sizing (r6, guide §2.2 "fewer, larger reduce
# partitions"): the caller's ``partitions`` is a CLUSTER-sized upper bound
# (bench passes local core count; a cluster run passes executors × cores).
# Using it unconditionally makes every stage of a tiny-graph superstep pay
# a 32-task scheduling floor — at sf0.1 (54k edges) the per-superstep wall
# is ~95% task/stage overhead (measured: compute region 0.75 s/superstep at
# 32 partitions vs ~0.1 s at the data-sized count). At scale
# rows/target exceeds the cap and the caller's value wins unchanged, so
# cluster behavior is untouched.
ROWS_PER_PARTITION = 65_536


def effective_partitions(requested: int, rows: int | None) -> int:
    """min(requested, ceil(rows / ROWS_PER_PARTITION)), floor 1: never MORE
    tasks than the caller sized for the cluster, never more than the data
    needs at ~ROWS_PER_PARTITION rows per task. ``rows=None`` (size
    unknown) keeps the caller's value."""
    if rows is None:
        return max(1, requested)
    need = max(1, -(-int(rows) // ROWS_PER_PARTITION))
    return max(1, min(int(requested), need))


# Auto hub-split bound (documented contract). WHICH side skews matters:
#
# - dst (in-degree) hubs do NOT need salting in the join-agg superstep:
#   the contribution groupBy(dst) runs partial+final HashAggregate, so a
#   10^7-in-degree hub reduces to ≤ P partial rows before the shuffle
#   (measured at local[4]: a 50k-in-degree hub on 500k edges, fixed_iters=5,
#   runs 7.8 s unsalted vs 9.1 s with a dst-side two-phase salt, whose
#   extra shuffle only costs — so only the src side is ever salted).
# - src (out-degree) hubs ARE the genuine straggler: edges co-partitioned
#   by hash(src) put ALL of a hub's out-edges in ONE partition, so one
#   join task carries the hub's whole edge list every superstep
#   (measured: a 40%-share src hub → 27% slower at local[32]; at 1000
#   executors the imbalance is fatal). with_src_degree_salt spreads the
#   hub's edge list over ceil(outdeg/max_deg) salts and replicates ONLY
#   hub rank rows across them.
#
# Auto trigger: max out-degree exceeds BOTH `ratio`×p99 (outlier, not the
# bulk) AND `min_deg` (below ~10k rows a task is cheap anywhere). Salt
# threshold = max(min_deg, ratio·p99). This matters because AQE (whose
# skew-join would otherwise help) is deliberately OFF inside superstep
# loops (session.iterative_conf). The csr-blocks kernel needs none of
# this: a hub's edges are contiguous CSR segments reduced by vectorized
# np.add.reduceat inside an evenly-sized bucket.
HUB_SPLIT_AUTO_MIN_DEG = 10_000
HUB_SPLIT_AUTO_RATIO = 4.0


def auto_hub_split_degree(
    edges: DataFrame,
    *,
    key: str = "src",
    min_deg: int = HUB_SPLIT_AUTO_MIN_DEG,
    ratio: float = HUB_SPLIT_AUTO_RATIO,
) -> int | None:
    """→ salt threshold (int) when the ``key``-degree histogram says the
    graph is hub-skewed, else None. One aggregation over the edge list —
    run at DISTRIBUTE_DATA time, decided once for the superstep loop."""
    row = (
        edges.groupBy(key)
        .agg(F.count("*").alias("deg"))
        .agg(
            F.max("deg").alias("mx"),
            F.expr("approx_percentile(deg, 0.99)").alias("p99"),
        )
        .collect()[0]
    )
    if row["mx"] is None:
        return None
    threshold = max(min_deg, int(ratio * float(row["p99"])))
    return threshold if row["mx"] > threshold else None


def with_key_degree_salt(
    df: DataFrame, *, key: str, hash_col: str, max_deg: int = 10_000
) -> tuple[DataFrame, DataFrame]:
    """Generic join-side hub defense: rows whose ``key`` multiplicity
    exceeds max_deg get spread over ceil(cnt/max_deg) salts by
    xxhash64(hash_col) (deterministic, no RNG). → (df + ssalt,
    hubs(key, n_salts)). The hubs table holds ONLY outlier keys — its size
    is bounded by count(df)/max_deg regardless of the skew shape (a key is
    hot precisely because it owns many rows, so there cannot be many hot
    keys), safe to broadcast. Used by the PageRank gather (key=src), the
    CC/LPA neighbor gathers (key=b), and the CC pointer-doubling lookup
    (key=lbl)."""
    deg = df.groupBy(key).agg(F.count("*").alias("_deg")).filter(
        F.col("_deg") > max_deg
    )
    hubs = deg.select(
        key, F.ceil(F.col("_deg") / F.lit(max_deg)).cast("int").alias("n_salts")
    )
    salted = (
        df.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "ssalt",
            F.when(
                F.col("n_salts").isNotNull(),
                F.pmod(F.xxhash64(hash_col), F.col("n_salts")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("n_salts")
    )
    return salted, hubs


def salted_unique_side(right: DataFrame, hubs: DataFrame, key: str) -> DataFrame:
    """The other half of the salted join: replicate the UNIQUE-per-key side
    across each hot key's salt range (non-hot keys keep the singleton salt
    0), so ``salted.join(salted_unique_side(right, hubs, key),
    [key, "ssalt"])`` is row-equivalent to the unsalted join while no task
    receives more than ~max_deg rows of one key. Replication volume =
    Σ_hot n_salts ≈ count(left)/max_deg — negligible."""
    return (
        right.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "ssalt",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salts"), F.lit(1)) - 1)),
        )
        .drop("n_salts")
    )


def with_src_degree_salt(
    edges: DataFrame, *, max_deg: int = 10_000
) -> tuple[DataFrame, DataFrame]:
    """Join-side hub defense for the PageRank gather: srcs with outdeg >
    max_deg get their edge list spread over ceil(outdeg/max_deg) salts by
    xxhash64(dst). → (edges + ssalt, hubs(src, n_salts))."""
    return with_key_degree_salt(edges, key="src", hash_col="dst", max_deg=max_deg)


def src_salted_pagerank_step(salted_edges: DataFrame, hubs: DataFrame, id_col: str = "entity"):
    """Contribution step of the join-agg kernel over src-salted edges:
    hub rank rows replicate across their salt range (salted_unique_side
    over the tiny broadcast hubs table); the join key becomes (src, ssalt),
    so no single task owns a hub's whole edge list. The contribution agg
    is untouched — partial+final combine handles the dst side."""

    def step(ranks: DataFrame) -> DataFrame:
        r = salted_unique_side(ranks.withColumnRenamed(id_col, "src"), hubs, "src")
        return (
            salted_edges.join(r, ["src", "ssalt"], "inner")
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.sum(F.col("weight") * F.col("pr")).alias("contrib"))
        )

    return step


# --- plan audits -------------------------------------------------------------


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def assert_column_pruned(df: DataFrame, column: str) -> None:
    """Fails if the parquet scan reads ``column`` — guards the 'graph jobs
    never deserialize text payloads' contract (SURVEY.md §4 pushdown row)."""
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line and column in line:
            raise AssertionError(f"column {column!r} not pruned from scan: {line.strip()}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError("expected a broadcast join in the plan")


def assert_no_single_partition_exchange(df: DataFrame) -> None:
    """Fails if the plan funnels data through ONE partition (a global
    window / global sort) — the serialize-|V|-rows-through-one-task hazard
    that makes an operator a 100 TB non-starter."""
    plan = physical_plan(df)
    if "Exchange SinglePartition" in plan:
        raise AssertionError("plan contains Exchange SinglePartition (global funnel)")


def assert_no_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
        raise AssertionError("expected NO broadcast join in the plan")


def assert_partial_aggregation(df: DataFrame) -> None:
    """Partial+final hash aggregation (the OpenMP array-reduction analog,
    tuned_variant_openmp.c:75-77) must be present for groupBy sums."""
    plan = physical_plan(df)
    if plan.count("HashAggregate") < 2:
        raise AssertionError("expected partial+final HashAggregate pair")
