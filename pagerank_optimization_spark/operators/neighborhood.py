"""Neighborhood function over the DIRECTED link graph — per-vertex
r-hop reach (|{u : dist(v→u) ≤ r}|), exact and sketched.

Two paths, mirroring the repo's exact-vs-scale pattern (ngram_jaccard ↔
minhash, cosine ↔ LSH/IVF):

- ``neighborhood_reach`` — EXACT, by r rounds of reachability-pair
  expansion (pairs ⋈ edges, union, distinct). The pair set can approach
  |V|² on small-diameter graphs, so this is the small-r / oracle path —
  it is what the DuckDB twin unrolls (plans.oracle_sql.
  neighborhood_query_sql) and what the sketch is tested against.
- ``hyperball_reach`` — the 100 TB path: Boldi/Rosa/Vigna's HyperBall
  (HyperANF), one HyperLogLog register array per vertex, max-merged
  along out-edges each round. Per-round shuffle volume is
  O(|E| · m) BYTES of packed int arrays (m = 2^p registers), constant in
  the reach being counted — the exact path's pair set is replaced by a
  fixed-width sketch. Register merge is element-wise max expressed as
  2^p plain ``max`` aggregates (``_merge_groupby``) — map-side
  combinable, so hub fan-in collapses in the partial-agg hash table and
  the exchange carries one row per touched vertex per task.
  ``merge_salt`` additionally pre-merges per (vertex, salt) before the
  final merge (same defense shape as components.prepare_gather); with
  the combinable merge it is rarely needed and defaults off.

The per-vertex estimate uses the standard HLL estimator with the
small-range linear-counting correction. No UDFs anywhere: register
extraction, max-merge, and estimation are all codegen'd array
expressions (F.transform / F.zip_with / F.aggregate).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def _init_registers(entity: Column, p: int) -> Column:
    """HLL register array for the singleton set {entity}: xxhash64, low p
    bits → register index, trailing-zeros+1 of the remaining bits → rank.
    (w & -w) isolates the lowest set bit — an exact power of two, so
    log2 over double is exact; w == 0 (prob 2^-(64-p)) caps at 64-p+1."""
    m = 1 << p
    h = F.xxhash64(entity)
    idx = h.bitwiseAND(F.lit(m - 1)).cast("int")
    w = F.shiftrightunsigned(h, p)
    rho = (
        F.when(w == 0, F.lit(64 - p + 1))
        .otherwise(F.log2(w.bitwiseAND(-w)).cast("int") + F.lit(1))
        .cast("int")
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.when(i == idx, rho).otherwise(F.lit(0)),
    )


def _merge_groupby(df: DataFrame, group_cols: list[str], p: int) -> DataFrame:
    """groupBy(*group_cols) element-wise register max as m = 2^p plain
    ``max`` aggregates, reassembled into the array afterwards. Unlike the
    collect_list fold, plain max is map-side combinable: each task reduces
    to ONE row per group before the exchange, so per-round shuffle volume
    is O(|V touched| · m) instead of O(|E| · m) and hub fan-in collapses
    in the partial-agg hash table (measured at 1.1M vertices / 4M edges —
    BENCH/reach_scale_probe_1100000.json and BENCH/AB_NOTES.md)."""
    m = 1 << p
    aggs = [
        F.max(F.element_at(F.col("regs"), i + 1)).alias(f"_r{i}") for i in range(m)
    ]
    return df.groupBy(*group_cols).agg(*aggs).select(
        *group_cols, F.array(*[F.col(f"_r{i}") for i in range(m)]).alias("regs")
    )


def _estimate(regs: Column, p: int) -> Column:
    m = 1 << p
    z = F.aggregate(
        regs, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    raw = F.lit(_alpha(m) * m * m) / z
    zeros = F.size(F.filter(regs, lambda r: r == 0))
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)


def neighborhood_reach(
    vertices: DataFrame,
    edges: DataFrame,
    r: int,
    *,
    partitions: int | None = None,
) -> DataFrame:
    """EXACT → (entity, reach long): # distinct vertices within ≤ r hops
    along src→dst edges, INCLUDING the vertex itself (reach ≥ 1).

    r rounds of (pairs ⋈ edges → union → distinct); mirrors the unrolled
    DuckDB twin round-for-round. Small-r/oracle path — see module doc."""
    spark = vertices.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism

    ed = edges.select(F.col("src").alias("u"), F.col("dst").alias("w")).persist()
    ed.count()
    pairs = (
        vertices.select(F.col("entity").alias("v"), F.col("entity").alias("u"))
        .repartition(partitions, "u")
        .persist()
    )
    pairs.count()
    for _ in range(r):
        ext = pairs.join(ed, "u").select("v", F.col("w").alias("u"))
        nxt = (
            pairs.unionByName(ext)
            .distinct()
            .repartition(partitions, "u")
            .persist()
        )
        nxt.count()
        pairs.unpersist()
        pairs = nxt
    ed.unpersist()
    out = pairs.groupBy("v").agg(F.count("*").alias("reach"))
    return out.select(F.col("v").alias("entity"), "reach")


def hyperball_reach(
    vertices: DataFrame,
    edges: DataFrame,
    r: int,
    *,
    p: int = 8,
    merge_salt: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """HyperBall sketch → (entity, reach_est double): HLL estimate of the
    ≤ r-hop out-ball size per vertex. m = 2^p registers (p=8 → ~6.5%
    typical relative error). ``merge_salt`` pre-merges hub fan-in per
    (vertex, salt) before the final per-vertex merge — two bounded
    aggregations instead of one unbounded one."""
    spark = vertices.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism

    ed = edges.select("src", "dst").repartition(partitions, "dst").persist()
    ed.count()
    state = (
        vertices.select(
            F.col("entity").alias("v"), _init_registers(F.col("entity"), p).alias("regs")
        )
        .repartition(partitions, "v")
        .persist()
    )
    state.count()

    for _ in range(r):
        # v's ball absorbs the balls of its out-neighbors: gather regs
        # from dst along each (src, dst) edge, then union v's own state.
        gathered = ed.join(
            state.select(F.col("v").alias("dst"), "regs"), "dst"
        ).select(F.col("src").alias("v"), "regs")
        contrib = gathered.unionByName(state.select("v", "regs"))
        if merge_salt and merge_salt > 1:
            contrib = _merge_groupby(
                contrib.withColumn(
                    "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(merge_salt))
                ),
                ["v", "_salt"],
                p,
            ).drop("_salt")
        nxt = (
            _merge_groupby(contrib, ["v"], p)
            .repartition(partitions, "v")
            .persist()
        )
        nxt.count()
        state.unpersist()
        state = nxt

    ed.unpersist()
    out = state.select(
        F.col("v").alias("entity"), _estimate(F.col("regs"), p).alias("reach_est")
    )
    return out


def hyperball_curve(
    vertices: DataFrame,
    edges: DataFrame,
    r: int,
    *,
    p: int = 8,
    merge_salt: int | None = None,
    partitions: int | None = None,
) -> list[tuple[int, float]]:
    """The global neighborhood function — [(h, N̂(h))] for h = 0..r, where
    N(h) = Σ_v |ball(v, h)| (# reachable pairs within ≤ h hops), estimated
    by summing the per-vertex HLL estimates after each max-merge round
    (Palmer et al.'s ANF curve / HyperANF). One scalar collect per round;
    everything else stays distributed. Feed the result to
    ``effective_diameter``."""
    spark = vertices.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism

    ed = edges.select("src", "dst").repartition(partitions, "dst").persist()
    ed.count()
    state = (
        vertices.select(
            F.col("entity").alias("v"), _init_registers(F.col("entity"), p).alias("regs")
        )
        .repartition(partitions, "v")
        .persist()
    )

    def _n(st: DataFrame) -> float:
        return st.agg(F.sum(_estimate(F.col("regs"), p)).alias("n")).collect()[0]["n"]

    curve = [(0, float(_n(state)))]
    for h in range(1, r + 1):
        gathered = ed.join(
            state.select(F.col("v").alias("dst"), "regs"), "dst"
        ).select(F.col("src").alias("v"), "regs")
        contrib = gathered.unionByName(state.select("v", "regs"))
        if merge_salt and merge_salt > 1:
            contrib = _merge_groupby(
                contrib.withColumn(
                    "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(merge_salt))
                ),
                ["v", "_salt"],
                p,
            ).drop("_salt")
        nxt = (
            _merge_groupby(contrib, ["v"], p)
            .repartition(partitions, "v")
            .persist()
        )
        curve.append((h, float(_n(nxt))))
        state.unpersist()
        state = nxt

    ed.unpersist()
    state.unpersist()
    return curve


def effective_diameter(curve: list[tuple[int, float]], q: float = 0.9) -> float:
    """q-effective diameter from a neighborhood-function curve: the
    (linearly interpolated) smallest h with N(h) ≥ q·N(r_max) — the
    standard ANF/HyperANF summary statistic."""
    if not curve:
        raise ValueError("effective_diameter: empty curve")
    target = q * curve[-1][1]
    prev_h, prev_n = curve[0]
    if prev_n >= target:
        return float(prev_h)
    for h, n in curve[1:]:
        if n >= target:
            if n == prev_n:
                return float(h)
            return prev_h + (target - prev_n) / (n - prev_n) * (h - prev_h)
        prev_h, prev_n = h, n
    return float(curve[-1][0])
