"""Transcripts → link graph.

Re-expresses the reference's graph-construction pipeline Spark-first:

- edge list (COO `coo_matrix_t`, sparse.h:58-66) → edge DataFrame
  ``edges(src, dst)`` — COO *is* the relational edge-list form;
- out-degree count (`degree[j]++` per edge, pagerank.c:118-135)
  → ``groupBy(src).count()`` hash aggregation;
- column-stochastic normalization `values[e] = 1/degree[col]`
  (pagerank.c:138-148) → broadcast equi-join + projection;
- edge direction matches the reference's column→row convention:
  an entry (i, j) means j → i, degree counted on the SOURCE.

Edges are derived from transcripts per the north rule:
- reply adjacency: within a conv_id under stable turn_idx ordering,
  turn t's entity → turn t−1's entity (Window + lag);
- tool invocation: assistant turn with non-null tool → tool entity;
- tool consumption: the turn FOLLOWING a tool invocation reads the tool's
  output → edge from that turn's entity to the tool entity (this closes
  conv–agent–tool 3-cycles; without it the graph is bipartite-ish and
  triangle counting is vacuous).
Duplicates collapse to a single 0/1 edge (the reference's Bernoulli
generator cannot emit multi-edges — one draw per cell, pagerank.c:180-208);
self-loops are kept (the generator does not exclude the diagonal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pagerank_optimization_spark.functions.entities import agent_key_expr, turn_entity_expr


def turn_entities(transcripts: DataFrame) -> DataFrame:
    """Annotate each turn with its graph entity. Prunes ``text`` — graph jobs
    never read it, so the parquet scan only materializes the id columns
    (column pruning is visible in `ReadSchema` of the physical plan)."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        turn_entity_expr(F.col("role"), F.col("conv_id"), F.col("tool")).alias("entity"),
    ).filter(F.col("entity").isNotNull())


def build_edges(transcripts: DataFrame) -> DataFrame:
    """Distinct directed edges (src, dst) from reply + tool adjacency."""
    turns = turn_entities(transcripts)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        turns.withColumn("prev_entity", F.lag("entity").over(w))
        .filter(F.col("prev_entity").isNotNull())
        .select(F.col("entity").alias("src"), F.col("prev_entity").alias("dst"))
    )
    tool_edges = turns.filter(
        (F.col("role") == "assistant") & F.col("tool").isNotNull()
    ).select(
        F.concat(F.lit("agent:"), agent_key_expr(F.col("conv_id"))).alias("src"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
    )
    followup = (
        turns.withColumn("next_entity", F.lead("entity").over(w))
        .filter(
            (F.col("role") == "assistant")
            & F.col("tool").isNotNull()
            & F.col("next_entity").isNotNull()
        )
        .select(
            F.col("next_entity").alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        )
    )
    return reply.unionByName(tool_edges).unionByName(followup).distinct()


def edge_multiplicities(transcripts: DataFrame) -> DataFrame:
    """Interaction-count multigraph view: → (src, dst, cnt) where cnt is the
    number of reply/tool/followup interactions between the pair. The binary
    view (build_edges) matches the reference's 0/1 matrices; this view
    weights PageRank by interaction volume (engine extension)."""
    turns = turn_entities(transcripts)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        turns.withColumn("prev_entity", F.lag("entity").over(w))
        .filter(F.col("prev_entity").isNotNull())
        .select(F.col("entity").alias("src"), F.col("prev_entity").alias("dst"))
    )
    tool_edges = turns.filter(
        (F.col("role") == "assistant") & F.col("tool").isNotNull()
    ).select(
        F.concat(F.lit("agent:"), agent_key_expr(F.col("conv_id"))).alias("src"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
    )
    followup = (
        turns.withColumn("next_entity", F.lead("entity").over(w))
        .filter(
            (F.col("role") == "assistant")
            & F.col("tool").isNotNull()
            & F.col("next_entity").isNotNull()
        )
        .select(
            F.col("next_entity").alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        )
    )
    return (
        reply.unionByName(tool_edges)
        .unionByName(followup)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )


def edge_decay_occurrences(transcripts: DataFrame) -> DataFrame:
    """Per-occurrence edge events with their acting-turn timestamp:
    → (src, dst, te) where ``te`` is NTZ-safe epoch seconds of the turn
    that CREATES the interaction (reply: the replying turn; tool
    invocation: the assistant turn; tool consumption: the following
    turn). Duplicates kept — each occurrence decays independently.

    Same three edge families as edge_multiplicities (multigraph view);
    the timestamp convention is "the later participant's clock", so a
    recency-weighted rank reflects when the interaction last HAPPENED,
    not when the counterpart first appeared."""
    from .sessions import _epoch_s

    sel = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        turn_entity_expr(F.col("role"), F.col("conv_id"), F.col("tool")).alias("entity"),
        _epoch_s(F.col("ts")).alias("te"),
    ).filter(F.col("entity").isNotNull())
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        sel.withColumn("prev_entity", F.lag("entity").over(w))
        .filter(F.col("prev_entity").isNotNull())
        .select(F.col("entity").alias("src"), F.col("prev_entity").alias("dst"), "te")
    )
    tool_edges = sel.filter(
        (F.col("role") == "assistant") & F.col("tool").isNotNull()
    ).select(
        F.concat(F.lit("agent:"), agent_key_expr(F.col("conv_id"))).alias("src"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        "te",
    )
    followup = (
        sel.withColumn("next_entity", F.lead("entity").over(w))
        .withColumn("next_te", F.lead("te").over(w))
        .filter(
            (F.col("role") == "assistant")
            & F.col("tool").isNotNull()
            & F.col("next_entity").isNotNull()
        )
        .select(
            F.col("next_entity").alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
            F.col("next_te").alias("te"),
        )
    )
    return reply.unionByName(tool_edges).unionByName(followup)


def edge_decay_weights(transcripts: DataFrame, *, halflife_s: float) -> DataFrame:
    """Recency-weighted multigraph: → (src, dst, w) with
    w = Σ_occurrences 0.5^((tmax_src − te) / halflife_s) — each
    interaction's vote halves every ``halflife_s`` seconds of age.

    The reference decay point ``tmax_src`` is the source's OWN latest
    activity, not the global corpus max: per-source normalization
    (build_graph row-stochastic division) makes the two mathematically
    identical — every weight in a row shares the factor
    0.5^((tmax_global − tmax_src)/hl), which cancels — but the per-source
    anchor never underflows, no matter how stale a source is relative to
    the corpus head (0.5^((months)/hl) in float64 is exactly 0, which
    would turn a stale row into 0/0 = NaN under a global anchor).

    Scale shape: one window pass for occurrences (the graph build's
    existing shuffle), then two map-side-combinable aggs keyed by src and
    one |V|-sized join — same plan family as edge_weights="count"."""
    if halflife_s <= 0:
        raise ValueError(f"edge_decay_weights: halflife_s must be > 0, got {halflife_s}")
    occ = edge_decay_occurrences(transcripts)
    smax = occ.groupBy("src").agg(F.max("te").alias("tmax"))
    return (
        occ.join(smax, "src")
        .groupBy("src", "dst")
        .agg(
            F.sum(
                F.pow(F.lit(0.5), (F.col("tmax") - F.col("te")) / F.lit(float(halflife_s)))
            ).alias("w")
        )
    )


def build_vertices(transcripts: DataFrame, edges: DataFrame) -> DataFrame:
    """Distinct entity vertices: every turn entity plus every edge endpoint
    (single-turn conversations yield isolated — dangling — vertices, which
    the PageRank kernel must handle; the reference leaks their mass,
    our engine redistributes it, see operators.pagerank)."""
    turns = turn_entities(transcripts).select("entity")
    ends = edges.select(F.col("src").alias("entity")).unionByName(
        edges.select(F.col("dst").alias("entity"))
    )
    return turns.unionByName(ends).distinct()


def out_degrees(edges: DataFrame) -> DataFrame:
    """outdeg per source — `degree[j]++` (pagerank.c:118-135) as a hash agg
    (partial map-side + final reduce-side combine is automatic — the Spark
    analog of the reference's OpenMP array reduction,
    tuned_variant_openmp.c:75-77)."""
    return edges.groupBy(F.col("src").alias("entity")).agg(F.count("*").alias("outdeg"))


def normalize_edges(edges: DataFrame, outdeg: DataFrame | None = None) -> DataFrame:
    """weight = 1/outdeg(src) (pagerank.c:138-148) → column-stochastic edges.

    Default path (r6, guide §2.4 "remove shuffles outright"): the degree is
    an unbounded COUNT window over the src partitioning — ONE exchange of
    the edge list, no degree aggregate, no |V|-sized join side at all (the
    old agg+join plan paid the degree shuffle PLUS the join, and at 10^9
    vertices its non-broadcastable degree table was the join hazard the
    AQE gating managed; the window has no table to gate). Same value:
    count(*) over (partition by src) ≡ the join's outdeg.

    An explicitly-passed ``outdeg`` keeps the join formulation (callers
    that already computed degrees reuse them; plan-tested in
    tests/test_partitioning.py)."""
    if outdeg is None:
        w = W.partitionBy("src")
        return edges.select(
            "src", "dst", (F.lit(1.0) / F.count(F.lit(1)).over(w)).alias("weight")
        )
    return (
        edges.join(outdeg.withColumnRenamed("entity", "src"), "src", "inner")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("weight"))
    )


def build_graph(
    transcripts: DataFrame,
    *,
    edge_weights: str = "binary",
    decay_halflife_s: float = 21600.0,
) -> tuple[DataFrame, DataFrame]:
    """transcripts → (vertices, weighted edges). The Spark analog of
    `initialize_multiformat_graph` (pagerank.c:279-305).

    ``edge_weights``: "binary" (default — duplicates collapse, 1/outdeg
    weights, reference parity), "count" (multigraph — weight proportional
    to interaction multiplicity, row-stochastic per source), or "decay"
    (recency-weighted multigraph — each interaction's vote halves every
    ``decay_halflife_s`` seconds of age, row-stochastic per source; "who
    matters LATELY" instead of "who ever mattered").
    """
    # The raw edge set feeds THREE consumers (weight normalization reads it
    # once as a window; build_vertices reads both endpoint columns), and
    # callers typically materialize vertices and edges as separate actions —
    # without truncation the whole window-over-transcripts lineage runs once
    # per consumer. One eager localCheckpoint here makes it a single pass
    # (r6; measured graph_build 10.9 s → ~5 s at sf0.1). Blocks are |E|-sized
    # and reclaimed by the ContextCleaner once unreferenced.
    if edge_weights == "binary":
        edges = build_edges(transcripts).localCheckpoint(eager=True)
        vertices = build_vertices(transcripts, edges)
        return vertices, normalize_edges(edges)
    if edge_weights == "count":
        multi = edge_multiplicities(transcripts).localCheckpoint(eager=True)
        vertices = build_vertices(transcripts, multi)
        # row-stochastic per source: SUM window over the src partitioning —
        # one exchange, no |V|-sized totals join (same plan move as
        # normalize_edges' count window; identical values)
        w = W.partitionBy("src")
        weighted = multi.select(
            "src", "dst", (F.col("cnt") / F.sum("cnt").over(w)).alias("weight")
        )
        return vertices, weighted
    if edge_weights != "decay":
        raise ValueError(f"unknown edge_weights {edge_weights!r}")
    dw = edge_decay_weights(transcripts, halflife_s=decay_halflife_s).localCheckpoint(
        eager=True
    )
    vertices = build_vertices(transcripts, dw)
    w = W.partitionBy("src")
    weighted = dw.select(
        "src", "dst", (F.col("w") / F.sum("w").over(w)).alias("weight")
    )
    return vertices, weighted


def vertex_ids(
    vertices: DataFrame, *, partitions: int | None = None, eager: bool = True
) -> DataFrame:
    """Deterministic dense vid per entity: vid = rank of entity in global
    sorted order, 0-based LongType (the reference's int32 ids,
    sparse.h:63-64, are a scale limit we deliberately do not copy).

    DISTRIBUTED id assignment — no single-partition sort. The naive
    `row_number().over(Window.orderBy(entity))` funnels all |V| rows through
    one task (Exchange SinglePartition); instead:

      1. range-partition by entity (partition i's entities all sort before
         partition i+1's — non-overlapping key ranges);
      2. count rows per partition (one tiny P-row collect) and prefix-sum
         into per-partition base offsets on the driver;
      3. vid = base_offset(partition) + local row_number within the
         partition (window PARTITIONED by the captured partition id — a
         distributed window, never a global one).

    The result is exactly the global sorted rank regardless of where the
    range sampler places boundaries, so the entity→vid contract is stable
    across parallelism levels and runs. zipWithIndex-over-sorted-partitions,
    DataFrame-native.

    ``eager=True`` (default) localCheckpoints the result — callers join
    the map more than once; ``eager=False`` returns the lazy plan as a
    PLAN-AUDIT-ONLY hook (tests assert it contains no single-partition
    exchange) — do not execute it: a lazy re-materialization re-runs the
    range sampler, whose boundaries are not stable across recomputations,
    and would mis-assign vids against the counted offsets."""
    spark = vertices.sparkSession
    P = partitions or spark.sparkContext.defaultParallelism
    # capture the physical partition id as data; persist so the counts pass
    # and the assignment pass see the same layout (range placement is
    # deterministic anyway — fixed sampler seed per partition index — but
    # the persist saves the second computation)
    ranged = (
        vertices.select("entity")
        .repartitionByRange(P, "entity")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("_pid").count().collect()  # ≤ P rows — driver-safe
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    off_df = spark.createDataFrame(offsets, "_pid int, _base long")
    w = W.partitionBy("_pid").orderBy("entity")
    out = ranged.join(F.broadcast(off_df), "_pid").select(
        "entity",
        (F.col("_base") + F.row_number().over(w) - 1).cast("long").alias("vid"),
    )
    if eager:
        out = out.localCheckpoint(eager=True)  # callers join it more than once
    # the counts pass is done with the cache either way; in eager mode the
    # checkpoint above also materialized the assignment from the SAME cached
    # layout (required: range-sampler boundaries are NOT stable across
    # recomputations — offsets from one pass + row_numbers from another
    # would mis-assign vids). eager=False is therefore a PLAN-AUDIT-ONLY
    # mode: inspect the returned plan, do not execute it.
    ranged.unpersist()
    return out
