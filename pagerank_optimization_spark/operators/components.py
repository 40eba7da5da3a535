"""Weakly connected components — min-label propagation over the same
gather-scatter substrate as PageRank (north_star: CC is a first-class
algorithm of the engine; the reference has no CC, its SpMV loop
tuned_variant_baseline.c:107-148 is the iteration pattern we generalize).

Labels are entity strings; the component label is the lexicographic-min
entity in the component — exact and deterministic (north rule: components
exact, not approximate).

Two modes:
- ``fixed_rounds=k`` — exactly k supersteps of PLAIN min-label propagation
  (oracle mode: matches an unrolled SQL formulation round-for-round even
  pre-convergence);
- default — min-label propagation PLUS pointer-doubling shortcutting
  (lbl(v) ← lbl(lbl(v)) each round), iterated until no label changes.
  Plain propagation needs O(diameter) rounds — a 10⁴-long reply chain at
  100× scale means 10⁴ supersteps; with doubling the covered distance
  roughly doubles per round, so convergence is O(log n) rounds (the
  classic pointer-jumping bound; same idea as large-star/small-star,
  Kiveris et al., "Connected Components in MapReduce and Beyond").
  Doubling is sound for min-labels: lbl(v) is always an existing entity
  with lbl(lbl(v)) ≤ lbl(v) ≤ v, and both are upper-bounded below by the
  true component min — the fixpoint is unchanged, only reached faster.

``checkpointer``: optional CheckpointManager — labels land durably per
round under the same commit protocol as PageRank ranks (labels are
discrete strings, so a resumed run is bitwise-identical for free); a
converged run resumed at its fixpoint runs no round (``start_labels``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: src→dst ∪ dst→src, distinct (a, b) pairs."""
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    rev = edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    return fwd.unionByName(rev).distinct()


def prepare_gather(sym: DataFrame, partitions: int, hub_split):
    """Build the per-round neighbor-gather join (shared by CC and LPA):
    ``gather(attr_b)`` inner-joins the symmetrized edges against a table
    UNIQUE on ``b`` (per-neighbor labels), returning (a, <payload cols>).

    Skew defense (the CC/LPA analog of PageRank's measured hub salting,
    plans.partitioning): the join shuffles by ``b``, so a power-law hub
    concentrates its whole adjacency in ONE task every round. When the
    degree probe fires (``hub_split="auto"``, or an explicit threshold),
    hub rows spread over ceil(deg/thr) deterministic salts and ONLY the
    hot neighbors' attribute rows replicate across their salt range — the
    per-task input is bounded by ~thr rows per key at ANY scale, and the
    replication volume is Σ n_salts ≈ |E|/thr.

    → (gather_fn, [persisted frames to unpersist after the loop])."""
    from pagerank_optimization_spark.plans.partitioning import (
        auto_hub_split_degree,
        salted_unique_side,
        with_key_degree_salt,
    )

    thr = None
    if hub_split == "auto":
        thr = auto_hub_split_degree(sym, key="b")
    elif hub_split is not None:
        thr = int(hub_split)
    if thr:
        salted, hubs = with_key_degree_salt(sym, key="b", hash_col="a", max_deg=thr)
        salted = salted.repartition(partitions, "b", "ssalt").persist()
        salted.count()
        # pin hubs (tiny by construction: ≤ |sym|/thr rows) BEFORE dropping
        # sym's cache — otherwise every round's gather re-derives it from
        # raw lineage (symmetrize union+distinct + groupBy over |E|) just
        # to broadcast a handful of rows (r4 ADVICE; the PageRank path
        # persists its hub table the same way, pagerank.py)
        hubs = hubs.persist()
        hubs.count()
        sym.unpersist()

        def gather(attr_b: DataFrame) -> DataFrame:
            return salted.join(salted_unique_side(attr_b, hubs, "b"), ["b", "ssalt"]).drop(
                "ssalt"
            )

        return gather, [salted, hubs]

    def gather(attr_b: DataFrame) -> DataFrame:
        return sym.join(attr_b, "b", "inner")

    return gather, [sym]


def round_setup(edges: DataFrame, partitions: int, hub_split):
    """The CC/LPA prologue: symmetrize, bucket by ``b`` and, when the
    data-sized count is smaller, re-bucket the cached edge list once
    (scale-adaptive loop width, r6: the caller's value caps, |E| decides)
    → (|sym|, partitions, *prepare_gather's (gather, pinned))."""
    from pagerank_optimization_spark.plans.partitioning import effective_partitions

    sym = symmetrize(edges).repartition(partitions, "b").persist()
    n_sym = sym.count()
    p_eff = effective_partitions(partitions, n_sym)
    if p_eff != partitions:
        wide = sym
        sym = wide.repartition(p_eff, "b").persist()
        sym.count()
        wide.unpersist()
    return n_sym, p_eff, *prepare_gather(sym, p_eff, hub_split)


def start_labels(vertices: DataFrame, col: str, checkpointer, rounds: int, stop_on_zero: bool):
    """(first round, labels): every vertex labelled by itself, or a
    ``checkpointer``'s resumed labels. When ``stop_on_zero`` (the run stops
    once a round changes no label) and the last saved round changed none,
    the fixpoint is reached: the first round is ``rounds``, so none runs."""
    resumed = checkpointer.resume() if checkpointer is not None else None
    if resumed is None:
        return 0, vertices.select("entity", F.col("entity").alias(col)).localCheckpoint(eager=True)
    start, labels = resumed
    if stop_on_zero and (checkpointer.last_metrics() or {}).get("l1_delta") == 0:
        start = rounds
    return start, labels.localCheckpoint(eager=True)


def _step(labels: DataFrame, gather) -> DataFrame:
    """new_lbl(v) = min(lbl(v), min_{u ~ v} lbl(u)) — a gather (join on the
    neighbor side) + scatter-min (groupBy agg), the CC analog of the SpMV
    gather-scatter (tuned_variant_baseline.c:83-90 with (+,*) → (min,id)).
    The scatter-min groupBy needs no salting: min is map-side combinable,
    so a hub ``a`` reduces to ≤ P partial rows before the shuffle."""
    neighbor_min = (
        gather(labels.withColumnRenamed("entity", "b"))
        .groupBy(F.col("a").alias("entity"))
        .agg(F.min("lbl").alias("nmin"))
    )
    return (
        labels.join(neighbor_min, "entity", "left")
        .select("entity", F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias("lbl"))
    )


# Pointer-doubling lookup salt bound: a label with more members than this
# gets its members' lookups spread over ceil(members/bound) salts. As a
# component converges its min label owns ~|C| rows — at 100× scale the
# unsalted lbl-keyed join funnels a giant component through ONE task. The
# hot-label table is ≤ |V|/bound rows by construction (broadcast-safe).
SHORTCUT_SALT_MEMBERS = 1_000_000


def _shortcut(labels: DataFrame, *, max_members: int | None = SHORTCUT_SALT_MEMBERS) -> DataFrame:
    """Pointer doubling: lbl(v) ← lbl(lbl(v)). lbl(v) is an existing entity
    (a min over entities), so the self-join on lbl = entity always hits;
    the left join + coalesce only guards degenerate inputs.

    The join key ``lbl`` degenerates as components converge (one label per
    component), so hot labels — detected per round by a map-side-combined
    count — are salted: members hash-spread over ceil(cnt/max_members)
    salts, the unique lookup side replicated across the hot range only.
    ``max_members=None`` skips the defense (plain join) — the caller gates
    on |V| ≤ bound, where no label can exceed the bound by pigeonhole, so
    small graphs pay zero extra per-round stages (measured: the per-round
    count agg + broadcast cost ~75% on a 13k-vertex bench graph where the
    hot-key hazard cannot exist)."""
    l2 = labels.select(F.col("entity").alias("lbl"), F.col("lbl").alias("_lbl2"))
    if max_members is None:
        return labels.join(l2, "lbl", "left").select(
            "entity", F.coalesce(F.col("_lbl2"), F.col("lbl")).alias("lbl")
        )
    from pagerank_optimization_spark.plans.partitioning import (
        salted_unique_side,
        with_key_degree_salt,
    )

    salted, hot = with_key_degree_salt(
        labels, key="lbl", hash_col="entity", max_deg=max_members
    )
    return salted.join(salted_unique_side(l2, hot, "lbl"), ["lbl", "ssalt"], "left").select(
        "entity", F.coalesce(F.col("_lbl2"), F.col("lbl")).alias("lbl")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    fixed_rounds: int | None = None,
    max_rounds: int = 200,
    partitions: int | None = None,
    hub_split="auto",
    shortcut_salt_members: int | None = SHORTCUT_SALT_MEMBERS,
    checkpointer=None,
) -> DataFrame:
    """→ DataFrame(entity, component) with component = min entity in the WCC.

    ``hub_split``: "auto" (default — one degree probe at setup; salts the
    per-round neighbor gather when the undirected degree histogram is
    hub-skewed), an int threshold, or None (off). ``shortcut_salt_members``:
    per-round hot-label salt bound for the pointer-doubling lookup (see
    _shortcut). Both defenses change plans only, never values."""
    spark = vertices.sparkSession
    n_sym, partitions, gather, pinned = round_setup(
        edges, partitions or spark.sparkContext.defaultParallelism, hub_split
    )
    # pigeonhole gate: with |V| ≤ the salt bound no label CAN exceed it, so
    # the per-round hot-label detection would be pure overhead — skip it.
    # Bounded CollectLimit probe, not a full |V| count (r4 ADVICE): scanning
    # bound+1 rows answers "are there more than bound vertices" without a
    # full-table job
    if (
        shortcut_salt_members is not None
        and vertices.limit(shortcut_salt_members + 1).count() <= shortcut_salt_members
    ):
        shortcut_salt_members = None

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    start_round, labels = start_labels(vertices, "lbl", checkpointer, rounds, fixed_rounds is None)

    from pagerank_optimization_spark.session import iterative_conf

    with iterative_conf(spark, shuffle_partitions=partitions):
        for it in range(start_round, rounds):
            t0 = time.monotonic()
            if fixed_rounds is None:
                # propagate + pointer-double; lazy checkpoint — materialized
                # by the changed-count job
                # persist the propagation result: the salted _shortcut reads
                # it three times (hot-label count agg, salted left side, and
                # the l2 lookup side) — without the pin each read would
                # recompute the gather join
                stepped = _step(labels, gather).persist()
                new_labels = _shortcut(
                    stepped, max_members=shortcut_salt_members
                ).localCheckpoint(eager=False)
                changed = (
                    new_labels.withColumnRenamed("lbl", "new_lbl")
                    .join(labels, "entity")
                    .filter(F.col("new_lbl") != F.col("lbl"))
                    .count()
                )
                stepped.unpersist()
                labels = new_labels
                if checkpointer is not None:
                    checkpointer.save(
                        it, labels,
                        {"superstep": it, "l1_delta": float(changed),
                         "edges_processed": n_sym,
                         "wall_ms": (time.monotonic() - t0) * 1000.0,
                         "n_partitions": partitions},
                    )
                if changed == 0:
                    break
            else:
                labels = _step(labels, gather).localCheckpoint(eager=True)
                if checkpointer is not None:
                    checkpointer.save(
                        it, labels,
                        {"superstep": it, "edges_processed": n_sym,
                         "wall_ms": (time.monotonic() - t0) * 1000.0,
                         "n_partitions": partitions},
                    )
    for df in pinned:
        df.unpersist()
    return labels.withColumnRenamed("lbl", "component")
