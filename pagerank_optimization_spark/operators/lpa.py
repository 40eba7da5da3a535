"""Synchronous label propagation (community detection) — north_star
algorithm #3. Deterministic by construction: each vertex adopts the most
frequent label among its undirected neighbors, ties broken by
lexicographic-min label (a total order, SURVEY.md §7 hard-part 5); a vertex
with no neighbors keeps its label. Synchronous LPA can oscillate on
bipartite structures, so the round count is capped (default 10) rather than
run to fixpoint — rounds are part of the operator's contract.
``until_stable=True`` adds an early stop: when a round changes no label the
loop exits (the remaining rounds would be identity — same changed-count
probe as connected_components), with ``rounds`` retained as the oscillation
cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pagerank_optimization_spark.operators.components import round_setup, start_labels


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = 10,
    until_stable: bool = False,
    partitions: int | None = None,
    hub_split="auto",
    checkpointer=None,
) -> DataFrame:
    """→ DataFrame(entity, label) after ``rounds`` synchronous supersteps.

    ``until_stable``: stop early when a round changes no label (labels at
    the fixpoint are identical to running all remaining rounds, so the
    fixed-rounds contract is preserved — the cap still bounds oscillation).
    ``hub_split``: "auto"/int/None — salts the per-round neighbor gather
    when the degree histogram is hub-skewed (components.prepare_gather;
    same defense as CC). The (entity, label) count agg and the argmax
    window after the gather are naturally bounded: the count is map-side
    combinable, and the window partition carries at most one row per
    distinct neighbor label.
    ``checkpointer``: optional CheckpointManager — labels land durably per
    round under the same commit protocol as PageRank ranks; a killed run
    resumes at the first unfinished round, bitwise-identical (labels are
    discrete strings). With ``until_stable`` a round's metrics row records
    its changed-label count as ``l1_delta``, as connected_components does,
    and a resumed run whose last saved round changed no label runs no
    round: it returns the saved labels."""
    import time

    spark = vertices.sparkSession
    n_sym, partitions, gather, pinned = round_setup(
        edges, partitions or spark.sparkContext.defaultParallelism, hub_split
    )
    start_round, labels = start_labels(vertices, "label", checkpointer, rounds, until_stable)

    from pagerank_optimization_spark.session import iterative_conf

    with iterative_conf(spark, shuffle_partitions=partitions):
        for it in range(start_round, rounds):
            t0 = time.monotonic()
            # gather neighbor labels, count per (vertex, label), pick argmax with
            # min-label tie-break via one window (count desc, label asc)
            neigh = (
                gather(labels.withColumnRenamed("entity", "b"))
                .groupBy(F.col("a").alias("entity"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            w = W.partitionBy("entity").orderBy(F.desc("cnt"), F.asc("label"))
            best = (
                neigh.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("entity", F.col("label").alias("new_label"))
            )
            new_labels = (
                labels.join(best, "entity", "left")
                .select("entity", F.coalesce(F.col("new_label"), F.col("label")).alias("label"))
                .localCheckpoint(eager=not until_stable)
            )
            changed = None
            if until_stable:
                # changed-count probe (components.connected_components pattern):
                # materializes the lazy checkpoint and reads the stop signal
                # in one job
                changed = (
                    new_labels.withColumnRenamed("label", "new_label")
                    .join(labels, "entity")
                    .filter(F.col("new_label") != F.col("label"))
                    .count()
                )
            labels = new_labels
            if checkpointer is not None:
                row = {"superstep": it, "edges_processed": n_sym,
                       "wall_ms": (time.monotonic() - t0) * 1000.0,
                       "n_partitions": partitions}
                if changed is not None:
                    row["l1_delta"] = float(changed)
                checkpointer.save(it, labels, row)
            if until_stable and changed == 0:
                break
    for df in pinned:
        df.unpersist()
    return labels
