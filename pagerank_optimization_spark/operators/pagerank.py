"""PageRank power iteration — the reference's kernel, Spark-first.

The reference computes `y[i] += A[i][j] * x[j]` per COO entry
(tuned_variant_baseline.c:83-90) inside a fixed-k ping-pong loop
(tuned_variant_baseline.c:107-148), with NO damping, NO dangling handling
and NO convergence test — dangling columns leak mass. Per the north rule we
implement the full algorithm: damping 0.85, dangling-mass redistribution,
L1-delta convergence (≤1e-6), float64 throughout (the reference's float32
is why its own differential bar is only 1e-4, verify_op.c:11).

ONE superstep loop (``_drive``) runs two kernels, differential-tested
against each other (mirroring the reference's REF/TST macro-dispatch
harness, verify_op.c:196-239):

- ``join-agg`` (``_JoinAgg``, here) — edges ⋈ ranks ON src, then
  groupBy(dst).sum. Pure DataFrame ops: Catalyst picks the physical join,
  partial+final hash aggregation subsumes the OpenMP array reduction
  (tuned_variant_openmp.c:75-77). Edges are pre-repartitioned by the join
  key and cached, so per-superstep only the |V|-sized rank frontier
  shuffles — the big relation stays put (exchange reuse).
- csr (``kernel="csr-blocks"``) — per-bucket CSR blocks (the
  tuned_variant_csr.c:179-229 counting-sort layout rebuilt as numpy
  inside Arrow) over a driver-held rank vector. See
  operators.pagerank_csr.

A kernel owns only its physical superstep: ``init(ranks) -> state``,
``step(state, dm) -> (state, l1_delta, next_dm)`` and
``to_frame(state) -> (key, pr)``, over its own key space (the entity id
for join-agg, the dense vid for csr). The loop owns everything else, once:
resume and the bitwise restore of the loop-carried dangling mass, the
x0/reset start vector (normalized by ``_normalized`` in the kernel's key
space), the metrics row, the checkpoint save, the convergence test and
releasing per-call state.

Record-iterator contract: the loop consumes
``kern.supersteps(state, dm, steps=, tol=, every_state=)``, which yields
one ``Superstep`` record (state, l1_delta, dangling_mass_next, wall_ms)
per superstep run. The iterator alone decides when the loop stops: at
most ``steps`` records, and none after the first whose delta is
``reached`` at ``tol`` (``tol=None``: exactly ``steps``); the loop only
reads ``converged`` off the last record. ``wall_ms`` is driver wall time
of the job(s) behind the records. The default (``_Kernel.supersteps``)
runs one ``step`` job per record, so each record's state is live when it
is yielded. A kernel may instead run the whole loop in one task when
``every_state`` is False, i.e. no checkpointer needs each superstep's
state (the csr kernel does when its layout is one bucket): its
records then carry the one job's time split evenly over them, and a
state only on the last one. Either way the loop builds every metrics row
itself from the records.

Superstep lifecycle (lineage hygiene): each iterate is localCheckpoint'ed
(or durably checkpointed via a CheckpointManager) — the DataFrame analog of
the reference's ping-pong buffer swap (pagerank.h:40-45) that also cuts the
otherwise linearly-growing plan.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Iterator, Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
TOL = 1.0e-6


@dataclass(frozen=True)
class Superstep:
    """One superstep's record, as a kernel's ``supersteps`` yields it.
    ``state`` is the kernel's rank state after the superstep (None on the
    non-final records of a one-task run, which holds only the final
    vector); ``wall_ms`` is the driver wall time of the superstep's job,
    or a one-task run's job time over its record count."""

    state: Any
    l1_delta: float
    dangling_mass_next: float
    wall_ms: float


def reached(delta: float, tol: float | None) -> bool:
    """The convergence rule: L1 delta ≤ tol; ``tol=None`` (fixed_iters)
    never stops early. Shared by the per-job record iterator and the
    one-task loop so both stop on the same superstep."""
    return tol is not None and delta <= tol


class _Kernel:
    """Default record iterator: one ``step`` job per superstep, wall time
    measured on the driver around it; stops after the record whose delta
    is ``reached`` at ``tol``."""

    def supersteps(
        self, state, dm: float, *, steps: int, tol: float | None, every_state: bool
    ) -> Iterator[Superstep]:
        for _ in range(steps):
            t0 = time.monotonic()
            state, delta, dm = self.step(state, dm)
            yield Superstep(state, float(delta), float(dm), (time.monotonic() - t0) * 1000.0)
            if reached(float(delta), tol):
                return


@dataclass
class PageRankResult:
    ranks: DataFrame
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    metrics: list[dict[str, Any]] = field(default_factory=list)


def _normalized(kern, weights: DataFrame, col: str, what: str) -> DataFrame:
    """(id_col, col ≥ 0) → (key, col) in the kernel's key space, restricted
    to graph vertices (weight on unknown ids drops) and scaled to sum 1 —
    the x0 and reset contract of every kernel."""
    weights = kern.keyed(weights, col)
    total = weights.agg(F.sum(col)).collect()[0][0]
    if not total or total <= 0:
        raise ValueError(f"pagerank: {what}")
    return weights.withColumn(col, F.col(col) / F.lit(float(total)))


def _teleport(kern, reset: DataFrame) -> DataFrame:
    """Personalized teleport distribution (key, reset_w), summing to 1."""
    return _normalized(
        kern,
        reset,
        "weight",
        "reset distribution has no positive weight on any graph vertex "
        "(check ids and weights)",
    ).withColumnRenamed("weight", "reset_w")


def _start_vector(kern, x0: DataFrame | None) -> DataFrame | None:
    """Fresh-run x0 in the kernel's key space, densified over EVERY vertex
    (the dangling-mass carry assumes the rank vector covers the vertex
    set): a warm ``x0`` renormalized over the current graph, else the
    personalized teleport distribution, else None for uniform 1/n."""
    if x0 is not None:
        # warm start (incremental recompute after a graph delta): the fixed
        # point of the new graph is near the old one, so seeding with the
        # previous ranks cuts iterations-to-tol (tested: an exact
        # fixed-point seed converges in 1 superstep)
        start = _normalized(kern, x0, "pr", "x0 has no positive mass on any graph vertex")
    elif kern.reset is not None:
        start = kern.reset.withColumnRenamed("reset_w", "pr")
    else:
        return None
    return kern.vertices.join(start, kern.key, "left").select(
        kern.key, F.coalesce(F.col("pr"), F.lit(0.0)).alias("pr")
    )


def _drive(
    kern,
    *,
    tol: float,
    max_iter: int,
    fixed_iters: int | None,
    checkpointer=None,
    x0: DataFrame | None = None,
) -> PageRankResult:
    """The superstep loop of every kernel. A ``checkpointer`` resume takes
    precedence over ``x0`` (resume is bitwise; warm start is a fresh run
    from a better x0). The dangling mass of the first superstep is |D|/n
    for the uniform x0 (no job), the value the interrupted run recorded on
    resume (recomputing the sum could differ in the last ulp — sum order),
    else one scalar semi-join agg over the start vector. Every later
    superstep's mass comes out of the kernel's step, alongside the delta.
    A resumed run whose recorded delta already ``reached`` tol runs no
    superstep: it returns the saved ranks, converged."""
    from pagerank_optimization_spark.session import iterative_conf

    k = fixed_iters if fixed_iters is not None else max_iter
    stop_tol = None if fixed_iters is not None else tol
    try:
        start_iter, ranks, dm, done = 0, None, None, False
        if checkpointer is not None:
            resumed = checkpointer.resume()
            if resumed is not None:
                start_iter, ranks = resumed
                last = checkpointer.last_metrics() or {}
                dm = last.get("dangling_mass_next")
                done = reached(last.get("l1_delta", float("inf")), stop_tol)
        if ranks is None:
            ranks = _start_vector(kern, x0)
            if ranks is None:
                dm = kern.n_dangling / kern.n
        if dm is None:
            dm = (
                ranks.join(kern.dangling, kern.key, "left_semi")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
                .collect()[0][0]
            )
        dm = float(dm)
        state = kern.init(ranks)

        deltas: list[float] = []
        metrics: list[dict[str, Any]] = []
        records = kern.supersteps(
            state,
            dm,
            steps=0 if done else k - start_iter,
            tol=stop_tol,
            every_state=checkpointer is not None,
        )
        # shuffle width aligned with the kernel's layout (r6): in-loop
        # groupBys land directly on the rank vector's partitioning
        with iterative_conf(kern.spark, shuffle_partitions=kern.partitions):
            for it, rec in enumerate(records, start_iter):
                deltas.append(rec.l1_delta)
                row = {
                    "superstep": it,
                    "l1_delta": rec.l1_delta,
                    "edges_processed": int(kern.nnz),
                    "wall_ms": rec.wall_ms,
                    "dangling_mass": dm,
                    "dangling_mass_next": rec.dangling_mass_next,
                    "n_partitions": kern.partitions,
                }
                metrics.append(row)
                state = rec.state
                if checkpointer is not None:
                    checkpointer.save(it, kern.to_frame(state), row)
                dm = rec.dangling_mass_next
        converged = done or (bool(deltas) and reached(deltas[-1], stop_tol))
        ranks = kern.result(state)
    finally:
        kern.release()
    return PageRankResult(
        ranks=ranks,
        iterations=len(deltas) + start_iter,
        converged=converged,
        deltas=deltas,
        metrics=metrics,
    )


def _dangling_of(vertices: DataFrame, edges: DataFrame, id_col: str) -> DataFrame:
    """Vertices with no outgoing edges (the reference lets their mass leak —
    pagerank.c:138-148 normalizes only non-empty columns; we redistribute)."""
    return vertices.join(
        edges.select(F.col("src").alias(id_col)).distinct(), id_col, "left_anti"
    )


class _JoinAgg(_Kernel):
    """join-agg kernel in entity-id space. Setup is the one-time layout
    decision — the Spark analog of DISTRIBUTE_DATA
    (tuned_variant_baseline.c:247-324): co-partition edges on the join key
    once; every superstep's join reuses this exchange and only the rank
    frontier shuffles."""

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        *,
        id_col: str,
        partitions: int,
        damping: float,
        hub_split_degree: Literal["auto"] | None,
        reset: DataFrame | None,
    ) -> None:
        from pagerank_optimization_spark.plans import partitioning

        self.spark = vertices.sparkSession
        self.key, self.damping = id_col, damping
        self.hubs = None
        if hub_split_degree == "auto":
            # out-degree histogram probe: the join side is where a hub
            # becomes one task's whole edge list (documented bound +
            # measured evidence in plans.partitioning)
            thr = partitioning.auto_hub_split_degree(edges)
            if thr is not None:
                edges, hubs = partitioning.with_src_degree_salt(edges, max_deg=thr)
                self.hubs = hubs.persist()
        keys = ("src", "ssalt") if self.hubs is not None else ("src",)
        edges = edges.repartition(partitions, *keys).persist()
        self.nnz = edges.count()
        # scale-adaptive loop width (r6, guide §2.2): the caller's value is
        # the cluster-sized CAP; the loop runs at what |E| needs. When the
        # data is small, re-bucket the already-cached edge list once (a
        # |E|-row reshuffle of cached rows) and every superstep stage drops
        # from `partitions` tasks to the data-sized count.
        p_eff = partitioning.effective_partitions(partitions, self.nnz)
        if p_eff != partitions:
            wide = edges
            edges = wide.repartition(p_eff, *keys).persist()
            edges.count()
            wide.unpersist()
            partitions = p_eff
        self.edges, self.partitions = edges, partitions
        # vertices co-partitioned with the canonical rank layout: the
        # per-superstep left join (restore zero-contribution vertices, P2 of
        # SURVEY §2.2) then never re-shuffles the vertex side
        self.vertices = vertices.select(id_col).repartition(partitions, id_col).persist()
        self.n = self.vertices.count()
        if self.n == 0:
            raise ValueError("pagerank: empty vertex set (no entities derivable from input)")
        self.dangling = _dangling_of(self.vertices, edges, id_col).persist()
        self.n_dangling = self.dangling.count()
        self.reset = None
        if reset is not None:
            self.reset = _teleport(self, reset).repartition(partitions, id_col).persist()
        if self.hubs is not None:
            self._contribs = partitioning.src_salted_pagerank_step(edges, self.hubs, id_col)
        else:
            def contribs(ranks: DataFrame) -> DataFrame:
                return (
                    edges.join(ranks.withColumnRenamed(id_col, "src"), "src", "inner")
                    .groupBy(F.col("dst").alias(id_col))
                    .agg(F.sum(F.col("weight") * F.col("pr")).alias("contrib"))
                )

            self._contribs = contribs
        # vertex table with the dangling flag (and teleport weight) baked in,
        # computed once: the per-superstep plan is then ONE co-partitioned
        # join chain — no separate delta/dangling job touches the vector
        flagged = self.vertices.join(
            self.dangling.withColumn("is_dangling", F.lit(True)), id_col, "left"
        ).select(id_col, F.coalesce(F.col("is_dangling"), F.lit(False)).alias("is_dangling"))
        if self.reset is not None:
            flagged = flagged.join(self.reset, id_col, "left").select(
                id_col, "is_dangling", F.coalesce(F.col("reset_w"), F.lit(0.0)).alias("reset_w")
            )
        self.flagged = flagged.repartition(partitions, id_col).persist()
        self.flagged.count()

    def keyed(self, frame: DataFrame, col: str) -> DataFrame:
        return frame.select(self.key, col).join(self.vertices, self.key, "left_semi")

    def _canonical(self, df: DataFrame) -> DataFrame:
        # canonical physical layout for the rank vector: hash-partitioned on
        # the id, sorted within partitions. Makes the FP summation order of
        # every downstream agg reproducible, so a resumed run is BITWISE
        # equal to an uninterrupted one (not just allclose) — float64 sums
        # are order-sensitive in the last ulp.
        return df.repartition(self.partitions, self.key).sortWithinPartitions(self.key)

    def init(self, ranks: DataFrame | None) -> DataFrame:
        if ranks is None:
            # x0 = 1/m uniform (pagerank.c:238; helper.c:79-84)
            ranks = self.vertices.withColumn("pr", F.lit(1.0 / self.n))
        return self._canonical(ranks).localCheckpoint(eager=True)

    def step(self, ranks: DataFrame, dm: float):
        key, d, n = self.key, self.damping, self.n
        contribs = self._contribs(ranks.select(key, "pr"))
        if self.reset is not None:
            # teleport + dangling mass land on the reset distribution
            base_col = F.lit((1.0 - d) + d * dm) * F.col("reset_w")
        else:
            base_col = F.lit((1.0 - d) / n + d * dm / n)
        # NOTE superstep plan-shape invariant: the state df (``ranks``) is
        # referenced exactly ONCE in the update query (inside _contribs), and
        # the delta query joins two DISTINCT checkpoints. A plan that joins
        # the state df directly alongside an aggregate derived from it makes
        # Spark's self-join deduplication re-expand the checkpointed lineage
        # and per-superstep cost compounds ~2× per iteration (measured; see
        # tests/test_iteration_scaling.py).
        new_ranks = self.flagged.join(contribs, key, "left").select(
            key,
            (base_col + F.lit(d) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("pr"),
            "is_dangling",
        )
        # lazy checkpoint: materialized by the delta agg below — ONE Spark
        # job per superstep instead of two
        new_ranks = self._canonical(new_ranks).localCheckpoint(eager=False)
        # delta + next dangling mass in one scalar job over the two most
        # recent checkpoints (each referenced once)
        delta, next_dm = (
            new_ranks.join(ranks.select(key, F.col("pr").alias("pr_old")), key)
            .agg(
                F.sum(F.abs(F.col("pr") - F.col("pr_old"))).alias("delta"),
                F.coalesce(
                    F.sum(F.when(F.col("is_dangling"), F.col("pr")).otherwise(F.lit(0.0))),
                    F.lit(0.0),
                ).alias("dm"),
            )
            .collect()[0]
        )
        return new_ranks, delta, next_dm

    def to_frame(self, ranks: DataFrame) -> DataFrame:
        return ranks.select(self.key, "pr")

    result = to_frame

    def release(self) -> None:
        for df in (self.flagged, self.edges, self.dangling, self.vertices, self.hubs, self.reset):
            if df is not None:
                df.unpersist()


def resolve_auto_kernel(n_vertices: int) -> str:
    """kernel="auto" dispatch rule: csr-blocks up to BROADCAST_ROW_LIMIT
    vertices, join-agg above it. Below the limit the csr superstep is ONE
    zero-exchange Arrow job and wins on compute throughput (2.36M vs 1.77M
    edges/s/superstep on the 1.9M-edge R-MAT graph, BENCH/sweep.csv).
    Above it join-agg keeps the rank vector in the JVM instead of on the
    driver and pays no layout compile. At 1.1M vertices the csr kernel
    still led join-agg (BENCH/scale_mode_vm4_1100000.json,
    BENCH/AB_NOTES.md), so the limit is conservative; moving it needs
    runs at larger sizes."""
    from pagerank_optimization_spark.operators.pagerank_csr import BROADCAST_ROW_LIMIT

    return "csr-blocks" if n_vertices <= BROADCAST_ROW_LIMIT else "join-agg"


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "entity",
    damping: float = DAMPING,
    tol: float = TOL,
    max_iter: int = 100,
    fixed_iters: int | None = None,
    partitions: int | None = None,
    kernel: str = "join-agg",
    hub_split_degree: Literal["auto"] | None = None,
    reset: DataFrame | None = None,
    x0: DataFrame | None = None,
    checkpointer=None,
) -> PageRankResult:
    """Damped PageRank with dangling redistribution over weighted edges
    ``(src, dst, weight)`` (weight = 1/outdeg(src), column-stochastic).

    new_rank(v) = (1-d)/n + d * (Σ_{u→v} rank(u)·w(u,v) + dangling_mass/n)

    ``fixed_iters`` runs exactly K supersteps (oracle mode — matches the
    reference's fixed k0, tuned_variant_baseline.c:120); otherwise iterate
    to L1 delta ≤ tol. ``kernel`` ∈ {"join-agg", "csr-blocks", "auto"} —
    "auto" picks by |V| via resolve_auto_kernel: the zero-exchange csr
    kernel up to BROADCAST_ROW_LIMIT vertices, join-agg above it. The csr
    kernel keeps the rank vector on the driver at any |V|.

    ``hub_split_degree``: "auto" or None (join-agg kernel only). "auto"
    probes the OUT-degree histogram once and splits hub sources' edge
    lists over deterministic salts when max outdeg exceeds both ratio·p99
    and a floor — the join side is where a hub becomes one task's whole
    partition every superstep (documented bound + measurements in
    plans.partitioning; AQE skew-join is OFF inside the loop, so this is
    the only in-loop skew defense). In-degree hubs need no split: the
    contribution sum has partial+final HashAggregate. The csr-blocks
    kernel needs no salting: a hub's edges are contiguous CSR segments
    reduced vectorized inside evenly-sized buckets.

    ``reset``: personalized/topic-sensitive PageRank — a DataFrame
    (id_col, weight ≥ 0, any scale; normalized internally). Teleport and
    dangling mass land on this distribution instead of uniform; vertices
    absent from it get teleport weight 0. Supported by EVERY kernel —
    the dispatch contract is feature-uniform, like the reference's macro
    dispatch (build_test_rig.sh:37-48).

    ``x0``: warm-start rank vector (id_col, pr ≥ 0) — the incremental
    form for an evolving graph: seed with the PREVIOUS run's ranks (the
    shape ``result.ranks`` already has), densified over the current
    vertex set (new vertices 0) and renormalized. Near-fixed-point seeds
    cut iterations-to-tol by an order of magnitude on small deltas
    (tested); supported by every kernel. A ``checkpointer`` resume takes
    precedence — resume is the bitwise mid-run form, warm start the
    cross-run form. Resuming a run whose last saved superstep had
    already converged runs no superstep and returns the saved ranks.
    """
    if hub_split_degree not in ("auto", None):
        raise ValueError(f"hub_split_degree must be 'auto' or None, got {hub_split_degree!r}")
    partitions = partitions or vertices.sparkSession.sparkContext.defaultParallelism

    if kernel == "auto":
        from pagerank_optimization_spark.operators.pagerank_csr import (
            BROADCAST_ROW_LIMIT,
        )

        # the dispatch only needs "is |V| above the limit?", so probe with a
        # bounded count (CollectLimit short-circuits the scan after
        # limit+1 rows) instead of a full |V| count — at 10^9 vertices the
        # full count is a real job, and the csr path recounts exactly
        # anyway inside its vid assignment (round-3 VERDICT nit)
        probe = vertices.limit(BROADCAST_ROW_LIMIT + 1).count()
        kernel = resolve_auto_kernel(probe)
    if kernel == "csr-blocks":
        from pagerank_optimization_spark.operators.pagerank_csr import _Csr

        kern = _Csr(
            vertices,
            edges,
            id_col=id_col,
            partitions=partitions,
            damping=damping,
            reset=reset,
        )
    elif kernel == "join-agg":
        kern = _JoinAgg(
            vertices,
            edges,
            id_col=id_col,
            partitions=partitions,
            damping=damping,
            hub_split_degree=hub_split_degree,
            reset=reset,
        )
    else:
        raise ValueError(f"unknown kernel {kernel!r}")
    return _drive(
        kern,
        tol=tol,
        max_iter=max_iter,
        fixed_iters=fixed_iters,
        checkpointer=checkpointer,
        x0=x0,
    )
