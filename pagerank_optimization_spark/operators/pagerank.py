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
- csr (``kernel="csr-blocks"``) — one CSR block (the
  tuned_variant_csr.c:179-229 counting-sort layout rebuilt as numpy
  inside Arrow) over a driver-held rank vector. See
  operators.pagerank_csr.

A kernel owns its start vector and its physical supersteps, over its own
key space (the entity id for join-agg, the dense vid for csr):
``supersteps`` (the record iterator below), ``to_frame(state) -> (key,
pr)`` for a checkpoint save and ``result()``, the final ranks. The loop
owns everything else, once: resume and the bitwise restore of the
loop-carried dangling mass, the metrics row, the checkpoint save, the
convergence test and releasing per-call state.

Record-iterator contract: ``kern.supersteps(ranks, dm, x0=, steps=, tol=,
every_state=)`` gets the resumed ranks and their recorded dangling mass,
or ``None, None`` for a fresh run from ``x0``, else the reset
distribution, else uniform 1/n. It yields one ``Superstep`` record per
superstep: at most ``steps``, none after the first whose delta is
``reached`` at ``tol`` (``tol=None``: exactly ``steps``); the loop reads
``converged`` off the last one. join-agg runs one ``step`` job per
record. csr runs the whole call in one task unless ``every_state`` (a
checkpointer needs each superstep's state), then one task per record.

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
    """One superstep's record, as a kernel's ``supersteps`` yields it:
    the rank state after it (None from a one-task csr run, which keeps its
    ranks in the task), the dangling mass it started from and ended with,
    and ``wall_ms``: the driver wall time of its job, or, in a one-task
    csr run, its time inside the task (the layout build and the job's
    dispatch are then set-up)."""

    state: Any
    l1_delta: float
    dangling_mass: float
    dangling_mass_next: float
    wall_ms: float


def reached(delta: float, tol: float | None) -> bool:
    """The convergence rule: L1 delta ≤ tol; ``tol=None`` (fixed_iters)
    never stops early. Shared by the per-job record iterator and the
    one-task loop so both stop on the same superstep."""
    return tol is not None and delta <= tol


@dataclass
class PageRankResult:
    ranks: DataFrame
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    metrics: list[dict[str, Any]] = field(default_factory=list)


# the x0 and reset contract of every kernel: a positive mass on graph vertices
NO_RESET_MASS = ("reset distribution has no positive weight on any graph vertex "
                 "(check ids and weights)")
NO_X0_MASS = "x0 has no positive mass on any graph vertex"


def _require_mass(total: float | None, what: str) -> None:
    if not (total is not None and total > 0):
        raise ValueError(f"pagerank: {what}")


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
    from a better x0). On resume the first superstep's dangling mass is
    the value the interrupted run recorded (recomputing the sum could
    differ in the last ulp — sum order); a fresh run's comes from the
    kernel's start vector. Every superstep's mass comes out of the
    kernel's records, alongside the delta.
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

        deltas: list[float] = []
        metrics: list[dict[str, Any]] = []
        steps = 0 if done else k - start_iter
        records = kern.supersteps(
            ranks, dm, x0=x0, steps=steps, tol=stop_tol, every_state=checkpointer is not None
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
                    "dangling_mass": rec.dangling_mass,
                    "dangling_mass_next": rec.dangling_mass_next,
                    "n_partitions": kern.partitions,
                }
                metrics.append(row)
                if checkpointer is not None:
                    checkpointer.save(it, kern.to_frame(rec.state), row)
        converged = done or (bool(deltas) and reached(deltas[-1], stop_tol))
        ranks = kern.result()
    finally:
        kern.release()
    return PageRankResult(
        ranks=ranks,
        iterations=len(deltas) + start_iter,
        converged=converged,
        deltas=deltas,
        metrics=metrics,
    )


class _JoinAgg:
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
        # no out-edges (the reference lets their mass leak — pagerank.c:138-148
        # normalizes only non-empty columns; we redistribute)
        self.dangling = self.vertices.join(
            edges.select(F.col("src").alias(id_col)).distinct(), id_col, "left_anti"
        ).persist()
        self.n_dangling = self.dangling.count()
        self.reset = None
        if reset is not None:
            reset = self._normalized(reset, "weight", NO_RESET_MASS)
            reset = reset.withColumnRenamed("weight", "reset_w")
            self.reset = reset.repartition(partitions, id_col).persist()
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

    def _normalized(self, weights: DataFrame, col: str, what: str) -> DataFrame:
        """(id_col, col ≥ 0) restricted to graph vertices (weight on unknown
        ids drops) and scaled to sum 1."""
        weights = weights.select(self.key, col).join(self.vertices, self.key, "left_semi")
        total = weights.agg(F.sum(col)).collect()[0][0]
        _require_mass(total, what)
        return weights.withColumn(col, F.col(col) / F.lit(float(total)))

    def _canonical(self, df: DataFrame) -> DataFrame:
        # canonical physical layout for the rank vector: hash-partitioned on
        # the id, sorted within partitions. Makes the FP summation order of
        # every downstream agg reproducible, so a resumed run is BITWISE
        # equal to an uninterrupted one (not just allclose) — float64 sums
        # are order-sensitive in the last ulp.
        return df.repartition(self.partitions, self.key).sortWithinPartitions(self.key)

    def _start(self, x0: DataFrame | None) -> tuple[DataFrame, float]:
        """Fresh-run start vector over EVERY vertex (the dangling-mass carry
        assumes it covers the vertex set) and its dangling mass: ``x0``
        renormalized over the current graph, else the teleport
        distribution, else uniform 1/n (mass |D|/n, no job)."""
        key = self.key
        if x0 is None and self.reset is None:
            # x0 = 1/m uniform (pagerank.c:238; helper.c:79-84)
            return self.vertices.withColumn("pr", F.lit(1.0 / self.n)), self.n_dangling / self.n
        if x0 is not None:
            # warm start (incremental recompute after a graph delta): the
            # fixed point of the new graph is near the old one, so seeding
            # with the previous ranks cuts iterations-to-tol (tested: an
            # exact fixed-point seed converges in 1 superstep)
            start = self._normalized(x0, "pr", NO_X0_MASS)
        else:
            start = self.reset.withColumnRenamed("reset_w", "pr")
        ranks = self.vertices.join(start, key, "left").select(
            key, F.coalesce(F.col("pr"), F.lit(0.0)).alias("pr")
        )
        return ranks, self._dangling_mass(ranks)

    def _dangling_mass(self, ranks: DataFrame) -> float:
        return (
            ranks.join(self.dangling, self.key, "left_semi")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
            .collect()[0][0]
        )

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

    def supersteps(self, ranks, dm, *, x0, steps: int, tol, every_state) -> Iterator[Superstep]:
        """The start vector (``_start``, or the resumed ``ranks``) is built
        here; then one ``step`` job per record, wall time measured on the
        driver around it; stops after the record whose delta is
        ``reached`` at ``tol``. Every record's state is live, so
        ``every_state`` needs nothing extra."""
        if ranks is None:
            ranks, dm = self._start(x0)
        elif dm is None:
            dm = self._dangling_mass(ranks)
        self.state = self._canonical(ranks).localCheckpoint(eager=True)
        return self._steps(float(dm), steps, tol)

    def _steps(self, dm: float, steps: int, tol: float | None) -> Iterator[Superstep]:
        for _ in range(steps):
            t0 = time.monotonic()
            self.state, delta, dm_next = self.step(self.state, dm)
            dm, dm_in = float(dm_next), dm
            yield Superstep(self.state, float(delta), dm_in, dm, (time.monotonic() - t0) * 1000.0)
            if reached(float(delta), tol):
                return

    def to_frame(self, ranks: DataFrame) -> DataFrame:
        return ranks.select(self.key, "pr")

    def result(self) -> DataFrame:
        return self.to_frame(self.state)

    def release(self) -> None:
        for df in (self.flagged, self.edges, self.dangling, self.vertices, self.hubs, self.reset):
            if df is not None:
                df.unpersist()


def resolve_auto_kernel(n_vertices: int) -> str:
    """kernel="auto" dispatch rule on the vertex rows counted by ``_Csr``'s
    sizing job: csr-blocks up to BROADCAST_ROW_LIMIT, join-agg above it
    (and whenever ``_Csr`` raises LayoutTooLarge: the layout would exceed
    one Spark row). Below the limit a csr call is one sizing job plus one
    zero-exchange Arrow task, and its superstep wins on compute throughput
    (2.36M vs 1.77M edges/s/superstep on the 1.9M-edge R-MAT graph,
    BENCH/sweep.csv). Above it join-agg keeps the rank vector distributed
    in the JVM instead of in one task. At 1.1M vertices the csr kernel
    still led join-agg (BENCH/scale_mode_vm4_1100000.json,
    BENCH/AB_NOTES.md), so the limit is conservative; moving it needs runs
    at larger sizes."""
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
    "auto" sizes the graph with the csr kernel's one sizing job and picks
    by its vertex rows via resolve_auto_kernel: the zero-exchange csr
    kernel up to BROADCAST_ROW_LIMIT vertices, join-agg above it or when
    the csr layout would not fit in one Spark row. Without a checkpointer
    a csr call is that sizing job plus one Arrow task, and its ranks never
    reach the driver; with one, the rank vector is held on the driver
    between one-superstep tasks.

    ``hub_split_degree``: "auto" or None (join-agg kernel only). "auto"
    probes the OUT-degree histogram once and splits hub sources' edge
    lists over deterministic salts when max outdeg exceeds both ratio·p99
    and a floor — the join side is where a hub becomes one task's whole
    partition every superstep (documented bound + measurements in
    plans.partitioning; AQE skew-join is OFF inside the loop, so this is
    the only in-loop skew defense). In-degree hubs need no split: the
    contribution sum has partial+final HashAggregate. The csr-blocks
    kernel needs no salting: a hub's edges are one contiguous CSR
    segment, reduced vectorized inside the one csr task.

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

    kern = None
    if kernel in ("auto", "csr-blocks"):
        from pagerank_optimization_spark.operators.pagerank_csr import LayoutTooLarge, _Csr

        # "auto" decides on the vertex rows of _Csr's sizing job; no
        # separate |V| probe
        try:
            kern = _Csr(vertices, edges, id_col=id_col, damping=damping, reset=reset)
        except LayoutTooLarge:
            if kernel != "auto":
                raise
        if kernel == "auto" and kern is not None and resolve_auto_kernel(kern.n_rows) == "join-agg":
            kern.release()
            kern = None
    elif kernel != "join-agg":
        raise ValueError(f"unknown kernel {kernel!r}")
    if kern is None:
        kern = _JoinAgg(
            vertices,
            edges,
            id_col=id_col,
            partitions=partitions,
            damping=damping,
            hub_split_degree=hub_split_degree,
            reset=reset,
        )
    return _drive(
        kern,
        tol=tol,
        max_iter=max_iter,
        fixed_iters=fixed_iters,
        checkpointer=checkpointer,
        x0=x0,
    )
