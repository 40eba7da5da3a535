"""Vectorized CSR PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

Like the reference, this kernel (``_Csr``) builds ONE CSR matrix per call
and runs every superstep over it in place. An uncheckpointed call is one
sizing job (``_sizes``: |V| for ``kernel="auto"`` and the LayoutTooLarge
guard) plus ONE cogrouped Arrow task, so it crosses the JVM↔Python
boundary once. The task meets the entity-space edges with the side rows
(the vertex ids, the x0 and reset weights tagged beside them):

- ``compile_layout`` sorts the distinct ids (a vertex's dense vid is its
  position), maps the edge endpoints and the x0/reset rows to vids with
  ``pc.index_in``, sums and normalizes x0 and reset in vid order, and
  builds the CSR block: a deterministic (dst, src) lexsort (the counting
  sort of tuned_variant_csr.c:179-229 with a fixed total order, so a
  rebuilt block is bit-identical), indptr over the dst runs, each edge's
  source vid, and the dangling mask — the DISTRIBUTE_DATA moment
  (tuned_variant_baseline.c:247-324);
- ``run_supersteps`` loops ``csr_update`` (gather by source, segment sum
  via np.add.reduceat as in tuned_variant_csr.c:74-84, damping and
  teleport base) and ``loop_scalars`` (L1 delta and next dangling mass,
  summed in vid order) to ``steps`` or to the shared ``reached`` rule;
- the task emits one ``(entity, pr)`` row per vertex plus one side row:
  sizes, x0/reset masses and per-superstep records. The output is
  localCheckpointed and collecting the side row materializes it, so the
  rank vector never reaches the driver, which raises the "no positive
  weight" ValueErrors from the reported masses.

A checkpointed call needs every superstep's state on the driver: the same
task, run for 0 supersteps, emits the pickled layout as one cached row,
and each superstep is one ``mapInArrow`` task over it calling the same
``run_supersteps`` with ``steps=1``; one more task emits the ranks. Both
forms run ``csr_update`` in the same order from the same start vector,
so they agree bitwise and a resumed run equals an uninterrupted one.

No per-row Python anywhere (input_hint requirement): everything crossing
the JVM↔Python boundary is an Arrow batch, everything inside is numpy.
The run-length SIMD segmentation of the reference (`split_indices`,
tuned_variant_simd.c:186-242) is deliberately absent: Arrow batches give
full-width vectorization regardless of run lengths (SURVEY.md §4).
"""

from __future__ import annotations

import pickle
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pagerank_optimization_spark.operators.pagerank import (
    NO_RESET_MASS,
    NO_X0_MASS,
    Superstep,
    _require_mass,
    reached,
)
from pagerank_optimization_spark.session import iterative_conf

# kernel="auto" runs join-agg above this many vertex rows: there the rank
# vector and the layout of one csr task grow with |V|, while join-agg
# keeps the vector distributed in the JVM.
BROADCAST_ROW_LIMIT = 1_000_000

# The checkpointed form caches the layout as one Spark row, and a row holds
# at most ~2 GiB (its buffer is one JVM byte array); 1 MiB is left for the
# row's header and padding.
LAYOUT_BYTES_LIMIT = 2**31 - 2**20

# tags of the side rows cogrouped with the edges
VERTEX, X0, RESET = 0, 1, 2

# one record per superstep, in Superstep's field order
STEP_FIELDS = ("l1_delta", "dangling_mass", "dangling_mass_next", "wall_ms")
# a task's side row — vertex and CSR sizes, start masses (null: none
# given), the records, and on request the final vector (float64 bytes) or
# the pickled layout. Nullable throughout: rank rows carry a null one.
SIDE_TYPE = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("n", "nnz")]
    + [T.StructField(c, T.DoubleType()) for c in ("x0_mass", "reset_mass")]
    + [T.StructField(c, T.ArrayType(T.DoubleType())) for c in STEP_FIELDS]
    + [T.StructField(c, T.BinaryType()) for c in ("pr", "layout")]
)


def layout_bytes(n: int, n_edges: int, id_bytes: int) -> int:
    """Bound on the pickled layout: src and weight per edge; indptr, dst,
    reset, start and a mask byte per vertex; the ids' ``id_bytes``."""
    return 16 * n_edges + 33 * n + id_bytes + 8


class LayoutTooLarge(ValueError):
    """The csr layout would exceed LAYOUT_BYTES_LIMIT (one Spark row)."""


def _sizes(ids: DataFrame, edges: DataFrame) -> tuple[int, int, int]:
    """(vertex rows, edge rows, id bytes) in one job. A string id takes an
    8-byte slot plus its bytes padded to 8 (≤ 16 + octet_length), others 8."""
    string_ids = isinstance(ids.schema["entity"].dataType, (T.StringType, T.BinaryType))
    width = F.octet_length("entity") + 16 if string_ids else F.lit(8)
    sized = ids.select(F.lit(1).alias("v"), F.lit(0).alias("e"), width.alias("b")).unionByName(
        edges.select(F.lit(0).alias("v"), F.lit(1).alias("e"), F.lit(0).alias("b"))
    )
    return tuple(int(x or 0) for x in sized.agg(*(F.sum(c) for c in "veb")).collect()[0])


def csr_update(
    old: np.ndarray,
    blk: dict | None,
    mask: np.ndarray,
    reset_arr: np.ndarray | None,
    n_: int,
    d_: float,
    dm: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One superstep over the vid-ordered rank vector ``old``; ``blk``: the
    decoded CSR arrays (None: no edges). Gather by source, segment-sum
    over the lexsorted CSR (np.add.reduceat, tuned_variant_csr.c:74-84),
    scatter to the dense vector, damping + teleport/personalized base →
    (new, |new−old|, dangling rank per vertex)."""
    acc = np.zeros(len(old), dtype=np.float64)
    if blk is not None:
        contrib = blk["weight"] * old[blk["src"]]               # gather+mul
        acc[blk["dst"]] = np.add.reduceat(contrib, blk["indptr"][:-1])
    if reset_arr is not None:
        base = ((1.0 - d_) + d_ * dm) * reset_arr
    else:
        base = (1.0 - d_) / n_ + d_ * dm / n_
    new = base + d_ * acc
    return new, np.abs(new - old), np.where(mask, new, 0.0)


def loop_scalars(abs_delta: np.ndarray, dang_pr: np.ndarray) -> tuple[float, float]:
    """(L1 delta, next dangling mass): numpy sums over vid-ordered arrays —
    the fixed reduction order that keeps resume bitwise."""
    return float(abs_delta.sum()), float(dang_pr.sum())


def _densify(vtb, tag: int, ids) -> tuple[float, np.ndarray | None]:
    """The ``tag`` side rows' weights summed per vid (rows on ids that are
    not vertices drop; a null weight counts 0) → (mass, the dense vector
    scaled to sum 1, or None when the mass is not positive). Both sums run
    in vid order."""
    import pyarrow.compute as pc

    rows = vtb.filter(pc.equal(vtb["tag"], tag))
    vid = pc.index_in(rows["entity"], value_set=ids, skip_nulls=True)
    on = pc.is_valid(vid)
    dense = np.bincount(
        pc.filter(vid, on).to_numpy().astype(np.int64),
        weights=pc.filter(pc.fill_null(rows["w"], 0.0), on).to_numpy(),
        minlength=len(ids),
    ).astype(np.float64)
    mass = float(dense.sum())
    return mass, (dense / mass if mass > 0 else None)


def compile_layout(etb, vtb, *, x0: bool, reset: bool) -> dict:
    """The call's layout from the cogrouped Arrow tables: edges ``etb``
    (src, dst, weight) and side rows ``vtb`` (entity, tag, w). vid =
    position among the distinct VERTEX ids sorted in their native type
    (Arrow orders strings by UTF-8 bytes, as Spark does); an edge with an
    endpoint that is not a vertex drops. The CSR is a deterministic
    function of the edge SET (lexsort by (dst, src)), not of shuffle
    arrival order. ``x0``/``reset``: whether the call passed them (an
    empty one still reports mass 0). The start vector is the normalized
    x0, else the normalized reset, else None (uniform)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pc.unique(vtb.filter(pc.equal(vtb["tag"], VERTEX))["entity"])
    ids = ids.take(pc.sort_indices(ids, null_placement="at_start"))
    ends = pa.chunked_array(etb["src"].chunks + etb["dst"].chunks, ids.type)
    vid = pc.fill_null(pc.index_in(ends, value_set=ids, skip_nulls=True), -1)
    src, dst = np.split(vid.to_numpy().astype(np.int64), [etb.num_rows])
    keep = (src >= 0) & (dst >= 0)
    src, dst, w = src[keep], dst[keep], etb["weight"].to_numpy()[keep]
    mask = np.ones(len(ids), dtype=bool)  # dangling: no out-edge
    mask[src] = False
    csr = None
    if len(src):
        order = np.lexsort((src, dst))  # deterministic total order
        src, dst, w = src[order], dst[order], w[order]
        dst_unique, counts = np.unique(dst, return_counts=True)
        indptr = np.zeros(len(dst_unique) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        csr = {"src": src, "indptr": indptr, "dst": dst_unique, "weight": w}
    x0_mass, x0_vec = _densify(vtb, X0, ids) if x0 else (None, None)
    reset_mass, reset_vec = _densify(vtb, RESET, ids) if reset else (None, None)
    return {
        "ids": ids, "csr": csr, "nnz": len(src), "mask": mask,
        "x0_mass": x0_mass, "reset_mass": reset_mass,
        "reset": reset_vec, "start": x0_vec if x0 else reset_vec,
    }


def run_supersteps(
    lay: dict, pr: np.ndarray | None, dm: float | None, d_: float, steps: int, tol: float | None
) -> tuple[np.ndarray, list[tuple[float, float, float, float]]]:
    """Up to ``steps`` supersteps over the layout ``lay``, from the
    vid-ordered vector ``pr`` (None: the layout's start vector, uniform
    1/n without one) and the dangling mass ``dm`` (None: summed over
    ``pr`` in vid order; the uniform start's is exactly |D|/n). Each is
    ``csr_update`` + ``loop_scalars``, until ``steps`` ran or the delta
    ``reached`` tol → (final vector, one STEP_FIELDS record per superstep,
    ``wall_ms`` its time in this task)."""
    n_, mask = len(lay["mask"]), lay["mask"]
    if pr is None:
        pr = lay["start"]
        if pr is None:
            pr, dm = np.full(n_, 1.0 / n_), int(mask.sum()) / n_
    if dm is None:
        dm = float(np.where(mask, pr, 0.0).sum())
    recs = []
    for _ in range(steps):
        t0 = time.perf_counter()
        pr, abs_delta, dang_pr = csr_update(pr, lay["csr"], mask, lay["reset"], n_, d_, dm)
        delta, dm_next = loop_scalars(abs_delta, dang_pr)
        recs.append((delta, dm, dm_next, (time.perf_counter() - t0) * 1000.0))
        dm = dm_next
        if reached(delta, tol):
            break
    return pr, recs


def _emit(arrow_schema, lay: dict, pr, dm, d_: float, steps: int, tol, *,
          ranks: bool = False, state: bool = False, layout: bool = False):
    """Run ``run_supersteps`` (none when a start mass is not positive: the
    driver raises) and emit the task's output table: the rank rows if
    ``ranks``, then the side row, carrying the final vector if ``state``
    and the pickled layout if ``layout``."""
    import pyarrow as pa

    ok = all(m is None or m > 0 for m in (lay["x0_mass"], lay["reset_mass"]))
    pr, recs = run_supersteps(lay, pr, dm, d_, steps if ok else 0, tol)
    side = {
        "n": len(lay["mask"]), "nnz": lay["nnz"],
        "x0_mass": lay["x0_mass"], "reset_mass": lay["reset_mass"],
        **{c: [r[i] for r in recs] for i, c in enumerate(STEP_FIELDS)},
        "pr": pr.tobytes() if state else None,
        "layout": pickle.dumps(lay, protocol=5) if layout else None,
    }
    side_type, ids = arrow_schema.field("side").type, lay["ids"]
    tables = [pa.table({"entity": pa.nulls(1, ids.type), "pr": pa.nulls(1, pa.float64()),
                        "side": pa.array([side], side_type)})]
    if ranks:
        tables.insert(0, pa.table({"entity": ids, "pr": pr, "side": pa.nulls(len(ids), side_type)}))
    return pa.concat_tables([t.cast(arrow_schema) for t in tables])


def clear_compile_cache() -> None:
    """Does nothing: each csr call builds its own layout and frees it when
    the call returns, so no layout outlives a call. Kept because the
    benchmark harness (perfbench/workloads.py) still calls it."""


class _Csr:
    """The csr kernel, in dense-vid key space 0..n-1. The constructor runs
    the one sizing job over persisted projections of the inputs: it sets
    ``n_rows`` (vertex rows, for ``kernel="auto"``) and raises
    LayoutTooLarge (a ValueError) above LAYOUT_BYTES_LIMIT. ``supersteps``
    runs the one task, or, with ``every_state``, caches the layout row and
    runs one task per superstep from a driver-held vector shipped as one
    ``sc.broadcast``. The ranks match join-agg's to 1e-12 (SURVEY.md §5
    item 3); ``release`` unpersists what the call cached."""

    key = "vid"
    partitions = 1  # one task reads the one cogroup key
    _bc = None

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        *,
        id_col: str,
        damping: float,
        reset: DataFrame | None,
    ):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.id_col, self.damping, self.reset = id_col, float(damping), reset
        self.spark = vertices.sparkSession
        self.pr, self._ranks = None, None
        self.ids = vertices.select(F.col(id_col).alias("entity"))
        self.id_type = self.ids.schema["entity"].dataType
        # every task's output: an (entity, pr) row per vertex when it emits
        # ranks (side null), then the side row (entity and pr null; a
        # vertex id may itself be null)
        self.schema = T.StructType([T.StructField("entity", self.id_type),
                                    T.StructField("pr", T.DoubleType()),
                                    T.StructField("side", SIDE_TYPE)])
        self.arrow_schema = to_arrow_schema(self.schema)
        casts = {"src": self.id_type, "dst": self.id_type, "weight": T.DoubleType()}
        self.edges = edges.select(*(F.col(c).cast(t).alias(c) for c, t in casts.items()))
        self._cached = []
        try:
            # AQE off here and for every task: adaptive planning would split
            # each query into one job per shuffle stage (and run a lazily
            # checkpointed task's map stages at plan time)
            with iterative_conf(self.spark):
                # read by the sizing job and by the task
                self._cached = [self.ids.persist(), self.edges.persist()]
                self.n_rows, n_edges, id_bytes = _sizes(self.ids, self.edges)
            if self.n_rows == 0:
                raise ValueError("pagerank: empty vertex set (no entities derivable from input)")
            need = layout_bytes(self.n_rows, n_edges, id_bytes)
            if need > LAYOUT_BYTES_LIMIT:
                raise LayoutTooLarge(
                    f"pagerank: the csr layout of {self.n_rows} vertices and {n_edges} edges "
                    f"needs ~{need / 2**30:.1f} GiB, more than one Spark row holds "
                    f'({LAYOUT_BYTES_LIMIT} bytes); use kernel="join-agg"'
                )
        except BaseException:
            self.release()
            raise

    def _cogroup(self, x0: DataFrame | None, steps: int, tol, **emit) -> DataFrame:
        """The cogrouped task: the edges and the side rows (the vertex ids,
        tagged VERTEX; the reset and x0 weights, tagged RESET and X0) under
        one constant key, so one group and one task."""

        def tagged(frame: DataFrame, tag: int, w) -> DataFrame:
            return frame.select(
                F.col("entity").cast(self.id_type).alias("entity"),
                F.lit(tag).alias("tag"),
                w.cast("double").alias("w"),
            )

        side = tagged(self.ids, VERTEX, F.lit(None))
        for frame, col, tag in ((self.reset, "weight", RESET), (x0, "pr", X0)):
            if frame is not None:
                side = side.unionByName(
                    tagged(frame.withColumnRenamed(self.id_col, "entity"), tag, F.col(col))
                )
        arrow_schema, d_, has_x0, has_reset = (
            self.arrow_schema, self.damping, x0 is not None, self.reset is not None
        )

        def task(etb, vtb):  # captures no DataFrame: it ships to the task
            lay = compile_layout(etb, vtb, x0=has_x0, reset=has_reset)
            return _emit(arrow_schema, lay, None, None, d_, steps, tol, **emit)

        key = F.lit(0).alias("layout")  # aliased: a bare integer is a column ordinal
        # the cogroup shuffles its one key into spark.sql.shuffle.partitions
        # partitions, all but one empty; coalesce(1) reads them in one task
        return (
            self.edges.groupBy(key)
            .cogroup(side.groupBy(key))
            .applyInArrow(task, schema=self.schema)
            .coalesce(1)
        )

    def _side(self, out: DataFrame):
        """``out``'s side row, less the layout; collecting it materializes
        ``out``. Raises on a start mass that is not positive."""
        side = out.filter(F.col("side").isNotNull()).select("side.*").drop("layout").collect()[0]
        if self.reset is not None:
            _require_mass(side["reset_mass"], NO_RESET_MASS)
        if side["x0_mass"] is not None:
            _require_mass(side["x0_mass"], NO_X0_MASS)
        self.n, self.nnz = side["n"], side["nnz"]
        return side

    def _over_layout(self, dm, steps: int, **emit):
        """One task over the cached layout row from ``self.pr`` (None: the
        layout's start vector) → (its lazily checkpointed output, its side
        row)."""
        self._bc = bc = self.spark.sparkContext.broadcast(self.pr)
        arrow_schema, d_ = self.arrow_schema, self.damping

        def task(batches):
            import pyarrow as pa

            lay = pickle.loads(pa.Table.from_batches(list(batches))["layout"][0].as_py())
            yield from _emit(arrow_schema, lay, bc.value, dm, d_, steps, None, **emit).to_batches()

        out = self.layout.select("side.layout").mapInArrow(task, schema=self.schema)
        out = out.localCheckpoint(eager=False)
        side = self._side(out)
        bc.destroy()
        self._bc = None
        return out, side

    def _ranks_of(self, out: DataFrame) -> DataFrame:
        return out.filter(F.col("side").isNull()).select(F.col("entity").alias(self.id_col), "pr")

    def supersteps(self, ranks, dm, *, x0, steps: int, tol, every_state: bool):
        """The record iterator of operators.pagerank._drive, from the resumed
        ``(vid, pr)`` frame ``ranks`` or a fresh start. The one task, or the
        cached layout of the per-superstep form, runs here."""
        x0 = x0 if ranks is None else None
        with iterative_conf(self.spark):
            if not every_state:
                out = self._cogroup(x0, steps, tol, ranks=True).localCheckpoint(eager=False)
                side = self._side(out)
                self._ranks = self._ranks_of(out)
                return (Superstep(None, *rec) for rec in zip(*(side[c] for c in STEP_FIELDS)))
            self.layout = self._cogroup(x0, 0, None, layout=True).persist()
            self._cached.append(self.layout)
            self._side(self.layout)
        if ranks is not None:
            pdf = ranks.toPandas()
            self.pr = np.zeros(int(self.n), dtype=np.float64)
            self.pr[pdf["vid"].to_numpy(dtype=np.int64)] = pdf["pr"].to_numpy(dtype=np.float64)
        return self._per_superstep(dm, steps, tol)

    def _per_superstep(self, dm, steps: int, tol):
        for _ in range(steps):
            t0 = time.monotonic()
            _, side = self._over_layout(dm, 1, state=True)
            self.pr = np.frombuffer(side["pr"], dtype=np.float64)
            delta, dm_in, dm = (side[c][0] for c in STEP_FIELDS[:3])
            yield Superstep(self.pr, delta, dm_in, dm, (time.monotonic() - t0) * 1000.0)
            if reached(delta, tol):
                return

    def result(self) -> DataFrame:
        if self._ranks is None:  # checkpointed: one more task over the layout row
            self._ranks = self._ranks_of(self._over_layout(None, 0, ranks=True)[0])
        return self._ranks

    def to_frame(self, pr: np.ndarray) -> DataFrame:
        return self.spark.createDataFrame(
            pd.DataFrame({"vid": np.arange(int(self.n), dtype=np.int64), "pr": pr}),
            "vid long, pr double",
        )

    def release(self) -> None:
        if self._bc is not None:
            self._bc.destroy()
        for df in reversed(self._cached):  # dependents before their inputs
            df.unpersist()
