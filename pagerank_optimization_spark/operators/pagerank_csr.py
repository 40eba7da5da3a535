"""Vectorized CSR PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

Like the reference, this kernel (``_Csr``) runs over ONE CSR matrix. Each
call builds it for itself, in ONE task (``build_layout``), as ONE layout
row, and frees it when it returns. The one superstep loop
(operators.pagerank._drive) runs over it:

- a vertex's dense vid 0..n-1 is its position among the sorted distinct
  ids, which ride in the row, so the id map is a lazy projection of it.
  The rank, dangling and reset vectors are flat arrays indexed by vid;
- the edges, mapped to vids by one hash lookup, are compiled into the
  CSR block: deterministic (dst, src) lexsort (the counting sort of
  tuned_variant_csr.c:179-229 with a fixed total order, so a rebuilt
  block is bit-identical regardless of shuffle arrival order), indptr
  over the dst runs, each edge's global source vid; the dangling vids
  ride beside it. It is the DISTRIBUTE_DATA moment
  (tuned_variant_baseline.c:247-324);
- a superstep does the whole update inside the Arrow task
  (``csr_update``): gather the ranks by source (numpy fancy indexing —
  the i32gather analog for a full batch), CSR segment sum via
  np.add.reduceat (tuned_variant_csr.c:74-84), scatter to the dense
  vector, damping + teleport/personalized base, |new−old| per vertex and
  the dangling rank mass. ``loop_scalars`` reduces the last two in vid
  order, so new ranks, the L1 delta and the next dangling mass all come
  out of one pass — no join, no exchange.

Record iterator (the contract of operators.pagerank._drive): the start
vector (with the reset vector beside it) crosses once as an
``sc.broadcast`` and ONE ``mapInArrow`` task over the cached layout
loops ``csr_update`` → ``loop_scalars`` to ``steps`` or to the shared
``reached`` rule, returning the final vector plus one (l1_delta,
dangling_mass_next) row per superstep, which become the ``Superstep``
records; the job's driver time is split evenly over their ``wall_ms``. A
checkpointed run needs every superstep's state, so it runs the same task
with ``steps=1`` once per superstep. A superstep's numpy work is ~0.1 ms
on the benchmark graph and a job's dispatch ~300 ms, so the
uncheckpointed loop costs about one job. Both forms run the same function
in the same order, so they agree bitwise.

``kernel="auto"`` sends graphs above BROADCAST_ROW_LIMIT vertices or
LAYOUT_BYTES_LIMIT layout bytes to join-agg, which keeps the rank vector
in the JVM; an explicit ``kernel="csr-blocks"`` keeps it on the driver
at any |V| whose layout fits in one Spark row, and raises above that.

No per-row Python anywhere (input_hint requirement): everything crossing
the JVM↔Python boundary is an Arrow batch, everything inside is numpy.

The run-length SIMD segmentation of the reference
(`split_indices`, tuned_variant_simd.c:186-242) is deliberately absent:
Arrow batches give full-width vectorization regardless of run lengths
(SURVEY.md §4).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pagerank_optimization_spark.operators.pagerank import Superstep, _teleport, reached

# Above this row count an id-map broadcast risks executor OOM at the
# 10^9-vertex scale this engine targets — fall back to a shuffle join
# (AQE still upgrades it to broadcast if the measured size is tiny).
BROADCAST_ROW_LIMIT = 1_000_000

# The layout is one Spark row, and a row holds at most ~2 GiB (its buffer
# is one JVM byte array); 1 MiB is left for the row's header and padding.
LAYOUT_BYTES_LIMIT = 2**31 - 2**20

LOOP_SCHEMA = T.StructType(
    [
        T.StructField("l1_delta", T.DoubleType(), False),
        T.StructField("dangling_mass_next", T.DoubleType(), False),
        T.StructField("pr", T.BinaryType(), True),  # float64 ranks, last row only
    ]
)


def layout_schema(id_type: T.DataType) -> T.StructType:
    """The one layout row, for vertex ids of Spark type ``id_type``. The
    CSR columns are null for a graph without edges."""
    return T.StructType(
        [
            T.StructField("ids", T.ArrayType(id_type), False),  # sorted: vid = position
            T.StructField("dangling", T.ArrayType(T.LongType(), False), False),  # sorted vids
            T.StructField("nnz", T.LongType(), False),  # edges in the CSR block
            T.StructField("src", T.BinaryType(), True),     # int64 source vid per edge
            T.StructField("indptr", T.BinaryType(), True),  # int64 CSR offsets
            T.StructField("dst", T.BinaryType(), True),     # int64 vid of each dst run
            T.StructField("weight", T.BinaryType(), True),  # float64 edge weights
        ]
    )


def layout_bytes(n: int, n_edges: int, id_bytes: int) -> int:
    """Bound on the layout row's payload: src and weight per edge; indptr,
    dst, a dangling vid and null bits per vertex; the ids' ``id_bytes``."""
    return 16 * n_edges + 25 * n + id_bytes + 8


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


def _decode_row(tb, n_: int) -> tuple[dict | None, np.ndarray]:
    """The layout Arrow table's one row → (CSR arrays or None, dangling
    mask of ``n_`` vertices) as numpy arrays over the buffers."""
    dtypes = {"src": np.int64, "indptr": np.int64, "dst": np.int64, "weight": np.float64}
    blk = None
    if tb["src"][0].is_valid:
        blk = {col: np.frombuffer(tb[col][0].as_py(), dtype=dt) for col, dt in dtypes.items()}
    mask = np.zeros(n_, dtype=bool)
    mask[tb["dangling"][0].values.to_numpy()] = True
    return blk, mask


def _make_arrow_loop_kernel(n_: int, d_: float, dm0: float, bc, steps: int, tol: float | None):
    """Up to ``steps`` supersteps as one ``mapInArrow`` task over the layout
    table. The start and reset vectors arrive once as ``bc``; each
    superstep is ``csr_update`` + ``loop_scalars`` until ``steps`` ran or
    the delta ``reached`` tol. Output: one LOOP_SCHEMA row per superstep,
    the final rank vector (float64 bytes) on the last one."""
    import pyarrow as pa

    def loop_map(batches):
        blk, mask = _decode_row(pa.Table.from_batches(list(batches)), n_)
        (pr, reset_arr), dm = bc.value, dm0
        deltas, dms = [], []
        for _ in range(steps):
            pr, abs_delta, dang_pr = csr_update(pr, blk, mask, reset_arr, n_, d_, dm)
            delta, dm = loop_scalars(abs_delta, dang_pr)
            deltas.append(delta)
            dms.append(dm)
            if reached(delta, tol):
                break
        yield pa.record_batch(
            [
                pa.array(deltas, type=pa.float64()),
                pa.array(dms, type=pa.float64()),
                pa.array([None] * (len(deltas) - 1) + [pr.tobytes()], type=pa.binary()),
            ],
            names=LOOP_SCHEMA.fieldNames(),
        )

    return loop_map


def build_layout(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """The call's layout in ONE task: the entity-space edges (src, dst,
    weight) meet the vertex ids (entity) under one constant key and
    compile to the one ``layout_schema`` row. vid = position among the
    distinct ids sorted in their native type (Arrow orders strings by
    UTF-8 bytes, as Spark does); an edge with an endpoint that is not a
    vertex drops. The CSR is a deterministic function of the edge SET
    (lexsort by (dst, src)), not of shuffle arrival order — a layout
    rebuilt on resume reduces in the same FP order."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = layout_schema(ids.schema["entity"].dataType)
    arrow_schema = to_arrow_schema(schema)

    def compile_layout(etb, vtb):
        import pyarrow as pa
        import pyarrow.compute as pc

        ids = pc.unique(vtb["entity"])
        ids = ids.take(pc.sort_indices(ids, null_placement="at_start"))
        ends = pa.chunked_array(etb["src"].chunks + etb["dst"].chunks, ids.type)
        vid = pc.fill_null(pc.index_in(ends, value_set=ids, skip_nulls=True), -1)
        src, dst = np.split(vid.to_numpy().astype(np.int64), [etb.num_rows])
        keep = (src >= 0) & (dst >= 0)
        src, dst, w = src[keep], dst[keep], etb["weight"].to_numpy()[keep]
        has_out = np.zeros(len(ids), dtype=bool)
        has_out[src] = True
        dangling = pa.array(np.flatnonzero(~has_out))
        csr = dict.fromkeys(("src", "indptr", "dst", "weight"))
        if len(src):
            order = np.lexsort((src, dst))  # deterministic total order
            src, dst, w = src[order], dst[order], w[order]
            dst_unique, counts = np.unique(dst, return_counts=True)
            indptr = np.zeros(len(dst_unique) + 1, dtype=np.int64)
            np.cumsum(counts, out=indptr[1:])
            csr.update(src=src, indptr=indptr, dst=dst_unique, weight=w)
        row = {"ids": pa.ListArray.from_arrays([0, len(ids)], ids),
               "dangling": pa.ListArray.from_arrays([0, len(dangling)], dangling),
               "nnz": pa.array([len(src)])}
        for col, arr in csr.items():
            row[col] = pa.array([None if arr is None else arr.tobytes()], pa.binary())
        return pa.table(row).cast(arrow_schema)

    # the cogroup shuffles its one key into spark.sql.shuffle.partitions
    # partitions, all but one empty; the one-task loop reads one partition
    key = F.lit(0).alias("layout")  # aliased: a bare integer is a column ordinal
    return (
        edges.groupBy(key)
        .cogroup(ids.groupBy(key))
        .applyInArrow(compile_layout, schema=schema)
        .coalesce(1)
    )


def clear_compile_cache() -> None:
    """Does nothing: each csr call builds its own layout and frees it when
    the call returns, so no layout outlives a call. Kept because the
    benchmark harness (perfbench/workloads.py) still calls it."""


class _Csr:
    """The csr kernel, in dense-vid key space 0..n-1; ranks map back to
    entities once, at the end. The state is the dense vid-indexed numpy
    rank vector, held on the driver; ``supersteps`` ships it as one
    ``sc.broadcast`` to one ``mapInArrow`` task over the cached layout —
    no join, no exchange. The loop-carried scalars reduce in FIXED vid
    order. Its ranks are column-identical to the join-agg kernel's
    (cross-kernel differential bar: 1e-12, SURVEY.md §5 item 3).

    The constructor sizes the inputs in one job, raises LayoutTooLarge (a
    ValueError) above LAYOUT_BYTES_LIMIT, and else builds the call's
    layout in ONE task (build_layout) — the DISTRIBUTE_DATA moment
    (tuned_variant_baseline.c:247-324). ``ids``, ``vertices`` and
    ``dangling`` are lazy projections; a personalized call's reset
    distribution is collected into ``reset_arr``, which rides beside the
    rank vector. ``release`` unpersists all of it when the call returns;
    the result is localCheckpointed."""

    key = "vid"
    partitions = 1  # the layout is one row, read by one task
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
        self.id_col, self.damping = id_col, float(damping)
        self.spark = vertices.sparkSession
        self.reset, self.reset_arr = None, None
        ids = vertices.select(F.col(id_col).alias("entity"))
        id_type = ids.schema["entity"].dataType
        casts = {"src": id_type, "dst": id_type, "weight": T.DoubleType()}
        edges = edges.select(*(F.col(c).cast(t).alias(c) for c, t in casts.items()))
        # read by the sizing job and by the layout task
        self._cached = inputs = [ids.persist(), edges.persist()]
        try:
            n_rows, n_edges, id_bytes = _sizes(ids, edges)
            if n_rows == 0:
                raise ValueError("pagerank: empty vertex set (no entities derivable from input)")
            need = layout_bytes(n_rows, n_edges, id_bytes)
            if need > LAYOUT_BYTES_LIMIT:
                raise LayoutTooLarge(
                    f"pagerank: the csr layout of {n_rows} vertices and {n_edges} edges "
                    f"needs ~{need / 2**30:.1f} GiB, more than one Spark row holds "
                    f'({LAYOUT_BYTES_LIMIT} bytes); use kernel="join-agg"'
                )
            self.layout = build_layout(edges, ids).persist()
            self._cached = inputs + [self.layout]
            # materialize the cached layout NOW: DISTRIBUTE_DATA belongs to
            # setup, not to the first timed superstep (the reference's timer
            # starts after distribution, timer_op.c)
            self.n, self.nnz, self.n_dangling = self.layout.select(
                F.size("ids"), "nnz", F.size("dangling")
            ).collect()[0]
            for df in inputs:  # the layout holds all the call reads of them
                df.unpersist()
            self._cached = [self.layout]
            # id-map joins: broadcast only while the map verifiably fits;
            # above the limit a shuffle join (AQE may still upgrade) — a
            # forced broadcast of a 10^9-row map is an executor OOM
            self._hint = F.broadcast if self.n <= BROADCAST_ROW_LIMIT else (lambda df: df)
            self.ids = self.layout.select(F.posexplode("ids").alias("vid", "entity")).select(
                F.col("vid").cast("long").alias("vid"), "entity"
            )
            self.vertices = self.spark.range(self.n).select(F.col("id").alias("vid"))
            self.dangling = self.layout.select(F.explode("dangling").alias("vid"))
            if reset is not None:
                self.reset = _teleport(self, reset).persist()
                self._cached.append(self.reset)
                self.reset_arr = self.init(self.reset.withColumnRenamed("reset_w", "pr"))
        except BaseException:
            self.release()
            raise

    def keyed(self, frame: DataFrame, col: str) -> DataFrame:
        """Entity space → vid space; rows on unknown ids drop."""
        return (
            frame.select(F.col(self.id_col).alias("entity"), col)
            .join(self._hint(self.ids), "entity")
            .select("vid", col)
        )

    def result(self, state) -> DataFrame:
        return (
            self.to_frame(state)
            .join(self.ids, "vid")
            .select(F.col("entity").alias(self.id_col), "pr")
            .localCheckpoint(eager=True)
        )

    def init(self, ranks: DataFrame | None) -> np.ndarray:
        if ranks is None:
            # uniform x0 built driver-side — zero Spark jobs
            return np.full(self.n, 1.0 / self.n)
        pdf = ranks.toPandas()
        pr = np.zeros(int(self.n), dtype=np.float64)
        pr[pdf["vid"].to_numpy(dtype=np.int64)] = pdf["pr"].to_numpy(dtype=np.float64)
        return pr

    def supersteps(self, pr: np.ndarray, dm: float, *, steps: int, tol, every_state: bool):
        """The whole loop in ONE mapInArrow task (_make_arrow_loop_kernel);
        when ``every_state`` (a checkpointer saves each state), one such
        task per superstep. A job's driver wall time is split evenly over
        its records, so Σ wall_ms is the loop's time either way."""
        csr = self.layout.drop("ids")  # the loop reads no entity
        done = 0
        while done < steps:
            t0 = time.monotonic()
            self._bc = bc = self.spark.sparkContext.broadcast((pr, self.reset_arr))
            loop_map = _make_arrow_loop_kernel(
                int(self.n), self.damping, dm, bc, 1 if every_state else steps - done, tol
            )
            rows = csr.mapInArrow(loop_map, schema=LOOP_SCHEMA).collect()
            bc.destroy()
            self._bc = None
            pr = np.frombuffer(rows[-1]["pr"], dtype=np.float64).copy()
            wall_ms = (time.monotonic() - t0) * 1000.0 / len(rows)
            for i, r in enumerate(rows, 1):
                yield Superstep(pr if i == len(rows) else None, r["l1_delta"],
                                r["dangling_mass_next"], wall_ms)
            done += len(rows)
            dm = rows[-1]["dangling_mass_next"]
            if reached(rows[-1]["l1_delta"], tol):
                return

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
