"""Vectorized CSR PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

Like the reference, this kernel (``_Csr``) runs over ONE CSR matrix. Each
call builds it for itself, in one cogrouped pass (``build_layout``), as
ONE layout row indexed by the dense vid 0..n-1, and frees it when it
returns. The one superstep loop (operators.pagerank._drive) runs over it:

- vertex ids are dense 0..n-1, so the rank vector, the dangling mask and
  the reset vector are flat arrays indexed by vid. No vertex list is
  ever materialized;
- the edges are compiled into the CSR block: deterministic (dst, src)
  lexsort (the counting sort of tuned_variant_csr.c:179-229 with a fixed
  total order, so a rebuilt block is bit-identical regardless of shuffle
  arrival order), indptr over the dst runs, each edge's global source
  vid. The same pass writes the dangling mask and reset vector beside the
  block; it is the DISTRIBUTE_DATA moment
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
vector crosses once as an ``sc.broadcast`` and ONE ``mapInArrow`` task
over the cached layout loops ``csr_update`` → ``loop_scalars`` to
``steps`` or to the shared ``reached`` rule, returning the final vector
plus one (l1_delta, dangling_mass_next) row per superstep, which become
the ``Superstep`` records; the job's driver time is split evenly over
their ``wall_ms``. A checkpointed run needs every superstep's state, so
it runs the same task with ``steps=1`` once per superstep. A superstep's
numpy work is ~0.1 ms on the benchmark graph and a job's dispatch
~300 ms, so the uncheckpointed loop costs about one job. Both forms run
the same function in the same order, so they agree bitwise.

``kernel="auto"`` sends graphs above BROADCAST_ROW_LIMIT vertices to
join-agg, which keeps the rank vector in the JVM; an explicit
``kernel="csr-blocks"`` keeps it on the driver at any |V| whose layout
fits in one Spark row (LAYOUT_BYTES_LIMIT), and raises above that.

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

from pagerank_optimization_spark.operators.graph_build import vertex_ids_counted
from pagerank_optimization_spark.operators.pagerank import Superstep, _teleport, reached

# Above this row count an id-map broadcast risks executor OOM at the
# 10^9-vertex scale this engine targets — fall back to a shuffle join
# (AQE still upgrades it to broadcast if the measured size is tiny).
BROADCAST_ROW_LIMIT = 1_000_000

# The layout is one Spark row, and a row holds at most ~2 GiB (its buffer
# is one JVM byte array); 1 MiB is left for the row's header and padding.
LAYOUT_BYTES_LIMIT = 2**31 - 2**20

# The one layout row. The CSR columns are null for a graph without edges;
# reset_arr is null unless the run is personalized.
LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("dang_mask", T.BinaryType(), False),  # uint8 per vertex
        T.StructField("n_dang", T.LongType(), False),       # popcount of dang_mask
        T.StructField("reset_arr", T.BinaryType(), True),   # float64 per vertex
        T.StructField("src", T.BinaryType(), True),         # int64 source vid per edge
        T.StructField("indptr", T.BinaryType(), True),      # int64 CSR offsets
        T.StructField("dst", T.BinaryType(), True),         # int64 vid of each dst run
        T.StructField("weight", T.BinaryType(), True),      # float64 edge weights
    ]
)

LOOP_SCHEMA = T.StructType(
    [
        T.StructField("l1_delta", T.DoubleType(), False),
        T.StructField("dangling_mass_next", T.DoubleType(), False),
        T.StructField("pr", T.BinaryType(), True),  # float64 ranks, last row only
    ]
)


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


def _decode_row(tb) -> tuple[dict | None, np.ndarray, np.ndarray | None]:
    """The layout Arrow table's one row → (CSR arrays or None, dangling
    mask, reset vector or None) as numpy views on the buffers."""
    blk = None
    if tb["src"][0].is_valid:
        blk = {
            col: np.frombuffer(tb[col][0].as_py(), dtype=dt)
            for col, dt in (
                ("src", np.int64),
                ("indptr", np.int64),
                ("dst", np.int64),
                ("weight", np.float64),
            )
        }
    mask = np.frombuffer(tb["dang_mask"][0].as_py(), dtype=np.uint8).astype(bool)
    ra = tb["reset_arr"][0].as_py()
    return blk, mask, None if ra is None else np.frombuffer(ra, dtype=np.float64)


def _make_arrow_loop_kernel(n_: int, d_: float, dm0: float, bc, steps: int, tol: float | None):
    """Up to ``steps`` supersteps as one ``mapInArrow`` task over the layout
    table. The start vector arrives once as ``bc``; each superstep is
    ``csr_update`` + ``loop_scalars`` until ``steps`` ran or the delta
    ``reached`` tol. Output: one LOOP_SCHEMA row per superstep, the final
    rank vector (float64 bytes) on the last one."""
    import pyarrow as pa

    def loop_map(batches):
        tb = pa.Table.from_batches(list(batches))
        blk, mask, reset_arr = _decode_row(tb)
        pr, dm = bc.value, dm0
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


def build_layout(vid_edges: DataFrame, flagged: DataFrame, n: int) -> DataFrame:
    """The call's layout in ONE cogrouped pass: the (src, dst, weight)
    vid-space edges meet the flagged vids (vid, _d[, reset_w]) under one
    constant key and compile to the one LAYOUT_SCHEMA row — the CSR block,
    the dangling mask and, when personalized, the reset vector, all
    indexed by vid. The CSR is a deterministic function of the edge SET
    (lexsort by (dst, src)), not of shuffle arrival order — a layout
    rebuilt on resume reduces in the same FP order."""
    has_reset = "reset_w" in flagged.columns

    def compile_layout(epdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        vid = fpdf["vid"].to_numpy(dtype=np.int64)
        mask = np.zeros(n, dtype=np.uint8)
        mask[vid[fpdf["_d"].to_numpy(dtype=bool)]] = 1
        row = dict.fromkeys(LAYOUT_SCHEMA.fieldNames())
        row.update(dang_mask=mask.tobytes(), n_dang=int(mask.sum()))
        if has_reset:
            r = np.zeros(n, dtype=np.float64)
            r[vid] = fpdf["reset_w"].to_numpy(dtype=np.float64)
            row["reset_arr"] = r.tobytes()
        if len(epdf):
            src = epdf["src"].to_numpy(dtype=np.int64)
            dst = epdf["dst"].to_numpy(dtype=np.int64)
            w = epdf["weight"].to_numpy(dtype=np.float64)
            order = np.lexsort((src, dst))  # deterministic total order
            src, dst, w = src[order], dst[order], w[order]
            dst_unique, counts = np.unique(dst, return_counts=True)
            indptr = np.zeros(len(dst_unique) + 1, dtype=np.int64)
            np.cumsum(counts, out=indptr[1:])
            row.update(
                src=src.tobytes(),
                indptr=indptr.tobytes(),
                dst=dst_unique.tobytes(),
                weight=w.tobytes(),
            )
        return pd.DataFrame([row])

    # the cogroup shuffles its one key into spark.sql.shuffle.partitions
    # partitions, all but one empty; the one-task loop reads one partition
    key = F.lit(0).alias("layout")  # aliased: a bare integer is a column ordinal
    return (
        vid_edges.groupBy(key)
        .cogroup(flagged.groupBy(key))
        .applyInPandas(compile_layout, schema=LAYOUT_SCHEMA)
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

    The constructor builds the call's layout — the DISTRIBUTE_DATA moment
    (tuned_variant_baseline.c:247-324): the vid assignment, the vid-space
    edges, and ONE cogrouped pass (build_layout) that compiles the CSR
    block, the dangling mask and, when ``reset`` is given, the normalized
    reset distribution. A layout above LAYOUT_BYTES_LIMIT raises before it
    is built. ``release`` unpersists all of it when the call returns. The
    id map and the result are localCheckpointed, not persisted; Spark's
    ContextCleaner frees their blocks once they are unreferenced."""

    key = "vid"
    partitions = 1  # the layout is one row, read by one task
    _bc = None

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        *,
        id_col: str,
        partitions: int,
        damping: float,
        reset: DataFrame | None,
    ):
        self.id_col, self.damping = id_col, float(damping)
        # normalize the external id column to 'entity' for the vid mapping
        # (works for string entities and for already-numeric ids alike);
        # the assignment's counting pass yields n as a by-product (no extra
        # job). It is localCheckpointed NOW, while the counted range layout
        # is still cached: the range sampler's boundaries are not stable
        # across recomputations, so a lazily re-materialized assignment
        # could disagree with the counted offsets.
        self.ids, self.n = vertex_ids_counted(
            vertices.select(F.col(id_col).alias("entity")), partitions=partitions
        )
        if self.n == 0:
            raise ValueError("pagerank: empty vertex set (no entities derivable from input)")
        self.spark = self.ids.sparkSession
        # id-map joins: broadcast only while the map verifiably fits; above
        # the limit a shuffle join (AQE may still upgrade) — a forced
        # broadcast of a 10^9-row map is an executor OOM
        self._hint = F.broadcast if self.n <= BROADCAST_ROW_LIMIT else (lambda df: df)
        self.vertices = self.ids.select("vid")
        self.reset, self._cached = None, []
        if reset is not None:
            # before anything else is persisted: a reset without mass raises
            self.reset = _teleport(self, reset).persist()
            self._cached.append(self.reset)
        src_ids = self.ids.select(F.col("entity").alias("src"), F.col("vid").alias("src_vid"))
        dst_ids = self.ids.select(F.col("entity").alias("dst"), F.col("vid").alias("dst_vid"))
        vid_edges = (
            edges.join(self._hint(src_ids), "src")
            .join(self._hint(dst_ids), "dst")
            .select(F.col("src_vid").alias("src"), F.col("dst_vid").alias("dst"), "weight")
            .persist()  # read by the count, the layout and the dangling flags
        )
        self._cached.append(vid_edges)
        self.nnz = vid_edges.count()
        # the layout row's payload, at most: src and weight per edge,
        # indptr and dst per destination, dangling mask and reset per vertex
        need = 16 * self.nnz + 25 * self.n + 8
        if need > LAYOUT_BYTES_LIMIT:
            self.release()
            raise ValueError(
                f"pagerank: the csr layout of {self.n} vertices and {self.nnz} edges "
                f"needs ~{need / 2**30:.1f} GiB, more than one Spark row holds "
                f'({LAYOUT_BYTES_LIMIT} bytes); use kernel="join-agg"'
            )

        has_out = vid_edges.select(F.col("src").alias("vid")).distinct()
        flagged = self.vertices.join(has_out.withColumn("_o", F.lit(True)), "vid", "left").select(
            "vid", F.col("_o").isNull().alias("_d")
        )
        # lazy: only the reset/x0/resume dm0 semi-joins read it
        self.dangling = flagged.filter("_d").select("vid")
        if self.reset is not None:
            flagged = flagged.join(self.reset, "vid", "left").select(
                "vid", "_d", F.coalesce(F.col("reset_w"), F.lit(0.0)).alias("reset_w")
            )
        self.layout = build_layout(vid_edges, flagged, self.n).persist()
        self._cached.append(self.layout)
        # the scan that reads the dangling popcount also materializes the
        # cached layout NOW: DISTRIBUTE_DATA belongs to setup, not to the
        # first timed superstep (the reference's timer starts after
        # distribution, timer_op.c; join-agg's setup likewise materializes
        # its co-partitioned cache via its nnz count)
        self.n_dangling = int(self.layout.select("n_dang").collect()[0][0])

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
        done = 0
        while done < steps:
            t0 = time.monotonic()
            self._bc = bc = self.spark.sparkContext.broadcast(pr)
            loop_map = _make_arrow_loop_kernel(
                int(self.n), self.damping, dm, bc, 1 if every_state else steps - done, tol
            )
            rows = self.layout.mapInArrow(loop_map, schema=LOOP_SCHEMA).collect()
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
