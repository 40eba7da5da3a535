"""Vectorized CSR-blocks PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

The Spark-native rebuild of that layout is DESTINATION-bucketed and FUSED.
This module holds the csr kernel (``_Csr``) that the one superstep loop
(operators.pagerank._drive) runs over a layout each call builds for
itself, in one cogrouped pass (``build_layout``), and frees when it
returns:

- vertex ids are dense 0..n-1, so bucket membership is pure arithmetic:
  bucket b owns vids {b, b+P, b+2P, ...} at local offset vid // P. No
  vertex list is ever materialized — the bucket's rank slice, dangling
  mask and reset slice are flat arrays indexed by that offset;
- edges are compiled ONCE per call and bucket (dst % P) into a numpy CSR
  block: deterministic (dst, src) lexsort (the counting sort of
  tuned_variant_csr.c:179-229 with a fixed total order, so a rebuilt
  block is bit-identical regardless of shuffle arrival order), indptr
  over the dst runs, sources localized to dense gather slots. The same
  pass writes the bucket's dangling mask and reset slice beside its
  block; it is the DISTRIBUTE_DATA moment
  (tuned_variant_baseline.c:247-324);
- per superstep the kernel does the whole update INSIDE the Arrow batch:
  gather x by source (numpy fancy indexing — the i32gather analog for a
  full batch), CSR segment sum via np.add.reduceat
  (tuned_variant_csr.c:74-84), scatter to the dense bucket slice,
  damping + teleport/personalized base, |new−old| per vertex and the
  bucket's dangling rank mass;
- the kernel output (vid, pr, abs_delta, dang_pr) is the ENTIRE
  superstep state: new ranks, the L1 delta and next dangling mass all
  come out of the one kernel pass — no join against the previous rank
  vector, no join against a flagged vertex table, no second aggregation
  shuffle.

Per-superstep plan (r6 form): the driver-held rank vector crosses as ONE
``sc.broadcast`` numpy array and the superstep is a single ``mapInArrow``
over the call's cached layout table — no join, no cogroup, ZERO
shuffle exchanges (plan: InMemoryScan → MapInArrow → ArrowCollect; the
round-≤5 LocalRelation + broadcast-join + cogroup form measured 368 ms
per superstep at sf0.1, 165 ms of it the per-superstep LocalRelation
build — the map form runs ~160 ms). ``kernel="auto"`` sends graphs above
BROADCAST_ROW_LIMIT vertices to join-agg, which keeps the rank vector in
the JVM; an explicit ``kernel="csr-blocks"`` keeps it on the driver at
any |V|.

Record iterator (the contract of operators.pagerank._drive): the kernel
inherits the default ``supersteps`` — one ``step`` job per record — and
overrides it when its layout has ONE bucket (P=1) and the loop needs no
intermediate state (no checkpointer): the start vector crosses once as
an ``sc.broadcast``, ONE ``mapInArrow`` task loops ``bucket_update`` →
``loop_scalars`` to ``steps`` or to the shared ``reached`` rule, and
returns the final vector plus one (l1_delta, dangling_mass_next) row per
superstep, which become the ``Superstep`` records; the job's driver time
is split evenly over their ``wall_ms``. At P=1 a superstep's numpy work
is ~0.1 ms and a job's dispatch ~300 ms, so this removes nearly all of a
converged run's loop time. The per-bucket math is the one
``bucket_update`` function in both paths (per-superstep map, fused
loop), so the fused loop is bitwise-equal to per-superstep jobs.

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
from pagerank_optimization_spark.operators.pagerank import Superstep, _Kernel, _teleport, reached

# Above this row count an id-map broadcast risks executor OOM at the
# 10^9-vertex scale this engine targets — fall back to a shuffle join
# (AQE still upgrades it to broadcast if the measured size is tiny).
BROADCAST_ROW_LIMIT = 1_000_000

# One row per bucket. The CSR columns are null for a bucket with no
# in-edges; reset_arr is null unless the run is personalized.
LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("dang_mask", T.BinaryType(), False),  # uint8 per bucket vertex
        T.StructField("n_dang", T.LongType(), False),       # popcount of dang_mask —
                                                            # summed by the scan that
                                                            # materializes the layout, so
                                                            # setup needs no separate
                                                            # |D|-count job (r6)
        T.StructField("reset_arr", T.BinaryType(), True),   # float64 per bucket vertex
        T.StructField("n_src", T.LongType(), True),         # local gather slots
        T.StructField("src_idx", T.BinaryType(), True),     # int64 local gather index
        T.StructField("src_vids", T.BinaryType(), True),    # int64 GLOBAL vids of the
                                                            # distinct sources (ascending —
                                                            # the np.unique slot order); the
                                                            # kernel gathers pr[src_vids]
                                                            # directly
        T.StructField("indptr", T.BinaryType(), True),      # int64 CSR offsets
        T.StructField("dst_local", T.BinaryType(), True),   # int64 bucket offsets of dsts
        T.StructField("weight", T.BinaryType(), True),      # float64 edge weights
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("vid", T.LongType(), False),
        T.StructField("pr", T.DoubleType(), False),
        T.StructField("abs_delta", T.DoubleType(), False),
        T.StructField("dang_pr", T.DoubleType(), False),
    ]
)


LOOP_SCHEMA = T.StructType(
    [
        T.StructField("l1_delta", T.DoubleType(), False),
        T.StructField("dangling_mass_next", T.DoubleType(), False),
        T.StructField("pr", T.BinaryType(), True),  # float64 ranks, last row only
    ]
)


def _bucket_size(n: int, b: int, P: int) -> int:
    return (n - b + P - 1) // P if b < n else 0


def bucket_update(
    old: np.ndarray,
    x: np.ndarray | None,
    blk: dict | None,
    mask: np.ndarray,
    reset_arr: np.ndarray | None,
    n_: int,
    d_: float,
    dm: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The per-bucket superstep math, the ONE copy every csr path runs
    (per-superstep map, fused loop), so they agree bitwise by
    construction. ``old``: the bucket's rank slice in local
    (vid // P) order; ``x``: the ranks of the bucket's distinct sources in
    gather-slot order; ``blk``: the decoded CSR arrays (None: no in-edges).
    Gather by source, segment-sum over the lexsorted CSR
    (np.add.reduceat, tuned_variant_csr.c:74-84), scatter to the dense
    slice, damping + teleport/personalized base → (new, |new−old|,
    dangling rank per vertex)."""
    acc = np.zeros(len(old), dtype=np.float64)
    if blk is not None:
        contrib = blk["weight"] * x[blk["src_idx"]]               # gather+mul
        acc[blk["dst_local"]] = np.add.reduceat(contrib, blk["indptr"][:-1])
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


def _decode_row(tb, i: int) -> tuple[dict | None, np.ndarray, np.ndarray | None]:
    """Row ``i`` of a layout Arrow table → (CSR arrays or None,
    dangling mask, reset slice or None) as numpy views on the buffers."""
    blk = None
    if tb["src_idx"][i].as_py() is not None:
        blk = {"n_src": int(tb["n_src"][i].as_py())}
        for col, dt in (
            ("src_idx", np.int64),
            ("src_vids", np.int64),
            ("indptr", np.int64),
            ("dst_local", np.int64),
            ("weight", np.float64),
        ):
            blk[col] = np.frombuffer(tb[col][i].as_py(), dtype=dt)
    mask = np.frombuffer(tb["dang_mask"][i].as_py(), dtype=np.uint8).astype(bool)
    ra = tb["reset_arr"][i].as_py()
    return blk, mask, None if ra is None else np.frombuffer(ra, dtype=np.float64)


def _make_arrow_map_kernel(n_: int, P: int, d_: float, dm: float, bc):
    """One superstep as ONE ``mapInArrow`` over the static layout table
    (r6 restructure). The round-≤5 form broadcast-JOINED a
    per-superstep LocalRelation of the rank vector and cogrouped —
    measured at sf0.1 the LocalRelation build alone was 165 ms of the
    368 ms superstep, all of it spent re-shipping and re-planning data the
    driver already held. Here the rank vector crosses once per superstep
    as an ``sc.broadcast`` numpy array, the kernel gathers pr[src_vids]
    directly by GLOBAL vid, and the old rank for the delta is pr[b::P] —
    no join, no cogroup, no per-superstep exchange at all. The math is
    ``bucket_update``."""
    import pyarrow as pa

    def fused_map(batches):
        pr_all = bc.value
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            out_vid, out_pr, out_ad, out_dp = [], [], [], []
            for i in range(tb.num_rows):
                b = int(tb["bucket"][i].as_py())
                m = _bucket_size(n_, b, P)
                if m == 0:
                    continue
                blk, mask, reset_arr = _decode_row(tb, i)
                x = None if blk is None else pr_all[blk["src_vids"]]
                new, abs_delta, dang_pr = bucket_update(
                    pr_all[b::P], x, blk, mask, reset_arr, n_, d_, dm
                )
                out_vid.append(b + P * np.arange(m, dtype=np.int64))
                out_pr.append(new)
                out_ad.append(abs_delta)
                out_dp.append(dang_pr)
            if out_vid:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_vid)),
                        pa.array(np.concatenate(out_pr)),
                        pa.array(np.concatenate(out_ad)),
                        pa.array(np.concatenate(out_dp)),
                    ],
                    names=["vid", "pr", "abs_delta", "dang_pr"],
                )

    return fused_map


def _make_arrow_loop_kernel(n_: int, d_: float, dm0: float, bc, steps: int, tol: float | None):
    """The WHOLE superstep loop as one ``mapInArrow`` task over a
    one-bucket layout table (P=1, so local order is vid order). The
    start vector arrives once as ``bc``; each superstep is
    ``bucket_update`` + ``loop_scalars`` — the per-superstep job's math
    and reduction order — until ``steps`` ran or the delta ``reached``
    tol. Output: one LOOP_SCHEMA row per superstep, the final rank vector
    (float64 bytes) on the last one."""
    import pyarrow as pa

    def loop_map(batches):
        tb = pa.Table.from_batches(list(batches))
        blk, mask, reset_arr = _decode_row(tb, 0)
        pr, dm = bc.value, dm0
        deltas, dms = [], []
        for _ in range(steps):
            x = None if blk is None else pr[blk["src_vids"]]
            pr, abs_delta, dang_pr = bucket_update(pr, x, blk, mask, reset_arr, n_, d_, dm)
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


def build_layout(vid_edges: DataFrame, flagged: DataFrame, n: int, P: int) -> DataFrame:
    """The call's layout in ONE cogrouped pass: (src, dst, weight) vid-space
    edges bucketed by DESTINATION (dst % P) meet the flagged vids
    (vid, _d[, reset_w]) of the same bucket (vid % P), and every bucket
    compiles to one LAYOUT_SCHEMA row — its CSR block, dangling mask and,
    when personalized, reset slice, all aligned to the dense bucket layout
    (offset vid // P). Destination buckets make the per-superstep segment
    sums final without a global re-aggregation, and the per-superstep
    kernel needs no vertex-table join at all.

    The layout has P partitions, so a superstep runs ≤P tasks (one at
    P=1). Above P=1 both sides are hash-partitioned on the bucket into P
    partitions and the cogroup reuses that exchange, so the compiled
    blocks are never shuffled again. The CSR is a deterministic function
    of the edge SET (lexsort by (dst, src)), not of shuffle arrival order
    — a layout rebuilt on resume reduces in the same FP order."""
    has_reset = "reset_w" in flagged.columns

    def compile_bucket(epdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        b = int(fpdf["bucket"].iloc[0])
        off = (fpdf["vid"].to_numpy(dtype=np.int64) - b) // P
        mask = np.zeros(_bucket_size(n, b, P), dtype=np.uint8)
        mask[off[fpdf["_d"].to_numpy(dtype=bool)]] = 1
        row = dict.fromkeys(LAYOUT_SCHEMA.fieldNames())
        row.update(bucket=b, dang_mask=mask.tobytes(), n_dang=int(mask.sum()))
        if has_reset:
            r = np.zeros(len(mask), dtype=np.float64)
            r[off] = fpdf["reset_w"].to_numpy(dtype=np.float64)
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
            src_unique, src_idx = np.unique(src, return_inverse=True)
            row.update(
                n_src=len(src_unique),
                src_idx=src_idx.astype(np.int64).tobytes(),
                src_vids=src_unique.astype(np.int64).tobytes(),
                indptr=indptr.tobytes(),
                dst_local=((dst_unique - b) // P).tobytes(),
                weight=w.tobytes(),
            )
        return pd.DataFrame([row])

    def by_bucket(df: DataFrame, col: str):
        df = df.withColumn("bucket", F.pmod(F.col(col), F.lit(P)).cast("int"))
        # a 1-partition repartition plans as SinglePartition, which the
        # cogroup does not reuse: it would shuffle the side a second time
        return (df.repartition(P, "bucket") if P > 1 else df).groupBy("bucket")

    return (
        by_bucket(vid_edges, "dst")
        .cogroup(by_bucket(flagged, "vid"))
        .applyInPandas(compile_bucket, schema=LAYOUT_SCHEMA)
        .coalesce(P)
    )


def clear_compile_cache() -> None:
    """Does nothing: each csr call builds its own layout and frees it when
    the call returns, so no layout outlives a call. Kept because the
    benchmark harness (perfbench/workloads.py) still calls it."""


class _Csr(_Kernel):
    """The csr kernel, in dense-vid key space 0..n-1; ranks map back to
    entities once, at the end. The state is the dense vid-indexed numpy
    rank vector, held on the driver. Each superstep ships it as one
    ``sc.broadcast`` and runs ONE ``mapInArrow`` job over the cached
    layout table — no join, no cogroup, no exchange (plan: InMemoryScan →
    MapInArrow → ArrowCollect; see _make_arrow_map_kernel). The
    loop-carried scalars reduce in FIXED vid-sorted numpy order. Its ranks
    are column-identical to the join-agg kernel's (cross-kernel
    differential bar: 1e-12, SURVEY.md §5 item 3).

    The constructor builds the call's layout — the DISTRIBUTE_DATA moment
    (tuned_variant_baseline.c:247-324): the vid assignment, the vid-space
    edges, and ONE cogrouped pass (build_layout) that compiles each
    bucket's CSR block, dangling mask and, when ``reset`` is given, its
    slice of the normalized reset distribution. ``release`` unpersists
    all of it when the call returns. The id map and the result are
    localCheckpointed, not persisted; Spark's ContextCleaner frees their
    blocks once they are unreferenced."""

    key = "vid"
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
        from pagerank_optimization_spark.plans.partitioning import effective_partitions

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
        # scale-adaptive bucket count (r6, guide §2.2): the caller's
        # ``partitions`` is the cluster-sized cap; the layout uses what the
        # graph needs. Small graphs get a few big CSR blocks (less
        # per-superstep task scheduling, longer numpy vectors — strictly
        # better on both axes); big graphs keep the caller's parallelism.
        # Deterministic per graph, so a resumed run rebuilds identically.
        self.partitions = effective_partitions(partitions, max(self.nnz, self.n))

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
        self.layout = build_layout(vid_edges, flagged, self.n, self.partitions).persist()
        self._cached.append(self.layout)
        # the scan that sums the dangling popcount also materializes the
        # cached layout NOW: DISTRIBUTE_DATA belongs to setup, not to the
        # first timed superstep (the reference's timer starts after
        # distribution, timer_op.c; join-agg's setup likewise materializes
        # its co-partitioned cache via its nnz count)
        self.n_dangling = int(
            self.layout.agg(F.coalesce(F.sum("n_dang"), F.lit(0))).collect()[0][0]
        )

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

    def step(self, pr: np.ndarray, dm: float):
        self._bc = bc = self.spark.sparkContext.broadcast(pr)
        fused_map = _make_arrow_map_kernel(int(self.n), self.partitions, self.damping, dm, bc)
        pdf = (
            self.layout.mapInArrow(fused_map, schema=STATE_SCHEMA)
            .toPandas()
            .sort_values("vid", kind="mergesort", ignore_index=True)
        )
        delta, next_dm = loop_scalars(pdf["abs_delta"].to_numpy(), pdf["dang_pr"].to_numpy())
        bc.destroy()
        self._bc = None
        return pdf["pr"].to_numpy(dtype=np.float64).copy(), delta, next_dm

    def supersteps(self, pr: np.ndarray, dm: float, *, steps: int, tol, every_state: bool):
        """One bucket and no consumer of intermediate states: run the whole
        loop in ONE mapInArrow task (_make_arrow_loop_kernel) instead of
        one job per superstep — at P=1 the superstep's numpy work is
        ~0.1 ms and its job dispatch ~300 ms. Otherwise the default
        per-superstep jobs. The one job's driver wall time is split evenly
        over the records, so Σ wall_ms is the loop's time either way."""
        if every_state or self.partitions != 1 or steps <= 0:
            yield from super().supersteps(pr, dm, steps=steps, tol=tol, every_state=every_state)
            return
        t0 = time.monotonic()
        self._bc = bc = self.spark.sparkContext.broadcast(pr)
        loop_map = _make_arrow_loop_kernel(int(self.n), self.damping, dm, bc, steps, tol)
        rows = self.layout.mapInArrow(loop_map, schema=LOOP_SCHEMA).collect()
        bc.destroy()
        self._bc = None
        final = np.frombuffer(rows[-1]["pr"], dtype=np.float64).copy()
        wall_ms = (time.monotonic() - t0) * 1000.0 / len(rows)
        for i, r in enumerate(rows, 1):
            state = final if i == len(rows) else None
            yield Superstep(state, r["l1_delta"], r["dangling_mass_next"], wall_ms)

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
