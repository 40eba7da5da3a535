"""Vectorized CSR-blocks PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

The Spark-native rebuild of that layout is DESTINATION-bucketed and FUSED.
This module holds the csr kernel (``_Csr``) that the one superstep loop
(operators.pagerank._drive) runs over the layout ``_compile`` builds once
and caches:

- vertex ids are dense 0..n-1, so bucket membership is pure arithmetic:
  bucket b owns vids {b, b+P, b+2P, ...} at local offset vid // P. No
  vertex list is ever materialized — the bucket's rank slice, dangling
  mask and reset slice are flat arrays indexed by that offset;
- edges are compiled ONCE per bucket (dst % P) into a numpy CSR block:
  deterministic (dst, src) lexsort (the counting sort of
  tuned_variant_csr.c:179-229 with a fixed total order, so a rebuilt
  block is bit-identical regardless of shuffle arrival order), indptr
  over the dst runs, sources localized to dense gather slots. The blocks
  are the DISTRIBUTE_DATA moment (tuned_variant_baseline.c:247-324);
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
over the static cached blocks⊕aux table — no join, no cogroup, ZERO
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

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_src", T.LongType(), False),        # local gather slots
        T.StructField("src_idx", T.BinaryType(), False),    # int64 local gather index
        T.StructField("src_vids", T.BinaryType(), False),   # int64 GLOBAL vids of the
                                                            # distinct sources (ascending —
                                                            # the np.unique slot order); the
                                                            # kernel gathers pr[src_vids]
                                                            # directly
    T.StructField("indptr", T.BinaryType(), False),     # int64 CSR offsets
        T.StructField("dst_local", T.BinaryType(), False),  # int64 bucket offsets of dsts
        T.StructField("weight", T.BinaryType(), False),     # float64 edge weights
    ]
)

AUX_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("dang_mask", T.BinaryType(), False),  # uint8 per bucket vertex
        T.StructField("n_dang", T.LongType(), False),       # popcount of dang_mask —
                                                            # summed once at compile so
                                                            # setup needs no separate
                                                            # |D|-count job (r6)
        T.StructField("reset_arr", T.BinaryType(), True),   # float64 per bucket vertex
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
    """Row ``i`` of a blocks⊕aux Arrow table → (CSR arrays or None,
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
    """One superstep as ONE ``mapInArrow`` over the static blocks⊕aux
    table (r6 restructure). The round-≤5 form broadcast-JOINED a
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
    one-bucket blocks⊕aux table (P=1, so local order is vid order). The
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


def build_csr_blocks(vid_edges: DataFrame, n_buckets: int) -> DataFrame:
    """Compile (src, dst, weight) vid-space edges into ≤P cached CSR blocks,
    bucketed by DESTINATION (dst % P) so per-superstep segment sums are
    final without a global re-aggregation.

    Layout is a deterministic function of the edge SET (lexsort by
    (dst, src)), not of shuffle arrival order — a block rebuilt on resume
    reduces in the same FP order."""
    P = n_buckets

    def compile_block(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        w = pdf["weight"].to_numpy(dtype=np.float64)
        order = np.lexsort((src, dst))  # deterministic total order
        src, dst, w = src[order], dst[order], w[order]
        dst_unique, counts = np.unique(dst, return_counts=True)
        indptr = np.zeros(len(dst_unique) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        src_unique, src_idx = np.unique(src, return_inverse=True)
        return pd.DataFrame(
            {
                "bucket": [b],
                "n_src": [len(src_unique)],
                "src_idx": [src_idx.astype(np.int64).tobytes()],
                "src_vids": [src_unique.astype(np.int64).tobytes()],
                "indptr": [indptr.tobytes()],
                "dst_local": [((dst_unique - b) // P).tobytes()],
                "weight": [w.tobytes()],
            }
        )

    return (
        vid_edges.withColumn("bucket", F.pmod(F.col("dst"), F.lit(P)).cast("int"))
        .groupBy("bucket")
        .applyInPandas(compile_block, schema=BLOCK_SCHEMA)
    )


def build_aux(
    vids: DataFrame, dangling_vids: DataFrame, reset: DataFrame | None, n: int, n_buckets: int
) -> DataFrame:
    """Per-bucket flat auxiliary arrays aligned to the dense bucket layout
    (offset vid // P): dangling bitmask and, when personalized, the reset
    distribution slice. Built once at DISTRIBUTE_DATA time so the
    per-superstep kernel needs no vertex-table join at all."""
    P = n_buckets
    flagged = vids.join(
        dangling_vids.withColumn("_d", F.lit(True)), "vid", "left"
    ).select("vid", F.coalesce(F.col("_d"), F.lit(False)).alias("_d"))
    if reset is not None:
        flagged = flagged.join(reset, "vid", "left").select(
            "vid", "_d", F.coalesce(F.col("reset_w"), F.lit(0.0)).alias("_r")
        )
    else:
        flagged = flagged.withColumn("_r", F.lit(None).cast("double"))
    has_reset = reset is not None

    def compile_aux(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        m = _bucket_size(n, b, P)
        off = (pdf["vid"].to_numpy(dtype=np.int64) - b) // P
        mask = np.zeros(m, dtype=np.uint8)
        mask[off[pdf["_d"].to_numpy(dtype=bool)]] = 1
        if has_reset:
            r = np.zeros(m, dtype=np.float64)
            r[off] = pdf["_r"].to_numpy(dtype=np.float64)
            rbytes = r.tobytes()
        else:
            rbytes = None
        return pd.DataFrame(
            {
                "bucket": [b],
                "dang_mask": [mask.tobytes()],
                "n_dang": [int(mask.sum())],
                "reset_arr": [rbytes],
            }
        )

    return (
        flagged.withColumn("bucket", F.pmod(F.col("vid"), F.lit(P)).cast("int"))
        .groupBy("bucket")
        .applyInPandas(compile_aux, schema=AUX_SCHEMA)
    )


# Compiled-layout cache — the reference's protocol distributes data ONCE
# and times COMPUTE over repeated trials (timer_op.c:52-61 takes the min
# AFTER the one-time DISTRIBUTE_DATA of tuned_variant_baseline.c:247-324).
# Keyed by the exact DataFrame objects (immutable within a session), so
# repeated pagerank() calls on the same graph skip recompilation; bounded,
# evicted entries unpersist everything they pinned.
from collections import OrderedDict

_COMPILE_CACHE: "OrderedDict[tuple, dict]" = OrderedDict()
_COMPILE_CACHE_CAP = 2


def clear_compile_cache() -> None:
    while _COMPILE_CACHE:
        _, old = _COMPILE_CACHE.popitem(last=False)
        old["release"]()


def _compile(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    partitions: int,
) -> dict:
    key = (id(vertices._jdf), id(edges._jdf), id_col, partitions)
    ent = _COMPILE_CACHE.get(key)
    if ent is not None:
        _COMPILE_CACHE.move_to_end(key)
        return ent

    # normalize the external id column to 'entity' for the vid mapping
    # (works for string entities and for already-numeric ids alike);
    # the assignment's counting pass yields n as a by-product (no extra job).
    # eager=True (localCheckpoint NOW, while the counted range layout is
    # still cached) is the only correct execution mode: the range sampler's
    # boundaries are not stable across recomputations, so a lazily
    # re-materialized assignment could disagree with the counted offsets.
    # The checkpoint's blocks are reclaimed by Spark's ContextCleaner once
    # the cache entry is evicted and the last reference is GC'd.
    ids, n = vertex_ids_counted(
        vertices.select(F.col(id_col).alias("entity")), partitions=partitions
    )
    if n == 0:
        raise ValueError("pagerank: empty vertex set (no entities derivable from input)")

    # id-map joins: broadcast only while the map verifiably fits; above the
    # limit a shuffle join (AQE may still upgrade) — a forced broadcast of a
    # 10^9-row map is an executor OOM
    hint = F.broadcast if n <= BROADCAST_ROW_LIMIT else (lambda df: df)
    src_ids = ids.select(F.col("entity").alias("src"), F.col("vid").alias("src_vid"))
    dst_ids = ids.select(F.col("entity").alias("dst"), F.col("vid").alias("dst_vid"))
    vid_edges = (
        edges.join(hint(src_ids), "src")
        .join(hint(dst_ids), "dst")
        .select(F.col("src_vid").alias("src"), F.col("dst_vid").alias("dst"), "weight")
        .persist()  # read below by the count, blocks and dangling — translate once
    )
    nnz = vid_edges.count()

    # scale-adaptive bucket count (r6, guide §2.2): the caller's
    # ``partitions`` is the cluster-sized cap; the compiled layout uses
    # what |E| needs. Small graphs get a few big CSR blocks (less
    # per-superstep task scheduling, longer numpy vectors — strictly
    # better on both axes); big graphs keep the caller's parallelism.
    # Deterministic per graph, so a resumed run recompiles identically.
    from pagerank_optimization_spark.plans.partitioning import effective_partitions

    partitions = effective_partitions(partitions, max(nnz, n))

    vids = ids.select("vid")
    # lazy: only the reset/x0/resume dm0 semi-joins read this frame (rare
    # paths, one extra anti-join each); the common path's |D| count rides
    # the aux compile below as a per-bucket popcount (r6 — one fewer
    # setup job per cold compile)
    dangling_vids = vids.join(
        vid_edges.select(F.col("src").alias("vid")).distinct(), "vid", "left_anti"
    )

    # DISTRIBUTE_DATA: blocks ⊕ aux (≤P rows) — compiled once.
    blocks = build_csr_blocks(vid_edges, partitions)
    aux = build_aux(vids, dangling_vids, None, n, partitions)
    blocks_aux = (
        aux.join(blocks, "bucket", "left").repartition(partitions, "bucket").persist()
    )
    # force the compiled layout NOW: DISTRIBUTE_DATA belongs to setup, not
    # to the first timed superstep (the reference's timer starts after
    # distribution, timer_op.c; join-agg's setup likewise materializes its
    # co-partitioned cache via its nnz count). Deferring this put 10-15s of
    # one-time compile inside superstep 0's wall at 4M vertices — same
    # total work, asymmetric attribution between kernels.
    blocks_aux.count()
    # ≤P cached rows — a scalar agg over the just-materialized aux cache
    n_dangling = int(
        blocks_aux.agg(F.coalesce(F.sum("n_dang"), F.lit(0))).collect()[0][0]
    )

    def release(_frames=(blocks_aux, vid_edges)):
        # ids is localCheckpointed, not persisted: its blocks are freed by
        # the ContextCleaner once the evicted entry's references are GC'd
        for df in _frames:
            df.unpersist()

    ent = {
        "ids": ids,
        "n": n,
        "nnz": nnz,
        "partitions": partitions,  # effective bucket count (≤ requested)
        "vids": vids,
        "dangling_vids": dangling_vids,
        "n_dangling": n_dangling,
        "blocks": blocks,
        "blocks_aux": blocks_aux,
        "release": release,
        # strong refs keep the id()-based key stable for the entry's lifetime
        "_vertices": vertices,
        "_edges": edges,
    }
    _COMPILE_CACHE[key] = ent
    if len(_COMPILE_CACHE) > _COMPILE_CACHE_CAP:
        _, old = _COMPILE_CACHE.popitem(last=False)
        old["release"]()
    return ent


class _Csr(_Kernel):
    """The csr kernel, in dense-vid key space 0..n-1 from the compiled
    layout; ranks map back to entities once, at the end. The state is the
    dense vid-indexed numpy rank vector, held on the driver. Each
    superstep ships it as one ``sc.broadcast`` and runs ONE ``mapInArrow``
    job over the static cached blocks⊕aux table — no join, no cogroup, no
    exchange (plan: InMemoryScan → MapInArrow → ArrowCollect; see
    _make_arrow_map_kernel). The loop-carried scalars reduce in FIXED
    vid-sorted numpy order.

    The compiled layout stays cached across calls (released on cache
    eviction / clear_compile_cache); only per-call extras are released
    here. ``reset`` is mapped into vid space, normalized, and baked into
    the per-bucket aux arrays — personalized runs rebuild only that aux
    slice, the blocks come from the compiled cache untouched."""

    key = "vid"
    _bc = None

    def __init__(self, ent: dict, *, id_col: str, damping: float, reset: DataFrame | None):
        self.id_col, self.damping = id_col, float(damping)
        self.ids, self.n, self.nnz = ent["ids"], ent["n"], ent["nnz"]
        self.spark = self.ids.sparkSession
        self.partitions = ent["partitions"]  # effective bucket count (≤ requested)
        self.vertices, self.dangling = ent["vids"], ent["dangling_vids"]
        self.n_dangling = ent["n_dangling"]
        self.blocks_aux, self.reset, self._local = ent["blocks_aux"], None, []
        if reset is not None:
            self.reset = _teleport(self, reset).persist()
            aux = build_aux(self.vertices, self.dangling, self.reset, self.n, self.partitions)
            self.blocks_aux = (
                aux.join(ent["blocks"], "bucket", "left")
                .repartition(self.partitions, "bucket")
                .persist()
            )
            self._local = [self.reset, self.blocks_aux]

    def keyed(self, frame: DataFrame, col: str) -> DataFrame:
        """Entity space → vid space; rows on unknown ids drop."""
        hint = F.broadcast if self.n <= BROADCAST_ROW_LIMIT else (lambda df: df)
        return (
            frame.select(F.col(self.id_col).alias("entity"), col)
            .join(hint(self.ids), "entity")
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
            self.blocks_aux.mapInArrow(fused_map, schema=STATE_SCHEMA)
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
        rows = self.blocks_aux.mapInArrow(loop_map, schema=LOOP_SCHEMA).collect()
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
        for df in self._local:
            df.unpersist()


def csr_kernel(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str,
    partitions: int,
    damping: float,
    reset: DataFrame | None = None,
) -> _Csr:
    """The csr-blocks kernel for pagerank(kernel='csr-blocks'): compiles
    (or fetches) the layout. The ranks it yields are column-identical to
    the join-agg kernel's (cross-kernel differential bar: 1e-12, SURVEY.md
    §5 item 3).

    Cache lifetime: the compiled layout (blocks, translated edges,
    id map) stays persisted across calls in a bounded LRU
    (_COMPILE_CACHE, cap 2) keyed by the exact input DataFrames —
    repeated runs on the same graph skip DISTRIBUTE_DATA, mirroring the
    reference's distribute-once/measure-many protocol (timer_op.c:52-61).
    Library callers done with a large graph should call
    ``clear_compile_cache()`` to free the pinned executor storage
    immediately; otherwise it frees on LRU eviction or session stop."""
    return _Csr(
        _compile(vertices, edges, id_col, partitions), id_col=id_col, damping=damping, reset=reset
    )
