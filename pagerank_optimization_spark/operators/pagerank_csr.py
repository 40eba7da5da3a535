"""Vectorized CSR-blocks PageRank kernel (the north-star physical design).

The reference's fastest variants rebuild the COO edge list into CSR via a
counting sort (histogram + exclusive prefix-sum + stable scatter,
tuned_variant_csr.c:179-229) so each output cell is one contiguous row
segment (tuned_variant_csr.c:72-84), then vectorize the gather with AVX2
`_mm256_i32gather_ps` (tuned_variant_simd.c:297-300) and reduce each
segment with an 8-lane horizontal sum (tuned_variant_simd.c:244-269).

The Spark-native rebuild of that layout — DESTINATION-bucketed and FUSED,
so each superstep is ONE job with at most ONE routing shuffle. This module
holds two of the three kernels the one superstep loop
(operators.pagerank._drive) runs: ``_BroadcastFrontier`` and ``_Scale``,
both over the layout ``_compile`` builds once and caches:

- vertex ids are dense 0..n-1, so bucket membership is pure arithmetic:
  bucket b owns vids {b, b+P, b+2P, ...} at local offset vid // P. No
  vertex list is ever materialized — the bucket's rank slice, dangling
  mask and reset slice are flat arrays indexed by that offset;
- edges are compiled ONCE per bucket (dst % P) into a numpy CSR block:
  deterministic (dst, src) lexsort (the counting sort of
  tuned_variant_csr.c:179-229 with a fixed total order, so a rebuilt
  block is bit-identical regardless of shuffle arrival order), indptr
  over the dst runs, sources localized to dense gather slots;
- in SCALE mode a static ``routes`` table (vid → bucket, slot, tag)
  carries BOTH the gather routes (tag=1: src rank → every bucket its
  out-edges feed) and the identity routes (tag=0: each vertex's own rank
  → its home bucket, for the delta and the base term). Blocks (+ routes
  when built) are the DISTRIBUTE_DATA moment
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

Per-superstep plan, frontier-broadcast mode (n ≤ BROADCAST_ROW_LIMIT, r6
form): the driver-held rank vector crosses as ONE ``sc.broadcast`` numpy
array and the superstep is a single ``mapInArrow`` over the static
cached blocks⊕aux table — no routes table, no join, no cogroup, ZERO
shuffle exchanges (plan: InMemoryScan → MapInArrow → ArrowCollect; the
round-≤5 LocalRelation + broadcast-join + cogroup form measured 368 ms
per superstep at sf0.1, 165 ms of it the per-superstep LocalRelation
build — the map form runs ~160 ms). Scale mode (large n): ranks
merge-join the vid-partitioned routes, the routed frontier exchanges
into its dst buckets — the frontier-sized shuffles a distributed
PageRank fundamentally pays, never a full-vector broadcast. The
join-agg kernel runs three joins and two aggregations through the JVM
per superstep; at scale both are shuffle-bound by the frontier, and the
CSR path does its math vectorized.

Scale-mode history: with the round-≤3 ``applyInPandas`` kernel the routed
frontier's pandas materialization dominated (measured 3.3× BEHIND
join-agg at 1.1M vertices — at 2 FLOPs/edge the boundary cost dwarfed the
vectorization win, BENCH/sweep.csv r3). Round 4 moved the cogroup to
``applyInArrow`` (columns stay Arrow buffers both directions, numpy views
on top); the same probe now measures the scale mode 1.2× AHEAD of
join-agg (16.1s vs 19.3s compute at 1.1M vertices / 3.97M edges) and
1.07× ahead at 4M vertices / 14.4M edges (24.6s vs 26.3s) —
BENCH/scale_kernel_probe_*.json, interleaved min-of-3.

No per-row Python anywhere (input_hint requirement): everything crossing
the JVM↔Python boundary is an Arrow batch, everything inside is numpy.

The run-length SIMD segmentation of the reference
(`split_indices`, tuned_variant_simd.c:186-242) is deliberately absent:
Arrow batches give full-width vectorization regardless of run lengths
(SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pagerank_optimization_spark.operators.graph_build import vertex_ids_counted
from pagerank_optimization_spark.operators.pagerank import _teleport

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
                                                            # broadcast-frontier kernel
                                                            # gathers pr[src_vids] directly
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


def _bucket_size(n: int, b: int, P: int) -> int:
    return (n - b + P - 1) // P if b < n else 0


def _make_arrow_kernel(n_: int, P: int, d_: float, dm: float):
    """Scale-mode superstep as a cogrouped ``applyInArrow`` function: the
    routed frontier's columns come off the exchange as Arrow buffers and
    the state goes back as Arrow buffers — no pandas Block materialization
    on either side of the JVM↔Python boundary (round-3 measurement: that materialization, not
    the shuffle, dominated the scale mode's per-superstep cost). Math is
    numpy, identical operations and reduction order as rounds ≤3 (the
    cross-kernel 1e-12 differential and bitwise-resume tests pin it)."""
    import pyarrow as pa

    def fused_arrow(key, blk: "pa.Table", routed_tb: "pa.Table") -> "pa.Table":
        b = int(key[0].as_py())
        m = _bucket_size(n_, b, P)
        if m == 0:
            return pa.table(
                {
                    "vid": pa.array([], type=pa.int64()),
                    "pr": pa.array([], type=pa.float64()),
                    "abs_delta": pa.array([], type=pa.float64()),
                    "dang_pr": pa.array([], type=pa.float64()),
                }
            )
        pos = routed_tb["pos"].combine_chunks().to_numpy(zero_copy_only=False)
        pr = routed_tb["pr"].combine_chunks().to_numpy(zero_copy_only=False)
        tag = routed_tb["tag"].combine_chunks().to_numpy(zero_copy_only=False)
        own = tag == 0
        old = np.zeros(m, dtype=np.float64)
        old[pos[own]] = pr[own]
        acc = np.zeros(m, dtype=np.float64)
        reset_arr = None
        if blk.num_rows > 0:
            src_idx_buf = blk["src_idx"][0].as_py()
            if src_idx_buf is not None:
                src_idx = np.frombuffer(src_idx_buf, dtype=np.int64)
                indptr = np.frombuffer(blk["indptr"][0].as_py(), dtype=np.int64)
                dst_local = np.frombuffer(blk["dst_local"][0].as_py(), dtype=np.int64)
                w = np.frombuffer(blk["weight"][0].as_py(), dtype=np.float64)
                x = np.zeros(int(blk["n_src"][0].as_py()), dtype=np.float64)
                x[pos[~own]] = pr[~own]
                contrib = w * x[src_idx]                   # gather+mul
                acc[dst_local] = np.add.reduceat(contrib, indptr[:-1])
            mask = np.frombuffer(blk["dang_mask"][0].as_py(), dtype=np.uint8).astype(bool)
            ra = blk["reset_arr"][0].as_py()
            if ra is not None:
                reset_arr = np.frombuffer(ra, dtype=np.float64)
        else:  # bucket with vertices but no aux row cannot happen; guard
            mask = np.zeros(m, dtype=bool)
        if reset_arr is not None:
            base = ((1.0 - d_) + d_ * dm) * reset_arr
        else:
            base = (1.0 - d_) / n_ + d_ * dm / n_
        new = base + d_ * acc
        return pa.table(
            {
                "vid": pa.array(b + P * np.arange(m, dtype=np.int64)),
                "pr": pa.array(new),
                "abs_delta": pa.array(np.abs(new - old)),
                "dang_pr": pa.array(np.where(mask, new, 0.0)),
            }
        )

    return fused_arrow


def _make_arrow_map_kernel(n_: int, P: int, d_: float, dm: float, bc):
    """Broadcast-frontier superstep as ONE ``mapInArrow`` over the static
    blocks⊕aux table (r6 restructure). The round-≤5 form broadcast-JOINED a
    per-superstep LocalRelation of the rank vector onto a routes table and
    cogrouped — measured at sf0.1 the LocalRelation build alone was 165 ms
    of the 368 ms superstep, all of it spent re-shipping and re-planning
    data the driver already held. Here the frontier crosses once per
    superstep as an ``sc.broadcast`` numpy array (bounded: this mode is
    gated on n ≤ BROADCAST_ROW_LIMIT), the kernel gathers pr[src_vids]
    directly by GLOBAL vid, and the old rank for the delta is pr[b::P] —
    no routes table, no join, no cogroup, no per-superstep exchange at
    all. Math and float64 reduction order are IDENTICAL to the cogroup
    form (same lexsorted edge order, same np.add.reduceat, same dense
    bucket slices), so results are bitwise-unchanged."""
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
                old = pr_all[b::P]
                acc = np.zeros(m, dtype=np.float64)
                reset_arr = None
                src_idx_buf = tb["src_idx"][i].as_py()
                if src_idx_buf is not None:
                    src_idx = np.frombuffer(src_idx_buf, dtype=np.int64)
                    src_vids = np.frombuffer(tb["src_vids"][i].as_py(), dtype=np.int64)
                    indptr = np.frombuffer(tb["indptr"][i].as_py(), dtype=np.int64)
                    dst_local = np.frombuffer(tb["dst_local"][i].as_py(), dtype=np.int64)
                    w = np.frombuffer(tb["weight"][i].as_py(), dtype=np.float64)
                    x = pr_all[src_vids]
                    contrib = w * x[src_idx]                   # gather+mul
                    acc[dst_local] = np.add.reduceat(contrib, indptr[:-1])
                mask = np.frombuffer(tb["dang_mask"][i].as_py(), dtype=np.uint8).astype(bool)
                ra = tb["reset_arr"][i].as_py()
                if ra is not None:
                    reset_arr = np.frombuffer(ra, dtype=np.float64)
                if reset_arr is not None:
                    base = ((1.0 - d_) + d_ * dm) * reset_arr
                else:
                    base = (1.0 - d_) / n_ + d_ * dm / n_
                new = base + d_ * acc
                out_vid.append(b + P * np.arange(m, dtype=np.int64))
                out_pr.append(new)
                out_ad.append(np.abs(new - old))
                out_dp.append(np.where(mask, new, 0.0))
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


def build_routes(
    vid_edges: DataFrame,
    vids: DataFrame,
    n_buckets: int,
    partitions: int,
    *,
    bucket_layout: bool,
) -> DataFrame:
    """Static routing table (vid, bucket, pos, tag):

    - tag=1 gather routes: source vid → every dst bucket it feeds, pos =
      the bucket-local gather slot (rank of src among the bucket's
      distinct sources — the same ascending order np.unique gives the
      block's slot space);
    - tag=0 identity routes: each vertex → its home bucket (vid % P) at
      its dense offset (vid // P) — carries the old rank for the delta
      and guarantees every vertex appears in its bucket's output.

    ``bucket_layout=True`` (the broadcast-frontier mode, n ≤
    BROADCAST_ROW_LIMIT): partition by bucket so the per-superstep
    BroadcastHashJoin output feeds the cogroup with ZERO exchanges.
    ``bucket_layout=False`` (scale mode): partition by vid for the
    co-partitioned merge join against the canonical rank layout.

    Size: |V| identity rows + one row per distinct (src, dst-bucket)
    pair ≤ min(nnz, |V|·P) — the per-superstep shuffle volume, the same
    frontier-replication bound a vertex-cut graph system pays."""
    P = n_buckets
    gather = (
        vid_edges.select(
            F.col("src").alias("vid"),
            F.pmod(F.col("dst"), F.lit(P)).cast("int").alias("bucket"),
        )
        .distinct()
    )
    w = W.partitionBy("bucket").orderBy("vid")
    gather = gather.select(
        "vid",
        "bucket",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.lit(1).cast("tinyint").alias("tag"),
    )
    ident = vids.select(
        "vid",
        F.pmod(F.col("vid"), F.lit(P)).cast("int").alias("bucket"),
        ((F.col("vid") - F.pmod(F.col("vid"), F.lit(P))) / F.lit(P)).cast("long").alias("pos"),
        F.lit(0).cast("tinyint").alias("tag"),
    )
    routes = gather.unionByName(ident)
    if bucket_layout:
        return routes.repartition(P, "bucket")
    return routes.repartition(partitions, "vid").sortWithinPartitions("vid")


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
    frontier_override: bool | None = None,
) -> dict:
    key = (id(vertices._jdf), id(edges._jdf), id_col, partitions, frontier_override)
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
        .persist()  # read 3× below (blocks, routes, dangling) — translate once
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

    # DISTRIBUTE_DATA: blocks ⊕ aux (≤P rows), routes — compiled once.
    # broadcast_frontier: below the row limit the per-superstep rank vector
    # is broadcast (zero-exchange supersteps); above it, co-partitioned
    # shuffles — a full-vector broadcast at 10^9 vertices is a driver OOM.
    # An explicit override (pagerank(csr_broadcast_frontier=...)) forces
    # either mode — the scale mode is testable on small graphs this way
    # (the reference rig runs EVERY variant through the same harness,
    # verify_op.c:196-254).
    if frontier_override is None:
        broadcast_frontier = n <= BROADCAST_ROW_LIMIT
    else:
        broadcast_frontier = bool(frontier_override)
    blocks = build_csr_blocks(vid_edges, partitions)
    aux = build_aux(vids, dangling_vids, None, n, partitions)
    blocks_aux = (
        aux.join(blocks, "bucket", "left").repartition(partitions, "bucket").persist()
    )
    # routes only exist in SCALE mode (r6): the broadcast-frontier superstep
    # gathers pr[src_vids] from the broadcast array inside the kernel, so
    # the gather/identity routing table — and its setup window job — is
    # gone entirely in that mode.
    routes = None
    if not broadcast_frontier:
        routes = build_routes(
            vid_edges, vids, partitions, partitions, bucket_layout=False
        ).persist()
    # force the compiled layout NOW: DISTRIBUTE_DATA belongs to setup, not
    # to the first timed superstep (the reference's timer starts after
    # distribution, timer_op.c; join-agg's setup likewise materializes its
    # co-partitioned cache via its nnz count). Deferring this put 10-15s of
    # one-time compile inside superstep 0's wall at 4M vertices — same
    # total work, asymmetric attribution between kernels.
    blocks_aux.count()
    if routes is not None:
        routes.count()
    # ≤P cached rows — a scalar agg over the just-materialized aux cache
    n_dangling = int(
        blocks_aux.agg(F.coalesce(F.sum("n_dang"), F.lit(0))).collect()[0][0]
    )

    def release(_frames=(blocks_aux, routes, vid_edges)):
        # ids is localCheckpointed, not persisted: its blocks are freed by
        # the ContextCleaner once the evicted entry's references are GC'd
        for df in _frames:
            if df is not None:
                df.unpersist()

    ent = {
        "ids": ids,
        "n": n,
        "nnz": nnz,
        "partitions": partitions,  # effective bucket count (≤ requested)
        "vids": vids,
        "dangling_vids": dangling_vids,
        "n_dangling": n_dangling,
        "broadcast_frontier": broadcast_frontier,
        "blocks": blocks,
        "blocks_aux": blocks_aux,
        "routes": routes,
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




class _Csr:
    """Key space shared by both csr kernels: dense vids 0..n-1 from the
    compiled layout; ranks map back to entities once, at the end. The
    compiled layout stays cached across calls (released on cache
    eviction / clear_compile_cache); only per-call extras are released
    here. ``reset`` is mapped into vid space, normalized, and baked into
    the per-bucket aux arrays — personalized runs rebuild only that aux
    slice, the blocks and routes come from the compiled cache untouched."""

    key = "vid"

    def __init__(self, ent: dict, *, id_col: str, damping: float, reset: DataFrame | None):
        self.id_col, self.damping = id_col, float(damping)
        self.ids, self.n, self.nnz = ent["ids"], ent["n"], ent["nnz"]
        self.spark = self.ids.sparkSession
        self.partitions = ent["partitions"]  # effective bucket count (≤ requested)
        self.vertices, self.dangling = ent["vids"], ent["dangling_vids"]
        self.n_dangling, self.routes = ent["n_dangling"], ent["routes"]
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

    def release(self) -> None:
        for df in self._local:
            df.unpersist()


class _BroadcastFrontier(_Csr):
    """n ≤ BROADCAST_ROW_LIMIT: the frontier fits on the driver BY MODE
    DEFINITION (that is what made broadcasting it safe), so the state is a
    dense vid-indexed numpy array. Each superstep ships it as one
    ``sc.broadcast`` and runs ONE ``mapInArrow`` job over the static cached
    blocks⊕aux table — no join, no cogroup, no exchange (plan:
    InMemoryScan → MapInArrow → ArrowCollect; see _make_arrow_map_kernel).
    The loop-carried scalars reduce in FIXED vid-sorted numpy order."""

    _bc = None

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
        delta = float(pdf["abs_delta"].to_numpy().sum())
        next_dm = float(pdf["dang_pr"].to_numpy().sum())
        bc.destroy()
        self._bc = None
        return pdf["pr"].to_numpy(dtype=np.float64).copy(), delta, next_dm

    def to_frame(self, pr: np.ndarray) -> DataFrame:
        return self.spark.createDataFrame(
            pd.DataFrame({"vid": np.arange(int(self.n), dtype=np.int64), "pr": pr}),
            "vid long, pr double",
        )

    def release(self) -> None:
        if self._bc is not None:
            self._bc.destroy()
        super().release()


class _Scale(_Csr):
    """Large n: ranks merge-join the vid-partitioned routes and the routed
    frontier exchanges into its dst buckets — the frontier-sized shuffles a
    distributed PageRank fundamentally pays; never a full-vector
    broadcast."""

    def init(self, ranks: DataFrame | None) -> DataFrame:
        if ranks is None:
            ranks = self.vertices.withColumn("pr", F.lit(1.0 / self.n))
        return ranks.localCheckpoint(eager=True)

    def step(self, ranks: DataFrame, dm: float):
        P = self.partitions
        fused_arrow = _make_arrow_kernel(int(self.n), P, self.damping, dm)
        routed = self.routes.hint("merge").join(ranks, "vid")
        state = (
            self.blocks_aux.groupBy("bucket")
            .cogroup(routed.select("bucket", "pos", "pr", "tag").groupBy("bucket"))
            .applyInArrow(fused_arrow, schema=STATE_SCHEMA)
        )
        state = state.localCheckpoint(eager=False)
        # ONE scalar job materializes the checkpoint AND reads the
        # loop-carried scalars (no join against the previous vector).
        # Reduction is per-bucket first (each bucket's rows are one
        # contiguous cogroup output chunk, so the partial agg accumulates
        # them in the kernel's vid order), then the ≤P bucket scalars sum in
        # FIXED bucket order on the driver — the loop-carried scalars are
        # bitwise-deterministic, like the broadcast mode's vid-sorted numpy
        # reduction (resume must be bit-identical to an uninterrupted run).
        brows = (
            state.groupBy(F.pmod(F.col("vid"), F.lit(P)).cast("int").alias("b"))
            .agg(
                F.sum("abs_delta").alias("bd"),
                F.coalesce(F.sum("dang_pr"), F.lit(0.0)).alias("bm"),
            )
            .collect()
        )
        brows.sort(key=lambda r: r["b"])
        delta = float(np.sum(np.array([r["bd"] for r in brows], dtype=np.float64)))
        next_dm = float(np.sum(np.array([r["bm"] for r in brows], dtype=np.float64)))
        return state.select("vid", "pr"), delta, next_dm

    def to_frame(self, ranks: DataFrame) -> DataFrame:
        return ranks


def csr_kernel(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str,
    partitions: int,
    damping: float,
    reset: DataFrame | None = None,
    broadcast_frontier: bool | None = None,
) -> _Csr:
    """The csr-blocks kernel for pagerank(kernel='csr-blocks'): compiles
    (or fetches) the layout and picks the frontier mode. The ranks it
    yields are column-identical to the join-agg kernel's (cross-kernel
    differential bar: 1e-12, SURVEY.md §5 item 3).
    ``broadcast_frontier``: None (default) picks by |V| vs
    BROADCAST_ROW_LIMIT; True/False forces broadcast-frontier or scale
    (merge-join + frontier shuffle) mode regardless of size — both modes
    run through the same correctness harness.

    Cache lifetime: the compiled layout (blocks, routes, translated edges,
    id map) stays persisted across calls in a bounded LRU
    (_COMPILE_CACHE, cap 2) keyed by the exact input DataFrames —
    repeated runs on the same graph skip DISTRIBUTE_DATA, mirroring the
    reference's distribute-once/measure-many protocol (timer_op.c:52-61).
    Library callers done with a large graph should call
    ``clear_compile_cache()`` to free the pinned executor storage
    immediately; otherwise it frees on LRU eviction or session stop."""
    ent = _compile(vertices, edges, id_col, partitions, broadcast_frontier)
    cls = _BroadcastFrontier if ent["broadcast_frontier"] else _Scale
    return cls(ent, id_col=id_col, damping=damping, reset=reset)
