"""CSR kernel microbenchmark — compute-parity context vs the
reference's GFLOP/s metric (timer_op.c:281-289: 2 FLOPs/edge/superstep).

The Spark numbers in bench.py include orchestration (shuffle, scheduling,
checkpointing); the reference's numbers are a bare in-cache kernel loop.
This tool measures OUR bare kernel — the numpy body that runs inside
the csr kernel's one ``mapInArrow`` task (pagerank_csr.csr_update:
fancy-index gather, multiply, ``np.add.reduceat`` segment sum) —
single-threaded on reference-like data, so the two kernels can be
compared apples-to-apples.

Usage: python tools/kernel_microbench.py [nnz_millions]
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np


def main() -> None:
    nnz = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 29_000_000
    m = max(1000, nnz // 14)  # ~14 edges/vertex like the transcript graph
    rng = np.random.default_rng(42)
    src = rng.integers(0, m, nnz, dtype=np.int64)
    dst = np.sort(rng.integers(0, m, nnz, dtype=np.int64))
    w = rng.random(nnz)
    x = rng.random(m)
    dst_unique, counts = np.unique(dst, return_counts=True)
    indptr = np.zeros(len(dst_unique) + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])

    # warm
    np.add.reduceat(w * x[src], indptr[:-1])
    trials = []
    for _ in range(5):
        t0 = time.perf_counter()
        contrib = w * x[src]
        sums = np.add.reduceat(contrib, indptr[:-1])
        trials.append(time.perf_counter() - t0)
    best = min(trials)  # min-of-trials like timer_op.c:52-61
    edges_per_sec = nnz / best
    print(
        json.dumps(
            {
                "nnz": nnz,
                "m": m,
                "best_seconds": round(best, 4),
                "edges_per_sec_single_thread": round(edges_per_sec),
                "gflops_equivalent": round(2e-9 * edges_per_sec, 3),
                "checksum": float(sums.sum()),
            }
        )
    )


if __name__ == "__main__":
    main()
