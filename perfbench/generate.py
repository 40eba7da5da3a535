"""Generate inputs and oracle answers for a block of seeds.

Run by run.py in a child process the first time one of the block's seeds
is asked for, so that neither the generation work nor its JIT warm-up
reaches the process that measures:

    python3 perfbench/generate.py --root DIR --seeds N [N ...]

writes, per seed, ``DIR/seed<N>/transcripts.parquet`` (synthesize_transcripts
at the size in workloads.py) and ``DIR/seed<N>/oracle.npz``, then the marker
``DIR/seed<N>/DONE`` last.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import harness


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", type=Path, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()

    root = harness.checkout_root()
    sys.path.insert(0, str(root))
    conf = harness.pin_environment(root, harness.work_dir(root) / "gen-scratch")
    # nothing here is timed: the quick-start JIT suits a short-lived JVM
    conf["spark.driver.extraJavaOptions"] += " -XX:TieredStopAtLevel=1"

    import numpy as np
    import pandas as pd

    import oracle
    import workloads as wl
    from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts

    outs = {seed: harness.fresh_dir(args.root / f"seed{seed}") for seed in args.seeds}
    spark = harness.start_spark(conf)
    try:
        for seed, out in outs.items():
            synthesize_transcripts(spark, wl.N_CONV, seed=seed).write.parquet(
                str(out / "transcripts.parquet"))
    finally:
        harness.stop_spark(spark)

    for out in outs.values():
        tr = pd.read_parquet(out / "transcripts.parquet", columns=["conv_id", "turn_idx", "role", "tool"])
        names, src, dst = oracle.graph(tr)
        n = len(names)
        converged, _ = oracle.pagerank(n, src, dst, tol=wl.TOL, max_iter=wl.MAX_ITER)
        fixed, _ = oracle.pagerank(n, src, dst, fixed_iters=2 * wl.RESUME_K)
        np.savez(out / "oracle.npz", names=names, n_edges=len(src),
                 ranks_converged=converged, ranks_fixed=fixed)
        (out / "DONE").write_text("ok\n")


if __name__ == "__main__":
    main()
