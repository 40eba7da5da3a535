"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (README.md says why each was
chosen and which layers it skips):

- ``rank-converge``  PageRank to L1 ≤ 1e-6, kernel="auto" (csr-blocks)
- ``rank-resume``    join-agg PageRank with per-superstep checkpoints,
                     killed after K supersteps and resumed to 2K

A run generates the seed's inputs in a child process (once per block of
seeds, cached under .bench_build/perfbench/inputs), starts Spark, sets up,
then repeats the workload's job until ``--seconds`` of job time have been
measured (at least once), checking every job's output against an
independent oracle outside the timed region. ``--trace 1`` adds one traced job and reports the
per-layer metrics. The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import harness
from spans import NullTracer, Tracer

HERE = Path(__file__).resolve().parent
SETUP_REPS = 3          # set-up repetitions; setup_s uses the median
RUN_WALL_CAP_S = 140.0  # start no further job that would end past this
GEN_BLOCK = 5           # seeds generated per child process

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.rows": "count",
    "graph_build.build_s": "s",
    "graph_build.vertices": "count",
    "graph_build.edges": "count",
    "pagerank.supersteps": "count",
    "pagerank.loop_s": "s",
    "pagerank.superstep_ms_p50": "ms",
    "pagerank.superstep_ms_tail": "ms",
    "pagerank.superstep_tail_pct": "%",
    "pagerank.prep_s": "s",
    "pagerank.jobs_per_superstep": "jobs/superstep",
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.save_ms_p50": "ms",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.resume_s": "s",
    "partitioning.hub_threshold": "count",
    "partitioning.hub_probe_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_committed_mb": "MB",
    "host.cpu_psi_some": "share",
    "host.cpu_steal": "share",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["rank-converge", "rank-resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def ensure_inputs(work: Path, seed: int) -> Path:
    """The seed's inputs and oracle answers. A child process generates them
    the first time, for the whole block of GEN_BLOCK consecutive seeds the
    seed belongs to (one JVM start per block). The cache is keyed by the
    generator code, so a change to it regenerates."""
    code = hashlib.sha256(
        b"".join((HERE / f).read_bytes() for f in ("generate.py", "oracle.py", "workloads.py"))
    ).hexdigest()[:12]
    cache = work / "inputs" / code
    first = seed - seed % GEN_BLOCK
    missing = [s for s in range(first, first + GEN_BLOCK) if not (cache / f"seed{s}" / "DONE").exists()]
    if missing:
        subprocess.run(
            [sys.executable, str(HERE / "generate.py"), "--root", str(cache),
             "--seeds", *map(str, missing)],
            check=True, timeout=170, stdout=sys.stderr,
        )
    return cache / f"seed{seed}"


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it
    (p50 when there are fewer) → (percentile, value)."""
    pct = 50.0
    for p in (75.0, 90.0, 95.0, 99.0):
        if len(samples) * (1 - p / 100) >= 10:
            pct = p
    if not samples:
        return pct, 0.0
    return pct, float(statistics.quantiles(samples, n=100, method="inclusive")[int(pct) - 1]
                      if len(samples) > 1 else samples[0])


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Run:
    """One run: set-up, the timed jobs, and (``--trace 1``) the traced job."""

    def __init__(self, spark, args, tracer, workload, inputs_dir: Path, scratch: Path):
        self.spark, self.args, self.tracer = spark, args, tracer
        self.off = NullTracer()
        self.wl = workload
        self.inputs_dir = inputs_dir
        with np.load(inputs_dir / "oracle.npz") as z:
            self.oracle = dict(z)
        self.ctx = {"ckpt_root": scratch / "ckpt", "run_id": "warm"}
        self.inputs = None
        self.attempted = self.failed = 0
        self.jobs: list[tuple[float, object]] = []

    def setup(self) -> None:
        """SETUP_REPS preparations of the input (the last one is kept), with
        the warm-up after the first: the workload's own job, cut short (see
        workloads.py)."""
        for rep in range(SETUP_REPS):
            if self.inputs is not None:
                self.inputs.release()
            with self.tracer.span("setup.prepare"):
                self.inputs = self.wl.prepare(
                    self.spark, self.inputs_dir / "transcripts.parquet", self.tracer)
            if rep == 0:
                with self.tracer.span("warmup"):
                    self.wl.job(self.spark, self.inputs, self.off, self.ctx, warm=True)

    def attempt(self, tracer) -> tuple[float, object]:
        self.ctx["run_id"] = f"job{self.attempted}"
        t0 = time.monotonic()
        try:
            with tracer.span("job"):
                out = self.wl.job(self.spark, self.inputs, tracer, self.ctx)
            dt = time.monotonic() - t0
            problems = self.wl.check(out, self.oracle)
        except Exception:  # noqa: BLE001 - a raising job is a failed attempt
            dt = time.monotonic() - t0
            out, problems = None, [traceback.format_exc()]
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: job {self.attempted} failed:\n  " + "\n  ".join(problems),
                  file=sys.stderr)
            out = None
        return dt, out

    def timed(self, t_start: float) -> None:
        """Jobs back to back until --seconds of job time (at least one)."""
        spent = 0.0
        while True:
            dt, out = self.attempt(self.off)
            self.jobs.append((dt, out))
            spent += dt
            if spent >= self.args.seconds or time.monotonic() - t_start + dt > RUN_WALL_CAP_S:
                break
        self.peak_rss_mb = harness.tree_peak_rss_mb()

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str, int]]:
        good = [(dt, out) for dt, out in self.jobs if out is not None] or self.jobs
        rates = [out.edges * (out.supersteps or 1) / dt for dt, out in good if out is not None]
        return {
            "job_s": (median([dt for dt, _ in good]), "s", len(good)),
            "setup_s": (setup_s, "s", SETUP_REPS),
            "peak_rss_mb": (self.peak_rss_mb, "MB", 1),
            "edges_per_s": (median(rates), "1/s", len(rates)),
        }

    def jobs_per_superstep(self) -> float:
        """Spark jobs per superstep: the job-group job count of a K=3 call
        minus that of a K=1 call, over 2 (the call's fixed jobs cancel)."""
        from pagerank_optimization_spark.operators.pagerank import pagerank

        kwargs = self.wl.probe_kwargs()
        sc = self.spark.sparkContext
        counts = []
        for k in (1, 3):
            group = f"perfbench-probe-{k}"
            sc.setJobGroup(group, "perfbench jobs-per-superstep probe")
            try:
                pagerank(self.inputs.vertices, self.inputs.edges, fixed_iters=k, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return (counts[1] - counts[0]) / 2

    def traced(self) -> dict[str, tuple[float, str, int]]:
        """One traced job after the timed ones; the tracing overhead is its
        time minus the untraced job_s."""
        from pagerank_optimization_spark.plans import partitioning

        tr, spark = self.tracer, self.spark
        mark = len(tr.spans)
        thresholds: list[int] = []
        gc0 = harness.jvm_gc_s(spark)
        with tr.patched(partitioning, "auto_hub_split_degree", "partitioning.hub_probe",
                        on_result=lambda rec, thr: thresholds.append(thr or 0)):
            dt, out = self.attempt(tr)
        gc_s = harness.jvm_gc_s(spark) - gc0
        heap_mb = harness.jvm_heap_committed_mb(spark)
        untraced_s = self.end_to_end(0.0)["job_s"][0]
        jps = self.jobs_per_superstep()

        def since(name):
            return tr.durations(name, since=mark)

        steps_ms = [d * 1000 for d in since("pagerank.superstep")]
        tail_pct, tail_ms = tail_percentile(steps_ms)
        loop_s = sum(steps_ms) / 1000
        ckpt_s = sum(since("checkpoint.save") + since("checkpoint.resume") + since("checkpoint.last_metrics"))
        inputs = self.inputs
        builds = tr.durations("graph_build.build")
        run_dir = self.ctx["ckpt_root"] / self.ctx["run_id"]
        m = {
            "session.start_s": (tr.durations("session.start")[0], 1),
            "sources.read_s": (median(tr.durations("sources.read")), len(tr.durations("sources.read"))),
            "sources.rows": (inputs.rows, 1),
            "graph_build.build_s": (median(builds), len(builds)),
            "graph_build.vertices": (inputs.n_vertices, 1),
            "graph_build.edges": (inputs.n_edges, 1),
            "pagerank.supersteps": (len(steps_ms), 1),
            "pagerank.loop_s": (loop_s, len(steps_ms)),
            "pagerank.superstep_ms_p50": (median(steps_ms), len(steps_ms)),
            "pagerank.superstep_ms_tail": (tail_ms, len(steps_ms)),
            "pagerank.superstep_tail_pct": (tail_pct, len(steps_ms)),
            "pagerank.prep_s": (sum(since("pagerank.call")) - loop_s - ckpt_s if steps_ms else 0.0,
                                len(since("pagerank.call"))),
            "pagerank.jobs_per_superstep": (jps, 2),
            "checkpoint.saves": (len(since("checkpoint.save")), 1),
            "checkpoint.save_s": (sum(since("checkpoint.save")), len(since("checkpoint.save"))),
            "checkpoint.save_ms_p50": (median([d * 1000 for d in since("checkpoint.save")]),
                                       len(since("checkpoint.save"))),
            "checkpoint.bytes_written": (dir_bytes(run_dir) if run_dir.exists() else 0, 1),
            "checkpoint.resume_s": (sum(since("checkpoint.resume") + since("checkpoint.last_metrics")),
                                    len(since("checkpoint.resume"))),
            "partitioning.hub_threshold": (max(thresholds, default=0), len(thresholds)),
            "partitioning.hub_probe_s": (sum(since("partitioning.hub_probe")), len(thresholds)),
            "jvm.gc_s": (gc_s, 1),
            "jvm.heap_committed_mb": (heap_mb, 1),
            "trace.overhead_s": (dt - untraced_s, 1),
            "trace.spans": (len(tr.spans), 1),
        }
        self.traced_job_s, self.untraced_job_s = dt, untraced_s
        return {k: (float(v), PER_LAYER[k], n) for k, (v, n) in m.items()}


def print_metrics(workload: str, metrics: dict[str, tuple[float, str, int]]) -> None:
    for name, (value, unit, n) in metrics.items():
        print(f"{workload}  {name:30s} {value:>16.6f} {unit:<15s} n={n}")


def main() -> None:
    age0 = harness.process_age_s()
    t_start = time.monotonic()
    psi_start = harness.cpu_psi_some_us()
    steal_start = harness.cpu_steal_ticks()
    args = parse_args()
    root = harness.checkout_root()
    if not (root / "pagerank_optimization_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no pagerank_optimization_spark package under {root}; "
                 "run from the root of a checkout")
    sys.path.insert(0, str(root))
    work = harness.work_dir(root)

    def phase(done: str) -> None:
        print(f"perfbench: {age0 + time.monotonic() - t_start:7.1f} s  {done}", file=sys.stderr)

    inputs_dir = ensure_inputs(work, args.seed)
    phase("inputs ready")

    tracer = Tracer()
    scratch = work / "run"
    with tracer.span("session.start"):
        conf = harness.pin_environment(root, scratch)
        import workloads

        spark = harness.start_spark(conf)
    phase("session started")
    try:
        run = Run(spark, args, tracer, workloads.WORKLOADS[args.workload], inputs_dir, scratch)
        run.setup()
        phase("set up")
        # interpreter start + session + one preparation (median) + warm-up
        setup_s = (age0 + tracer.durations("session.start")[0] + tracer.durations("warmup")[0]
                   + median(tracer.durations("setup.prepare")))
        run.timed(t_start)
        phase(f"{run.attempted} timed job(s) run")
        e2e = run.end_to_end(setup_s)
        layers = run.traced() if args.trace else None
        if layers is not None:
            phase("traced job run")
        wall_s = age0 + time.monotonic() - t_start
        psi = (harness.cpu_psi_some_us() - psi_start) / (wall_s * 1e6)
        steal_end = harness.cpu_steal_ticks()
        steal = (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1])
    finally:
        harness.stop_spark(spark)
    phase("spark stopped")

    w = args.workload
    print_metrics(w, e2e)
    print(f"{w}  {'failed_share':30s} {run.failed / run.attempted:>16.6f} {'share':<15s} "
          f"n={run.attempted}")
    print(f"{w}  host over the run: cpu pressure (some) {psi:.4f} share, cpu steal {steal:.4f} share")
    if layers is not None:
        layers["host.cpu_psi_some"] = (psi, "share", 1)
        layers["host.cpu_steal"] = (steal, "share", 1)
        layers = {k: layers[k] for k in PER_LAYER}
        spans_path = work / "spans" / f"{w}-seed{args.seed}.json"
        tracer.dump(spans_path, tracer.spans[0]["start"], {
            "workload": w, "seed": args.seed,
            "untraced_job_s": run.untraced_job_s, "traced_job_s": run.traced_job_s,
        })
        print_metrics(w, layers)
        print(f"{w}  untraced job_s {run.untraced_job_s:.4f} s, traced job_s "
              f"{run.traced_job_s:.4f} s: tracing overhead "
              f"{run.traced_job_s - run.untraced_job_s:+.4f} s")
        print(f"{w}  spans: {spans_path.relative_to(root)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in (layers or e2e).items()},
    }))


if __name__ == "__main__":
    main()
