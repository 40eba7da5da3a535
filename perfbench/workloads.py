"""The benchmark's workloads. Each one makes a different engine module do
most of the work and skips the others; README.md says why each was chosen.

A workload has:

- ``prepare``: one set-up repetition (read the parquet, build the graph);
  the result feeds the job;
- ``job``: the timed unit of work, ending with its result materialised on
  the Spark driver;
- ``check``: compares a job's result with the oracle, outside the timed
  region; → list of problems (empty when correct).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pagerank_optimization_spark.checkpoint import CheckpointManager
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.operators.pagerank_csr import clear_compile_cache

# Input size (conversations) for synthesize_transcripts.
N_CONV = 2_000

TOL = 1e-6
MAX_ITER = 100
WARM_ITERS = 2          # rank-converge warm-up: supersteps (rank-resume: K=1)
RESUME_K = 3            # rank-resume: supersteps per leg


@dataclass
class Inputs:
    transcripts: DataFrame
    rows: int
    vertices: DataFrame | None = None
    edges: DataFrame | None = None
    n_vertices: int = 0
    n_edges: int = 0

    def release(self) -> None:
        for df in (self.transcripts, self.vertices, self.edges):
            if df is not None:
                df.unpersist()


@dataclass
class Outcome:
    supersteps: int          # PageRank supersteps run by the job (0: none)
    edges: int               # |E| of the graph the job worked on
    result: dict[str, Any] = field(default_factory=dict)


def read_transcripts(spark: SparkSession, path: Path, tracer) -> Inputs:
    with tracer.span("sources.read"):
        tr = spark.read.parquet(str(path)).persist()
        rows = tr.count()
    return Inputs(tr, rows)


def build(inputs: Inputs, tracer) -> Inputs:
    with tracer.span("graph_build.build"):
        v, e = build_graph(inputs.transcripts)
        inputs.vertices, inputs.edges = v.persist(), e.persist()
        inputs.n_vertices, inputs.n_edges = inputs.vertices.count(), inputs.edges.count()
    return inputs


def _ranks_problems(pdf, oracle: dict, ranks: np.ndarray, atol: float) -> list[str]:
    names = oracle["names"]
    out = []
    total = float(pdf["pr"].sum())
    if abs(total - 1.0) > 1e-9:
        out.append(f"rank mass {total!r} is not 1 ± 1e-9")
    if len(pdf) != len(names):
        return out + [f"{len(pdf)} ranked vertices, oracle has {len(names)}"]
    ents = pdf["entity"].to_numpy(dtype=str)
    idx = np.searchsorted(names, ents).clip(0, len(names) - 1)
    if not np.array_equal(names[idx], ents):
        return out + ["ranked vertex names differ from the oracle's"]
    err = float(np.abs(pdf["pr"].to_numpy() - ranks[idx]).max())
    if err > atol:
        out.append(f"max |rank - oracle| = {err:.3e} > {atol:g}")
    return out


class RankConverge:
    name = "rank-converge"

    def prepare(self, spark, path, tracer) -> Inputs:
        inputs = read_transcripts(spark, path, tracer)
        build(inputs, tracer)
        inputs.transcripts.unpersist()
        return inputs

    def job(self, spark, inputs: Inputs, tracer, ctx: dict, warm: bool = False) -> Outcome:
        clear_compile_cache()
        with tracer.span("pagerank.call") as call:
            res = pagerank(
                inputs.vertices, inputs.edges, kernel="auto", tol=TOL,
                max_iter=WARM_ITERS if warm else MAX_ITER,
            )
            pdf = res.ranks.toPandas()
        tracer.supersteps(call, res.metrics)
        return Outcome(res.iterations, inputs.n_edges, {"res": res, "pdf": pdf})

    def probe_kwargs(self) -> dict:
        return {"kernel": "auto"}

    def check(self, out: Outcome, oracle: dict) -> list[str]:
        res = out.result["res"]
        problems = []
        if not res.converged or res.deltas[-1] > TOL:
            problems.append(f"not converged: last L1 delta {res.deltas[-1]:.3e}")
        return problems + _ranks_problems(out.result["pdf"], oracle, oracle["ranks_converged"], 1e-6)


class RankResume(RankConverge):
    name = "rank-resume"

    def job(self, spark, inputs: Inputs, tracer, ctx: dict, warm: bool = False) -> Outcome:
        k = 1 if warm else RESUME_K
        run_id = ctx["run_id"]
        shutil.rmtree(ctx["ckpt_root"] / run_id, ignore_errors=True)
        kwargs = dict(kernel="join-agg", hub_split_degree="auto")
        ckpt = CheckpointManager(spark, str(ctx["ckpt_root"]), run_id)
        tracer.instrument_checkpoint(ckpt)
        with tracer.span("pagerank.call") as call:
            first = pagerank(inputs.vertices, inputs.edges, fixed_iters=k, checkpointer=ckpt, **kwargs)
        tracer.supersteps(call, first.metrics)
        # simulated kill: the first leg's result is dropped; a new manager on
        # the same run resumes from its last complete superstep
        ckpt = CheckpointManager(spark, str(ctx["ckpt_root"]), run_id)
        tracer.instrument_checkpoint(ckpt)
        with tracer.span("pagerank.call") as call:
            res = pagerank(inputs.vertices, inputs.edges, fixed_iters=2 * k, checkpointer=ckpt, **kwargs)
            pdf = res.ranks.toPandas()
        tracer.supersteps(call, res.metrics)
        return Outcome(len(first.metrics) + len(res.metrics), inputs.n_edges,
                       {"res": res, "pdf": pdf, "ckpt": ckpt, "k": k})

    def probe_kwargs(self) -> dict:
        return {"kernel": "join-agg", "hub_split_degree": "auto"}

    def check(self, out: Outcome, oracle: dict) -> list[str]:
        res, k = out.result["res"], out.result["k"]
        problems = []
        steps = [m["superstep"] for m in res.metrics]
        if steps != list(range(k, 2 * k)):
            problems.append(f"resumed leg ran supersteps {steps}, expected {k}..{2 * k - 1}")
        stored = sorted(r[0] for r in out.result["ckpt"].metrics().select("superstep").collect())
        if stored != list(range(2 * k)):
            problems.append(f"checkpoint metrics hold supersteps {stored}, expected 0..{2 * k - 1}")
        return problems + _ranks_problems(out.result["pdf"], oracle, oracle["ranks_fixed"], 1e-9)


WORKLOADS = {w.name: w for w in (RankConverge(), RankResume())}
