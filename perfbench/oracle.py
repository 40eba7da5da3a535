"""Independent answers for the benchmark's output checks.

Everything here works on the transcripts parquet with pandas and numpy only,
so a defect in the engine's graph build or PageRank kernels cannot hide by
being repeated in the oracle. The entity
rule mirrors pagerank_optimization_spark.functions.entities; the edge rule
mirrors operators.graph_build (reply adjacency, agent → tool, next turn →
tool, duplicates collapsed, self-loops kept).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_AGENTS = 17
DAMPING = 0.85


def _turn_entities(tr: pd.DataFrame) -> pd.DataFrame:
    tr = tr.sort_values(["conv_id", "turn_idx"], kind="mergesort", ignore_index=True)
    digits = tr["conv_id"].str.replace(r"[^0-9]", "", regex=True)
    agent = "agent:a" + (pd.to_numeric(digits.where(digits != "", "0")) % N_AGENTS).astype(str)
    tool = "tool:" + tr["tool"]
    ent = np.where(tr["role"] == "user", "conv:" + tr["conv_id"],
                   np.where(tr["role"] == "assistant", agent, tool))
    out = tr.assign(entity=ent, agent=agent, tool_ent=tool)
    return out[out["entity"].notna()].reset_index(drop=True)


def graph(tr: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """transcripts → (vertex names sorted, src index, dst index) of the
    distinct directed edge set."""
    t = _turn_entities(tr)
    same_prev = t["conv_id"].eq(t["conv_id"].shift(1))
    reply = pd.DataFrame({"src": t["entity"][same_prev], "dst": t["entity"].shift(1)[same_prev]})
    calls = (t["role"] == "assistant") & t["tool"].notna()
    tool_edges = pd.DataFrame({"src": t["agent"][calls], "dst": t["tool_ent"][calls]})
    same_next = t["conv_id"].eq(t["conv_id"].shift(-1))
    follow = calls & same_next
    followup = pd.DataFrame({"src": t["entity"].shift(-1)[follow], "dst": t["tool_ent"][follow]})
    edges = pd.concat([reply, tool_edges, followup], ignore_index=True).drop_duplicates()
    names = np.unique(np.concatenate([t["entity"].to_numpy(dtype=object),
                                      edges["src"].to_numpy(dtype=object),
                                      edges["dst"].to_numpy(dtype=object)]).astype(str))
    src = np.searchsorted(names, edges["src"].to_numpy(dtype=str))
    dst = np.searchsorted(names, edges["dst"].to_numpy(dtype=str))
    return names, src, dst


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, *, tol: float = 1e-6,
             max_iter: int = 100, fixed_iters: int | None = None) -> tuple[np.ndarray, int]:
    """Damped power iteration with dangling redistribution, the same update
    the engine documents: x' = (1-d)/n + d·(Aᵀx + Σ_dangling x / n), with
    A[u, v] = 1/outdeg(u). → (ranks, supersteps run)."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    w = 1.0 / outdeg[src]
    dangling = outdeg == 0
    x = np.full(n, 1.0 / n)
    k = fixed_iters if fixed_iters is not None else max_iter
    it = 0
    for it in range(1, k + 1):
        dm = x[dangling].sum()
        y = (1.0 - DAMPING) / n + DAMPING * (np.bincount(dst, weights=x[src] * w, minlength=n) + dm / n)
        delta = np.abs(y - x).sum()
        x = y
        if fixed_iters is None and delta <= tol:
            break
    return x, it
