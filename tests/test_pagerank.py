"""Differential PageRank tests: engine vs independent numpy float64 oracle
(SURVEY.md §5 item 2; north-rule bar: allclose atol=1e-6 per vertex —
tighter than the reference's own 1e-4 relative bar at verify_op.c:11)."""

import numpy as np
import pytest

from pagerank_optimization_spark.operators.graph_build import build_graph, build_edges, build_vertices
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts
from tests import oracle


def _ranks_dict(df):
    return {r[0]: r[1] for r in df.collect()}


@pytest.fixture(scope="module")
def small_graph(spark):
    transcripts = synthesize_transcripts(spark, 120, seed=42).cache()
    vertices, wedges = build_graph(transcripts)
    vertices = vertices.cache()
    wedges = wedges.cache()
    rows = transcripts.select("conv_id", "turn_idx", "role", "tool").collect()
    dict_rows = [r.asDict() for r in rows]
    o_edges = oracle.derive_edges(dict_rows)
    o_vertices = oracle.vertices_of(dict_rows, o_edges)
    return vertices, wedges, o_vertices, o_edges


def test_edge_derivation_matches_oracle(small_graph):
    vertices, wedges, o_vertices, o_edges = small_graph
    got = {(r.src, r.dst) for r in wedges.select("src", "dst").collect()}
    assert got == o_edges
    assert {r.entity for r in vertices.collect()} == set(o_vertices)


def test_pagerank_fixed_k_matches_numpy(small_graph):
    vertices, wedges, o_vertices, o_edges = small_graph
    res = pagerank(vertices, wedges, fixed_iters=5, partitions=8)
    got = _ranks_dict(res.ranks)
    want = oracle.pagerank_dense(o_vertices, o_edges, fixed_iters=5)
    assert set(got) == set(want)
    g = np.array([got[v] for v in o_vertices])
    w = np.array([want[v] for v in o_vertices])
    assert np.allclose(g, w, atol=1e-12)  # same float64 math
    assert res.iterations == 5


def test_pagerank_converged_matches_numpy(small_graph):
    vertices, wedges, o_vertices, o_edges = small_graph
    res = pagerank(vertices, wedges, tol=1e-6, max_iter=100, partitions=8)
    assert res.converged
    got = _ranks_dict(res.ranks)
    want = oracle.pagerank_dense(o_vertices, o_edges, tol=1e-6, max_iter=100)
    g = np.array([got[v] for v in o_vertices])
    w = np.array([want[v] for v in o_vertices])
    assert np.allclose(g, w, atol=1e-6)  # north-rule parity bar
    # mass conservation: damping + dangling redistribution keep Σrank = 1
    assert np.isclose(g.sum(), 1.0, atol=1e-9)
    # deltas monotone-ish decreasing and last ≤ tol
    assert res.deltas[-1] <= 1e-6


def test_dangling_mass_redistributed(spark):
    # two vertices: a → b, b dangling. Analytic fixpoint:
    # r_b = (1-d)/2 + d*(r_a + r_b/2); r_a = (1-d)/2 + d*(r_b/2)
    import datetime

    from pagerank_optimization_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    rows = [
        ("conv-1", 0, "user", "x", None, datetime.datetime(2024, 1, 1)),
        ("conv-1", 1, "assistant", "x", None, datetime.datetime(2024, 1, 1, 0, 0, 1)),
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    vertices, wedges = build_graph(df)
    # graph: agent:a1 → conv:conv-1 (reply edge); conv:conv-1 dangling
    res = pagerank(vertices, wedges, tol=1e-12, max_iter=200, partitions=2)
    got = _ranks_dict(res.ranks)
    d = 0.85
    # solve: ra = (1-d)/2 + d*(rc/2); rc = (1-d)/2 + d*(ra + rc/2)
    # where ra=rank(agent), rc=rank(conv)
    A = np.array([[1.0, -d / 2], [-d, 1.0 - d / 2]])
    b = np.array([(1 - d) / 2, (1 - d) / 2])
    ra, rc = np.linalg.solve(A, b)
    assert np.isclose(got["agent:a1"], ra, atol=1e-9)
    assert np.isclose(got["conv:conv-1"], rc, atol=1e-9)
    assert np.isclose(sum(got.values()), 1.0, atol=1e-12)


def test_resolve_auto_kernel_crossover():
    from pagerank_optimization_spark.operators.pagerank import resolve_auto_kernel
    from pagerank_optimization_spark.operators.pagerank_csr import BROADCAST_ROW_LIMIT

    assert resolve_auto_kernel(10) == "csr-blocks"
    assert resolve_auto_kernel(BROADCAST_ROW_LIMIT) == "csr-blocks"
    # above the broadcast limit join-agg keeps the rank vector in the JVM
    # and pays no layout compile (BENCH/scale_mode_vm4_1100000.json)
    assert resolve_auto_kernel(BROADCAST_ROW_LIMIT + 1) == "join-agg"


def test_kernel_auto_end_to_end(spark):
    import numpy as np

    from pagerank_optimization_spark.operators.graph_build import build_graph
    from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts

    vertices, wedges = build_graph(synthesize_transcripts(spark, 40, seed=5))
    a = {r[0]: r[1] for r in pagerank(vertices, wedges, fixed_iters=3, partitions=4).ranks.collect()}
    b = {r[0]: r[1] for r in pagerank(vertices, wedges, fixed_iters=3, partitions=4, kernel="auto").ranks.collect()}
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)
