"""Neighborhood-function differential tests: the exact pair-expansion
operator vs an independent Python BFS oracle (exact equality), and the
HyperBall sketch vs the exact operator (bounded relative error — the
sketch is the scale path, same testing contract as LSH-ANN recall)."""

import pytest

from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.neighborhood import (
    hyperball_reach,
    neighborhood_reach,
)
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts
from tests import oracle


@pytest.fixture(scope="module")
def graph(spark):
    transcripts = synthesize_transcripts(spark, 150, seed=7).cache()
    vertices, wedges = build_graph(transcripts)
    vertices, wedges = vertices.cache(), wedges.cache()
    rows = [r.asDict() for r in transcripts.select("conv_id", "turn_idx", "role", "tool").collect()]
    o_edges = oracle.derive_edges(rows)
    o_vertices = oracle.vertices_of(rows, o_edges)
    return vertices, wedges, o_vertices, o_edges


def py_reach(o_vertices, o_edges, r):
    adj = {}
    for s, d in o_edges:
        adj.setdefault(s, set()).add(d)
    out = {}
    for v in o_vertices:
        ball = {v}
        frontier = {v}
        for _ in range(r):
            nxt = set()
            for u in frontier:
                nxt |= adj.get(u, set())
            nxt -= ball
            if not nxt:
                break
            ball |= nxt
            frontier = nxt
        out[v] = len(ball)
    return out


@pytest.mark.parametrize("r", [0, 1, 2, 3])
def test_exact_reach_matches_python_bfs(graph, r):
    vertices, wedges, o_vertices, o_edges = graph
    got = {x.entity: x.reach for x in neighborhood_reach(vertices, wedges, r).collect()}
    assert got == py_reach(o_vertices, o_edges, r)


def test_exact_reach_known_chain(spark):
    """a→b→c chain: reach(a) = 1, 2, 3 at r = 0, 1, 2."""
    vertices = spark.createDataFrame([("a",), ("b",), ("c",)], "entity string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    for r, want in [(0, 1), (1, 2), (2, 3)]:
        got = {x.entity: x.reach for x in neighborhood_reach(vertices, edges, r).collect()}
        assert got["a"] == want, (r, got)


@pytest.mark.parametrize("salt", [None, 8])
def test_hyperball_tracks_exact(graph, salt):
    """p=8 HLL → ~6.5% typical error; assert mean relative error < 0.1
    and max < 0.35 against the exact reach at r=3, salted merge included
    (salting must not change the estimate: max is associative-commutative
    and monotonically_increasing_id only picks WHICH pre-group merges)."""
    vertices, wedges, o_vertices, o_edges = graph
    exact = py_reach(o_vertices, o_edges, 3)
    est = {
        x.entity: x.reach_est
        for x in hyperball_reach(vertices, wedges, 3, p=8, merge_salt=salt).collect()
    }
    assert set(est) == set(exact)
    rel = [abs(est[v] - exact[v]) / exact[v] for v in exact]
    assert sum(rel) / len(rel) < 0.10, sum(rel) / len(rel)
    assert max(rel) < 0.35, max(rel)


def test_hyperball_salt_invariance(graph):
    """The salted two-level merge yields BITWISE the same registers as the
    unsalted merge (max over any grouping of the same multiset)."""
    vertices, wedges, *_ = graph
    a = {
        x.entity: x.reach_est
        for x in hyperball_reach(vertices, wedges, 2, p=6, merge_salt=None).collect()
    }
    b = {
        x.entity: x.reach_est
        for x in hyperball_reach(vertices, wedges, 2, p=6, merge_salt=16).collect()
    }
    assert a == b


def test_hyperball_monotone_in_r(graph):
    """Balls only grow: the register arrays are max-merged, so the
    estimate at r+1 is ≥ the estimate at r for every vertex."""
    vertices, wedges, *_ = graph
    e1 = {x.entity: x.reach_est for x in hyperball_reach(vertices, wedges, 1, p=6).collect()}
    e2 = {x.entity: x.reach_est for x in hyperball_reach(vertices, wedges, 2, p=6).collect()}
    assert all(e2[v] >= e1[v] - 1e-9 for v in e1)


def test_hyperball_curve_and_effective_diameter(graph):
    """Curve tracks the exact pairwise counts (≤10% at p=8) and the
    q=0.9 effective diameter lands within ±1 hop of the exact one."""
    from pagerank_optimization_spark.operators.neighborhood import (
        effective_diameter,
        hyperball_curve,
    )

    vertices, wedges, o_vertices, o_edges = graph
    r = 4
    curve = hyperball_curve(vertices, wedges, r, p=8)
    assert [h for h, _ in curve] == list(range(r + 1))
    exact_curve = [
        (h, float(sum(py_reach(o_vertices, o_edges, h).values()))) for h in range(r + 1)
    ]
    for (h, est), (_, ex) in zip(curve, exact_curve):
        assert abs(est - ex) / ex < 0.10, (h, est, ex)
    got_d = effective_diameter(curve)
    want_d = effective_diameter(exact_curve)
    assert abs(got_d - want_d) <= 1.0, (got_d, want_d)


def test_effective_diameter_closed_form():
    """Hand curve: N = [4, 8, 10, 10]; target 9 ⇒ interpolate between
    h=1 (8) and h=2 (10) → 1.5."""
    from pagerank_optimization_spark.operators.neighborhood import effective_diameter

    assert effective_diameter([(0, 4.0), (1, 8.0), (2, 10.0), (3, 10.0)]) == 1.5
    assert effective_diameter([(0, 10.0), (1, 10.0)]) == 0.0
