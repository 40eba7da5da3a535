"""Sampled depth-bounded Brandes betweenness vs a pure-python oracle
(1e-9 bar — the backward pass is float sums of rationals; the engine and
the oracle may add in different orders, unlike the 1e-12 integer-weighted
suites)."""

import hashlib

import pytest

from pagerank_optimization_spark.operators.betweenness import betweenness
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.sources.transcripts import synthesize_transcripts
from tests import oracle

TOL = 1.0e-9


@pytest.fixture(scope="module")
def graph(spark):
    transcripts = synthesize_transcripts(spark, 150, seed=7).cache()
    rows = [
        r.asDict()
        for r in transcripts.select("conv_id", "turn_idx", "role", "tool").collect()
    ]
    o_edges = oracle.derive_edges(rows)
    o_vertices = oracle.vertices_of(rows, o_edges)
    vertices, edges = build_graph(transcripts)
    return vertices, edges, o_vertices, o_edges


def _md5_pivots(o_vertices, n):
    return sorted(o_vertices, key=lambda v: (hashlib.md5(v.encode()).hexdigest(), v))[:n]


@pytest.mark.parametrize("max_depth", [2, 4])
def test_betweenness_matches_python(graph, max_depth):
    vertices, edges, o_vertices, o_edges = graph
    srcs = _md5_pivots(o_vertices, 16)
    got = {
        r.entity: r.bc
        for r in betweenness(vertices, edges, sources=srcs, max_depth=max_depth).collect()
    }
    want = oracle.betweenness_sampled(o_vertices, o_edges, srcs, max_depth)
    assert got.keys() == want.keys()
    for v, b in want.items():
        assert abs(got[v] - round(b, 8)) < TOL, v


def test_md5_pivot_selection_is_portable(graph):
    """n_sources=k must pick exactly the hashlib-md5-first k vertices —
    the same portable order the DuckDB twin's ORDER BY md5(entity) uses."""
    vertices, edges, o_vertices, o_edges = graph
    srcs = _md5_pivots(o_vertices, 12)
    via_n = betweenness(vertices, edges, n_sources=12, max_depth=3).collect()
    via_list = betweenness(vertices, edges, sources=srcs, max_depth=3).collect()
    assert sorted((r.entity, r.bc) for r in via_n) == sorted(
        (r.entity, r.bc) for r in via_list
    )


def test_nonzero_and_sources_excluded(graph):
    """A Zipf-skewed transcript graph must have real brokers (bc > 0
    somewhere), and a vertex's own-source dependency never self-counts:
    bc is 0 on vertices no shortest path passes through."""
    vertices, edges, o_vertices, o_edges = graph
    srcs = _md5_pivots(o_vertices, 16)
    want = oracle.betweenness_sampled(o_vertices, o_edges, srcs, 4)
    assert max(want.values()) > 0.0, "test graph has no brokers — vacuous"
    assert min(want.values()) == 0.0


def test_depth_one_all_zero(spark):
    """max_depth=1: no vertex can be interior to a counted path."""
    vertices = spark.createDataFrame([("a",), ("b",), ("c",)], "entity string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    rows = betweenness(vertices, edges, sources=["a", "b", "c"], max_depth=1).collect()
    assert all(r.bc == 0.0 for r in rows)


def test_path_graph_exact(spark):
    """a→b→c→d from all sources — hand-counted Brandes: bc(b) = 2
    (interior to a→c and a→d), bc(c) = 2 (interior to a→d and b→d),
    endpoints 0."""
    vertices = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "entity string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.entity: r.bc
        for r in betweenness(
            vertices, edges, sources=["a", "b", "c", "d"], max_depth=4
        ).collect()
    }
    assert got == {"a": 0.0, "b": 2.0, "c": 2.0, "d": 0.0}


def test_rejects_bad_args(spark):
    vertices = spark.createDataFrame([("a",)], "entity string")
    edges = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError):
        betweenness(vertices, edges, max_depth=3)  # neither sources nor n
    with pytest.raises(ValueError):
        betweenness(vertices, edges, n_sources=2, sources=["a"], max_depth=3)
    with pytest.raises(ValueError):
        betweenness(vertices, edges, n_sources=2, max_depth=0)
