"""CC / LPA / triangle differential tests vs the independent Python oracle
(exact equality — north rule: components/labels exact)."""

import pytest

from pagerank_optimization_spark.operators.components import connected_components
from pagerank_optimization_spark.operators.graph_build import build_graph
from pagerank_optimization_spark.operators.lpa import label_propagation
from pagerank_optimization_spark.operators.triangles import (
    local_triangle_counts,
    triangle_count,
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


def test_connected_components_exact(graph):
    vertices, wedges, o_vertices, o_edges = graph
    got = {r.entity: r.component for r in connected_components(vertices, wedges).collect()}
    want = oracle.connected_components(o_vertices, o_edges)
    assert got == want


def test_cc_fixed_rounds_prefix_consistent(graph):
    """Fixed-round mode after enough rounds equals the fixpoint."""
    vertices, wedges, o_vertices, o_edges = graph
    got = {r.entity: r.component for r in connected_components(vertices, wedges, fixed_rounds=16).collect()}
    want = oracle.connected_components(o_vertices, o_edges)
    assert got == want


def test_cc_pointer_doubling_log_rounds_on_path(spark):
    """A 1024-vertex path is the worst case for plain min-label propagation
    (diameter = n-1 → ~1023 rounds). With pointer-doubling shortcutting the
    covered distance doubles per round, so the fixpoint must arrive within
    ~2·log₂(n) rounds — max_rounds=21 FORCES that bound: if doubling ever
    regressed to O(diameter), the returned labels would be wrong and the
    equality below would fail."""
    n = 1024
    vertices = spark.createDataFrame([(f"v{i:04d}",) for i in range(n)], "entity string")
    edges = spark.createDataFrame(
        [(f"v{i:04d}", f"v{i + 1:04d}") for i in range(n - 1)], "src string, dst string"
    )
    got = {
        r.entity: r.component
        for r in connected_components(vertices, edges, max_rounds=21).collect()
    }
    assert got == {f"v{i:04d}": "v0000" for i in range(n)}


def test_triangle_count_exact(graph):
    vertices, wedges, o_vertices, o_edges = graph
    want = oracle.triangle_count(o_edges)
    got_lex = triangle_count(wedges, degree_oriented=False).collect()[0][0]
    got_deg = triangle_count(wedges, degree_oriented=True).collect()[0][0]
    assert got_lex == want
    assert got_deg == want  # orientation strategy must not change the count


def test_local_triangle_counts_sum(graph):
    vertices, wedges, o_vertices, o_edges = graph
    per_vertex = local_triangle_counts(wedges).collect()
    total = sum(r.n_triangles for r in per_vertex)
    assert total == 3 * oracle.triangle_count(o_edges)  # each triangle counted at 3 vertices


def test_local_triangle_counts_hub_fanout_bounded(spark):
    """Degree orientation must keep a hub from becoming a 2-path center:
    on a 400-leaf star whose hub sits lexicographically in the MIDDLE of
    its leaves, the lexicographic orientation generates ~in·out ≈ 200·200
    wedge rows at the hub while the degree orientation generates none —
    the O(deg²) scale hazard the per-vertex counts used to carry. Also
    checks the counts themselves on planted triangles."""
    from pyspark.sql import functions as F

    from pagerank_optimization_spark.operators.triangles import (
        degree_oriented_edges,
        undirected_edges,
    )

    rows = [("mmm", f"a{i:04d}") for i in range(200)]
    rows += [("mmm", f"z{i:04d}") for i in range(200)]
    rows += [("a0000", "a0001"), ("a0000", "z0000"), ("a0001", "z0000")]  # planted closures
    edges = spark.createDataFrame(rows, "src string, dst string")
    und = undirected_edges(edges).cache()

    def wedge_rows(e):
        p1 = e.select(F.col("x").alias("v0"), F.col("y").alias("v1"))
        p2 = e.select(F.col("x").alias("v1"), F.col("y").alias("v2"))
        return p1.join(p2, "v1").count()

    lex = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    n_lex = wedge_rows(lex)
    n_deg = wedge_rows(degree_oriented_edges(und))
    assert n_lex > 10_000  # the hub blow-up the old path paid
    assert n_deg < 100     # bounded by the sqrt(E) out-degree cap

    got = {r.entity: r.n_triangles for r in local_triangle_counts(edges).collect()}
    # hub-leaf triangles: (mmm, a0000, a0001), (mmm, a0000, z0000),
    # (mmm, a0001, z0000) — via star edges — plus the pure leaf triangle
    assert got["mmm"] == 3
    assert got["a0000"] == 3 and got["a0001"] == 3 and got["z0000"] == 3
    assert triangle_count(edges).collect()[0][0] == 4


def test_lpa_deterministic_and_total(graph):
    vertices, wedges, o_vertices, o_edges = graph
    a = {r.entity: r.label for r in label_propagation(vertices, wedges, rounds=5).collect()}
    b = {r.entity: r.label for r in label_propagation(vertices, wedges, rounds=5).collect()}
    assert a == b  # deterministic under re-execution (total tie-break order)
    assert set(a) == set(o_vertices)
    # labels are always existing entities
    assert set(a.values()) <= set(o_vertices)
    # LPA coarsens: fewer labels than vertices on a connected-ish graph
    assert len(set(a.values())) < len(o_vertices)


def test_clustering_coefficients_small(spark):
    from pagerank_optimization_spark.operators.triangles import clustering_coefficients

    # triangle a-b-c plus pendant d attached to a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
    )
    out = {r.entity: (r.degree, r.n_tri, r.coeff) for r in clustering_coefficients(edges).collect()}
    assert out["b"] == (2, 1, 1.0) and out["c"] == (2, 1, 1.0)
    assert out["a"][0] == 3 and out["a"][1] == 1
    assert abs(out["a"][2] - 1.0 / 3.0) < 1e-8
    assert out["d"] == (1, 0, 0.0)


def test_lpa_until_stable_stops_early_identical_labels(spark, tmp_path):
    """until_stable: a graph whose LPA reaches its fixpoint quickly must
    stop as soon as a round changes nothing (observable via the number of
    checkpointed rounds) and return labels identical to the fixed-rounds
    contract run (the skipped rounds are identity at the fixpoint)."""
    from pagerank_optimization_spark.checkpoint import CheckpointManager

    # two disjoint triangles: both collapse to their min label and freeze
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    vertices = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "entity string"
    )
    want = {r.entity: r.label for r in label_propagation(vertices, edges, rounds=10).collect()}

    cm = CheckpointManager(spark, str(tmp_path), "lpa-stable")
    got = {
        r.entity: r.label
        for r in label_propagation(
            vertices, edges, rounds=10, until_stable=True, checkpointer=cm
        ).collect()
    }
    assert got == want
    stopped_at = cm.last_complete_superstep()
    assert stopped_at is not None and stopped_at < 9  # early stop happened
    # every round's changed-label count survives the metrics write, and
    # the round that changed nothing is the last one
    changed = [r.l1_delta for r in cm.metrics().orderBy("superstep").collect()]
    assert len(changed) == stopped_at + 1
    assert all(c is not None for c in changed)
    assert changed[0] > 0 and changed[-1] == 0


# --- strongly_connected_components ------------------------------------------


def _py_scc(vs, es):
    """Reference: iterative Tarjan → {v: min-id member of its SCC}."""
    from collections import defaultdict

    g = defaultdict(list)
    for s, d in es:
        g[s].append(d)
    index, low, onstk, stk, out = {}, {}, {}, [], {}
    cnt = [0]
    for root in vs:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = low[node] = cnt[0]
                cnt[0] += 1
                stk.append(node)
                onstk[node] = True
            recurse = False
            succs = g[node]
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (node, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif onstk.get(w):
                    low[node] = min(low[node], index[w])
            if recurse:
                continue
            work.pop()
            if work:
                p = work[-1][0]
                low[p] = min(low[p], low[node])
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp.append(w)
                    if w == node:
                        break
                rep = min(comp)
                for w in comp:
                    out[w] = rep
    return out


def _run_scc(spark, vs, es):
    from pagerank_optimization_spark.operators.scc import (
        strongly_connected_components,
    )

    v = spark.createDataFrame([(x,) for x in vs], "entity string")
    e = spark.createDataFrame(list(es) or [("_", "_")], "src string, dst string")
    if not es:
        e = e.limit(0)
    got = {r.entity: r.scc_id for r in strongly_connected_components(v, e).collect()}
    return got


def test_scc_matches_tarjan_on_transcript_graph(graph):
    from pagerank_optimization_spark.operators.scc import (
        strongly_connected_components,
    )

    vertices, wedges, o_vertices, o_edges = graph
    got = {
        r.entity: r.scc_id
        for r in strongly_connected_components(vertices, wedges).collect()
    }
    want = _py_scc(sorted(o_vertices), sorted(set(o_edges)))
    assert got == want


def test_scc_cycle_with_tail(spark):
    vs = ["a", "b", "c", "d"]
    es = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    got = _run_scc(spark, vs, es)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_scc_two_cycles_and_bridge(spark):
    vs = ["a", "b", "x", "y"]
    es = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"), ("b", "x")]
    got = _run_scc(spark, vs, es)
    assert got == {"a": "a", "b": "a", "x": "x", "y": "x"}


def test_scc_dag_all_singletons_both_chain_directions(spark):
    vs = [f"v{i}" for i in range(5)]
    asc = [(f"v{i}", f"v{i+1}") for i in range(4)]  # worst case: 1 root/round
    desc = [(f"v{i+1}", f"v{i}") for i in range(4)]  # best case: all roots
    for es in (asc, desc):
        got = _run_scc(spark, vs, es)
        assert got == {v: v for v in vs}


def test_scc_no_edges_and_isolated(spark):
    got = _run_scc(spark, ["p", "q"], [])
    assert got == {"p": "p", "q": "q"}


# --- bowtie_decomposition ----------------------------------------------------


def _run_bowtie(spark, vs, es):
    from pagerank_optimization_spark.operators.scc import bowtie_decomposition

    v = spark.createDataFrame([(x,) for x in vs], "entity string")
    e = spark.createDataFrame(list(es) or [("_", "_")], "src string, dst string")
    if not es:
        e = e.limit(0)
    return {r.entity: r.region for r in bowtie_decomposition(v, e).collect()}


def test_bowtie_planted_regions(spark):
    # core: 3-cycle a<b<c; in: i1 -> a; out: c -> o1 -> o2;
    # tendril off the in-side: i1 -> t1 (reaches neither core nor from it);
    # disconnected: d1
    vs = ["a", "b", "c", "i1", "o1", "o2", "t1", "d1"]
    es = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("i1", "a"),
        ("c", "o1"), ("o1", "o2"),
        ("i1", "t1"),
        ("d1", "d1"),
    ]
    got = _run_bowtie(spark, vs, es)
    assert got == {
        "a": "core", "b": "core", "c": "core",
        "i1": "in",
        "o1": "out", "o2": "out",
        "t1": "other",
        "d1": "other",
    }


def test_bowtie_core_tiebreak_smaller_id(spark):
    # two SCCs of equal size — the lexicographically smaller scc_id wins
    vs = ["a", "b", "x", "y"]
    es = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]
    got = _run_bowtie(spark, vs, es)
    assert got == {"a": "core", "b": "core", "x": "other", "y": "other"}


def test_bowtie_matches_python_reference_on_transcript_graph(graph):
    from collections import defaultdict

    from pagerank_optimization_spark.operators.scc import bowtie_decomposition

    vertices, wedges, o_vertices, o_edges = graph
    got = {
        r.entity: r.region for r in bowtie_decomposition(vertices, wedges).collect()
    }
    scc = _py_scc(sorted(o_vertices), sorted(set(o_edges)))
    sizes = defaultdict(int)
    for v, r in scc.items():
        sizes[r] += 1
    core_id = min(sizes, key=lambda r: (-sizes[r], r))
    core = {v for v, r in scc.items() if r == core_id}
    fwd = defaultdict(set)
    bwd = defaultdict(set)
    for s, d in set(o_edges):
        fwd[s].add(d)
        bwd[d].add(s)

    def closure(seed, adj):
        seen, todo = set(seed), list(seed)
        while todo:
            u = todo.pop()
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    todo.append(w)
        return seen

    reaches_core = closure(core, bwd)
    from_core = closure(core, fwd)
    want = {
        v: (
            "core"
            if v in core
            else "in"
            if v in reaches_core
            else "out"
            if v in from_core
            else "other"
        )
        for v in o_vertices
    }
    assert got == want
