"""ANSI-SQL twins of the engine's graph pipeline, for the driver's DuckDB
correctness oracle (SURVEY.md §5 item 4).

Every builder returns a complete SELECT whose CTE chain reproduces,
step-for-step, what the Spark operators compute from the driver's
``events`` view: events → transcripts → turn entities → distinct edges →
vertices → out-degrees → {PageRank (unrolled fixed-K), CC (unrolled
fixed-round min-label), triangles, degrees}.

Iterative algorithms are UNROLLED (r0..rK as chained CTEs) rather than
WITH RECURSIVE: fixed-K matches the engine's oracle mode exactly and
sidesteps recursive-aggregate dialect differences.

Floats are rounded to 8 decimals on BOTH sides — float64 cross-engine
differences are ~1e-15 relative, eight decimals is far above the noise
floor and far below meaningful rank differences.
"""

from __future__ import annotations

from pagerank_optimization_spark.functions.entities import entity_sql
from pagerank_optimization_spark.sources.transcripts import transcripts_from_events_sql

DAMPING = 0.85


def _mat(dialect: str) -> str:
    """DuckDB inlines CTEs by default; unrolled iteration must materialize
    each round or the plan (and open file handles) grow exponentially."""
    return "MATERIALIZED " if dialect == "duckdb" else ""


def graph_derivation_ctes(
    dialect: str = "duckdb", prefix: str = "", source: str = "transcripts"
) -> str:
    """The turns→edges→vertices→outdeg CTE chain derived from a
    transcripts-shaped relation ``source``, every CTE name carrying
    ``prefix`` — so two derivations (e.g. the early/late halves of the
    temporal rank-delta twin) can coexist inside one WITH. Defaults
    reproduce the historical unprefixed chain byte for byte."""
    m = _mat(dialect)
    x = prefix
    return f"""{x}turns AS {m}(
  SELECT conv_id, turn_idx, role, tool, {entity_sql(dialect)} AS entity
  FROM {source}
  WHERE {entity_sql(dialect)} IS NOT NULL
),
{x}reply_edges AS {m}(
  SELECT entity AS src,
         lag(entity) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM {x}turns
),
{x}tool_edges AS {m}(
  SELECT entity AS src, concat('tool:', tool) AS dst
  FROM {x}turns WHERE role = 'assistant' AND tool IS NOT NULL
),
{x}followup_edges AS {m}(
  SELECT next_entity AS src, concat('tool:', tool) AS dst
  FROM (
    SELECT role, tool,
           lead(entity) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_entity
    FROM {x}turns
  ) f
  WHERE role = 'assistant' AND tool IS NOT NULL AND next_entity IS NOT NULL
),
{x}edges AS {m}(
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {x}reply_edges WHERE dst IS NOT NULL
    UNION ALL
    SELECT src, dst FROM {x}tool_edges
    UNION ALL
    SELECT src, dst FROM {x}followup_edges
  ) u
),
{x}vertices AS {m}(
  SELECT DISTINCT entity FROM (
    SELECT entity FROM {x}turns
    UNION ALL SELECT src AS entity FROM {x}edges
    UNION ALL SELECT dst AS entity FROM {x}edges
  ) v
),
{x}outdeg AS {m}(
  SELECT src AS entity, count(*) AS outdeg FROM {x}edges GROUP BY src
)"""


def graph_ctes(dialect: str = "duckdb") -> str:
    """The shared CTE chain: transcripts, turns, edges, vertices, outdeg."""
    m = _mat(dialect)
    return f"""
transcripts AS {m}({transcripts_from_events_sql('events', dialect)}),
{graph_derivation_ctes(dialect)}"""


def transcripts_query_sql(dialect: str = "duckdb") -> str:
    """Per-turn text-equality invariant query (input_hint): the derived
    transcript rows themselves (ts excluded — representation differs across
    engines; identity is carried by conv_id/turn_idx/text)."""
    return (
        f"WITH transcripts AS ({transcripts_from_events_sql('events', dialect)}) "
        "SELECT conv_id, turn_idx, role, text, tool FROM transcripts"
    )


def edges_query_sql(dialect: str = "duckdb") -> str:
    return f"WITH {graph_ctes(dialect)} SELECT src, dst FROM edges"


def outdegree_query_sql(dialect: str = "duckdb") -> str:
    return f"WITH {graph_ctes(dialect)} SELECT entity, outdeg FROM outdeg"


def pagerank_unroll_steps(
    k: int,
    dialect: str = "duckdb",
    prefix: str = "",
    vertices: str = "vertices",
    edges: str = "edges",
    outdeg: str = "outdeg",
) -> str:
    """The K-step damped-PageRank CTE chain over the named vertex/edge/
    outdeg tables — shared by the transcript-graph twin below, the
    token-graph (TextRank) twin in oracle_sql_docs, and (with ``prefix``)
    the two halves of the temporal rank-delta twin, whose CTE names must
    not collide inside one WITH. Final ranks live in CTE
    ``{prefix}r{k}``; defaults reproduce the historical byte-identical
    chain."""
    d = DAMPING
    m = _mat(dialect)
    x = prefix
    steps = []
    steps.append(f"{x}nv AS {m}(SELECT count(*) AS n FROM {vertices})")
    steps.append(
        f"{x}r0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM {x}nv) AS pr FROM {vertices})"
    )
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
{x}dang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM {x}r{p} r LEFT JOIN {outdeg} o ON r.entity = o.entity
  WHERE o.entity IS NULL
),
{x}contrib{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr / o.outdeg) AS contrib
  FROM {edges} e
  JOIN {x}r{p} r ON e.src = r.entity
  JOIN {outdeg} o ON e.src = o.entity
  GROUP BY e.dst
),
{x}r{i} AS {m}(
  SELECT v.entity,
         (1.0 - {d}) / (SELECT n FROM {x}nv)
         + {d} * ((SELECT dm FROM {x}dang{i}) / (SELECT n FROM {x}nv)
                  + coalesce(c.contrib, 0)) AS pr
  FROM {vertices} v LEFT JOIN {x}contrib{i} c ON v.entity = c.entity
)""")
    return ",\n".join(steps)


def pagerank_query_sql(k: int = 5, dialect: str = "duckdb", round_to: int = 8) -> str:
    """Unrolled K-step damped PageRank with dangling redistribution —
    byte-for-byte the math of operators.pagerank (and of the numpy oracle)."""
    body = pagerank_unroll_steps(k, dialect)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, round(pr, {round_to}) AS pr FROM r{k}"
    )


def cc_query_sql(rounds: int = 16, dialect: str = "duckdb") -> str:
    """Unrolled min-label propagation on the symmetrized graph."""
    m = _mat(dialect)
    steps = [
        f"""sym AS {m}(
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
)""",
        f"c0 AS {m}(SELECT entity, entity AS lbl FROM vertices)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
nm{i} AS {m}(
  SELECT s.a AS entity, min(c.lbl) AS nmin
  FROM sym s JOIN c{p} c ON s.b = c.entity
  GROUP BY s.a
),
c{i} AS {m}(
  SELECT v.entity, least(v.lbl, coalesce(m.nmin, v.lbl)) AS lbl
  FROM c{p} v LEFT JOIN nm{i} m ON v.entity = m.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, lbl AS component FROM c{rounds}"
    )


def lpa_query_sql(rounds: int = 4, dialect: str = "duckdb") -> str:
    """Unrolled synchronous label propagation: most-frequent neighbor label,
    ties broken by min label, keep own label when no neighbors — the exact
    operators.lpa semantics."""
    m = _mat(dialect)
    steps = [
        f"""sym AS {m}(
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
)""",
        f"l0 AS {m}(SELECT entity, entity AS label FROM vertices)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
nb{i} AS {m}(
  SELECT s.a AS entity, c.label AS label, count(*) AS cnt
  FROM sym s JOIN l{p} c ON s.b = c.entity
  GROUP BY s.a, c.label
),
best{i} AS {m}(
  SELECT entity, label FROM (
    SELECT entity, label,
           row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, label ASC) AS rn
    FROM nb{i}
  ) r WHERE rn = 1
),
l{i} AS {m}(
  SELECT v.entity, coalesce(b.label, v.label) AS label
  FROM l{p} v LEFT JOIN best{i} b ON v.entity = b.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, label FROM l{rounds}"
    )


def ppr_query_sql(
    k: int = 5,
    reset_prefix: str = "agent:",
    dialect: str = "duckdb",
    round_to: int = 8,
) -> str:
    """Unrolled K-step PERSONALIZED PageRank: teleport (and dangling mass)
    land uniformly on the vertices whose entity starts with
    ``reset_prefix`` (the Spark driver query builds the same reset
    distribution). Mirrors operators.pagerank(reset=...):
    x0 = reset_w, r_i = ((1−d) + d·dm)·reset_w + d·contrib."""
    d = DAMPING
    m = _mat(dialect)
    steps = [
        f"""reset AS {m}(
  SELECT entity, 1.0 / (SELECT count(*) FROM vertices WHERE entity LIKE '{reset_prefix}%') AS reset_w
  FROM vertices WHERE entity LIKE '{reset_prefix}%'
)""",
        f"""p0 AS {m}(
  SELECT v.entity, coalesce(t.reset_w, 0.0) AS pr
  FROM vertices v LEFT JOIN reset t ON v.entity = t.entity
)""",
    ]
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
pdang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM p{p} r LEFT JOIN outdeg o ON r.entity = o.entity
  WHERE o.entity IS NULL
),
pcontrib{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr / o.outdeg) AS contrib
  FROM edges e
  JOIN p{p} r ON e.src = r.entity
  JOIN outdeg o ON e.src = o.entity
  GROUP BY e.dst
),
p{i} AS {m}(
  SELECT v.entity,
         ((1.0 - {d}) + {d} * (SELECT dm FROM pdang{i})) * coalesce(t.reset_w, 0.0)
         + {d} * coalesce(c.contrib, 0) AS pr
  FROM vertices v
  LEFT JOIN reset t ON v.entity = t.entity
  LEFT JOIN pcontrib{i} c ON v.entity = c.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, round(pr, {round_to}) AS pr FROM p{k}"
    )


def clustering_query_sql(dialect: str = "duckdb") -> str:
    """Per-vertex local clustering coefficient — mirrors
    operators.triangles.clustering_coefficients (lexicographic triangle
    listing, degree over the undirected view, coeff = 2t/(deg(deg−1)))."""
    m = _mat(dialect)
    return f"""WITH {graph_ctes(dialect)},
und AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS {m}(
  SELECT v AS entity, count(*) AS degree FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) u GROUP BY v
),
tri AS {m}(
  SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS {m}(
  SELECT v AS entity, count(*) AS n_tri FROM (
    SELECT va AS v FROM tri UNION ALL SELECT vb AS v FROM tri
    UNION ALL SELECT vc AS v FROM tri
  ) t GROUP BY v
)
SELECT d.entity, d.degree,
       coalesce(t.n_tri, 0) AS n_tri,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.n_tri, 0) / (d.degree * (d.degree - 1.0))
                  ELSE 0.0 END, 8) AS coeff
FROM deg d LEFT JOIN tcnt t ON d.entity = t.entity"""


def triangle_query_sql(dialect: str = "duckdb") -> str:
    """Global triangle count via canonical a<b<c two self-joins (matches
    operators.triangles with lexicographic orientation)."""
    return f"""WITH {graph_ctes(dialect)},
und AS {_mat(dialect)}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
)
SELECT count(*) AS n_triangles
FROM und e1
JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b"""


def _mis_unroll_ctes(
    vcte: str, scte: str, prefix: str, salt: str, rounds: int, m: str
) -> tuple[list[str], str, str]:
    """Luby-MIS round unroll over (vcte: entity, scte: a/b symmetric
    pairs), all CTE names ``prefix``-namespaced. Returns (ctes,
    members_cte, residual_vertices_cte): members = the selected MIS,
    residual = u{rounds} (nonempty ⇒ not converged — caller adds the
    sentinel). Shared by mis_query_sql and coloring_query_sql so the
    round construction can never drift between the two twins."""
    p = prefix
    steps = [
        f"{p}u0 AS {m}(SELECT entity FROM {vcte})",
        f"{p}s0 AS {m}(SELECT a, b FROM {scte})",
    ]
    for t in range(rounds):
        h = (
            f"CAST(concat('0x', substring(md5(concat('{salt}:{t}:', entity)), 1, 12))"
            " AS BIGINT)"
        )
        steps.append(f"""
{p}p{t} AS {m}(
  SELECT entity, lpad(CAST({h} AS VARCHAR), 15, '0') || '|' || entity AS k
  FROM {p}u{t}
),
{p}nm{t} AS {m}(
  SELECT s.a AS entity, min(p.k) AS nk
  FROM {p}s{t} s JOIN {p}p{t} p ON s.b = p.entity
  GROUP BY s.a
),
{p}sel{t} AS {m}(
  SELECT p.entity FROM {p}p{t} p LEFT JOIN {p}nm{t} n ON p.entity = n.entity
  WHERE n.nk IS NULL OR p.k < n.nk
),
{p}kn{t} AS {m}(
  SELECT DISTINCT s.a AS entity FROM {p}s{t} s JOIN {p}sel{t} x ON s.b = x.entity
  WHERE s.a NOT IN (SELECT entity FROM {p}sel{t})
),
{p}u{t + 1} AS {m}(
  SELECT entity FROM {p}u{t}
  WHERE entity NOT IN (SELECT entity FROM {p}sel{t})
    AND entity NOT IN (SELECT entity FROM {p}kn{t})
),
{p}s{t + 1} AS {m}(
  SELECT a, b FROM {p}s{t}
  WHERE a IN (SELECT entity FROM {p}u{t + 1}) AND b IN (SELECT entity FROM {p}u{t + 1})
)""")
    members = "\nUNION ALL\n".join(
        f"SELECT entity FROM {p}sel{t}" for t in range(rounds)
    )
    steps.append(f"{p}mem AS {m}({members})")
    return steps, f"{p}mem", f"{p}u{rounds}"


def coloring_query_sql(
    colors: int = 4,
    mis_rounds: int = 12,
    salt: str = "col",
    dialect: str = "duckdb",
) -> str:
    """entity, color — twin of operators.coloring.luby_coloring: color
    class c is the Luby MIS (salt '{salt}:{c}') of the residual graph,
    each class unrolled via the shared _mis_unroll_ctes. Sentinels fire
    if any class's MIS failed to converge in ``mis_rounds`` OR vertices
    remain uncolored after ``colors`` classes."""
    m = _mat(dialect)
    steps = [
        f"""rs0 AS {m}(
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
)""",
        f"rv0 AS {m}(SELECT entity FROM vertices)",
    ]
    sentinels = []
    for c in range(colors):
        ctes, mem, resid = _mis_unroll_ctes(
            f"rv{c}", f"rs{c}", f"c{c}_", f"{salt}:{c}", mis_rounds, m
        )
        steps += ctes
        sentinels.append(
            f"SELECT '!mis-not-converged' AS entity, -1 AS color "
            f"WHERE (SELECT count(*) FROM {resid}) > 0"
        )
        steps.append(f"""
rv{c + 1} AS {m}(
  SELECT entity FROM rv{c} WHERE entity NOT IN (SELECT entity FROM {mem})
),
rs{c + 1} AS {m}(
  SELECT a, b FROM rs{c}
  WHERE a IN (SELECT entity FROM rv{c + 1}) AND b IN (SELECT entity FROM rv{c + 1})
)""")
    body = ",\n".join(steps)
    union = "\nUNION ALL\n".join(
        f"SELECT entity, {c} AS color FROM c{c}_mem" for c in range(colors)
    )
    tail = "\nUNION ALL\n".join(
        sentinels
        + [
            "SELECT '!coloring-not-converged' AS entity, -1 AS color "
            f"WHERE (SELECT count(*) FROM rv{colors}) > 0"
        ]
    )
    return f"WITH {graph_ctes(dialect)},\n{body}\n{union}\nUNION ALL\n{tail}"


def matching_query_sql(rounds: int = 12, salt: str = "mm", dialect: str = "duckdb") -> str:
    """a, b, round — twin of operators.matching.maximal_matching:
    Israeli–Itai handshake rounds unrolled, edge priority key =
    lpad(H48('{salt}:{t}:a|b'), 15, '0') || '|' || a || '|' || b (the
    Spark side's exact varchar construction); an edge matches iff it is
    the min-key incident edge of BOTH endpoints. Convergence sentinel:
    a bogus row appears if round ``rounds`` left edges undecided."""
    m = _mat(dialect)
    steps = [
        f"""m0 AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
)"""
    ]
    for t in range(rounds):
        h = (
            f"CAST(concat('0x', substring(md5(concat('{salt}:{t}:', a, '|', b)), 1, 12))"
            " AS BIGINT)"
        )
        steps.append(f"""
e{t} AS {m}(
  SELECT a, b,
         lpad(CAST({h} AS VARCHAR), 15, '0') || '|' || a || '|' || b AS k
  FROM m{t}
),
vm{t} AS {m}(
  SELECT v, min(k) AS mk FROM (
    SELECT a AS v, k FROM e{t} UNION ALL SELECT b AS v, k FROM e{t}
  ) GROUP BY v
),
sel{t} AS {m}(
  SELECT e.a, e.b
  FROM e{t} e
  JOIN vm{t} va ON va.v = e.a
  JOIN vm{t} vb ON vb.v = e.b
  WHERE e.k = va.mk AND e.k = vb.mk
),
mv{t} AS {m}(
  SELECT a AS v FROM sel{t} UNION SELECT b AS v FROM sel{t}
),
m{t + 1} AS {m}(
  SELECT a, b FROM m{t}
  WHERE a NOT IN (SELECT v FROM mv{t}) AND b NOT IN (SELECT v FROM mv{t})
)""")
    body = ",\n".join(steps)
    union = "\nUNION ALL\n".join(
        f"SELECT a, b, {t} AS round FROM sel{t}" for t in range(rounds)
    )
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n{union}\n"
        "UNION ALL\n"
        "SELECT '!matching-not-converged' AS a, '' AS b, -1 AS round "
        f"WHERE (SELECT count(*) FROM m{rounds}) > 0"
    )


def mis_query_sql(rounds: int = 12, salt: str = "mis", dialect: str = "duckdb") -> str:
    """entity, in_mis, round — twin of
    operators.mis.maximal_independent_set: Luby rounds unrolled, priority
    key = lpad(H48('{salt}:{t}:' || entity), 15, '0') || '|' || entity
    (the Spark side's exact construction — plain varchar min/compare).
    Convergence sentinel: a bogus row appears if round ``rounds`` still
    left vertices undecided (the kcore sentinel pattern)."""
    m = _mat(dialect)
    steps = [
        f"""mis_sym AS {m}(
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
)"""
    ]
    # round construction comes from the SHARED unroll helper (prefix ""),
    # so this twin and coloring_query_sql can never drift
    ctes, _mem, _resid = _mis_unroll_ctes("vertices", "mis_sym", "", salt, rounds, m)
    steps += ctes
    body = ",\n".join(steps)
    union = "\nUNION ALL\n".join(
        f"SELECT entity, true AS in_mis, {t} AS round FROM sel{t}\n"
        f"UNION ALL\nSELECT entity, false AS in_mis, {t} AS round FROM kn{t}"
        for t in range(rounds)
    )
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n{union}\n"
        "UNION ALL\n"
        "SELECT '!mis-not-converged' AS entity, false AS in_mis, -1 AS round "
        f"WHERE (SELECT count(*) FROM u{rounds}) > 0"
    )


def butterfly_query_sql(max_degree: int = 1000, dialect: str = "duckdb") -> str:
    """n_butterflies, n_codeg2_pairs — twin of
    operators.triangles.butterfly_count: exact 4-cycle count of the
    hub-filtered (undirected degree ≤ max_degree) subgraph via the
    diagonal-codegree identity C4 = Σ m·(m−1) / 4."""
    m = _mat(dialect)
    return f"""WITH {graph_ctes(dialect)},
und AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS {m}(
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY v
),
hubs AS {m}(SELECT v FROM deg WHERE deg > {max_degree}),
kept AS {m}(
  SELECT a, b FROM und
  WHERE a NOT IN (SELECT v FROM hubs) AND b NOT IN (SELECT v FROM hubs)
),
nbrs AS {m}(
  SELECT a AS c, b AS n FROM kept UNION ALL SELECT b AS c, a AS n FROM kept
),
pairs AS {m}(
  SELECT l.n AS u, r.n AS w, CAST(count(*) AS BIGINT) AS m
  FROM nbrs l JOIN nbrs r ON r.c = l.c AND l.n < r.n
  GROUP BY l.n, r.n
)
SELECT
  CAST(coalesce(sum(m * (m - 1)), 0) // 4 AS BIGINT) AS n_butterflies,
  CAST(coalesce(sum(CASE WHEN m >= 2 THEN 1 END), 0) AS BIGINT) AS n_codeg2_pairs
FROM pairs"""


def kcore_query_sql(k: int = 3, rounds: int = 16, dialect: str = "duckdb") -> str:
    """Unrolled degree peeling on the symmetrized graph — mirrors
    operators.kcore.kcore (exact fixpoint). The Spark side iterates to
    stability; the unroll is exact only if peeling stabilizes within
    ``rounds``, and the convergence sentinel makes that self-checking: if
    round ``rounds`` still removed vertices, a visible bogus row
    ('!kcore-not-converged') fails the driver compare LOUDLY instead of
    silently under-peeling (the cc_rounds sentinel pattern,
    plans.oracle_sql_docs)."""
    m = _mat(dialect)
    steps = [
        f"""sym AS {m}(
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
)""",
        f"a0 AS {m}(SELECT entity FROM vertices)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
d{i} AS {m}(
  SELECT s.a AS entity, count(*) AS deg
  FROM sym s
  JOIN a{p} x ON s.a = x.entity
  JOIN a{p} y ON s.b = y.entity
  GROUP BY s.a
),
a{i} AS {m}(
  SELECT entity FROM d{i} WHERE deg >= {k}
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity FROM a{rounds}\n"
        "UNION ALL\n"
        "SELECT '!kcore-not-converged' AS entity "
        f"WHERE (SELECT count(*) FROM a{rounds - 1}) <> (SELECT count(*) FROM a{rounds})"
    )


def bfs_query_sql(
    seed_like: str = "conv:conv-1%", rounds: int = 8, dialect: str = "duckdb"
) -> str:
    """Unrolled multi-source directed BFS — mirrors
    operators.bfs.bfs_distances(fixed_rounds=rounds) round-for-round:
    dist = first round a vertex enters the settled set; vertices never
    reached within ``rounds`` are absent on BOTH sides."""
    m = _mat(dialect)
    steps = [
        f"""d0 AS {m}(
  SELECT entity, CAST(0 AS BIGINT) AS dist FROM vertices WHERE entity LIKE '{seed_like}'
)""",
        f"f0 AS {m}(SELECT entity FROM d0)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
f{i} AS {m}(
  SELECT DISTINCT e.dst AS entity
  FROM edges e JOIN f{p} f ON e.src = f.entity
  WHERE e.dst NOT IN (SELECT entity FROM d{p})
),
d{i} AS {m}(
  SELECT entity, dist FROM d{p}
  UNION ALL
  SELECT entity, CAST({i} AS BIGINT) AS dist FROM f{i}
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, dist FROM d{rounds}"
    )


def weighted_graph_ctes(dialect: str = "duckdb") -> str:
    """Multigraph extension of graph_ctes: interaction multiplicities per
    (src, dst) pair and per-source weight totals — mirrors
    graph_build.edge_multiplicities / build_graph(edge_weights="count")
    (duplicates kept, then counted; same three edge families)."""
    m = _mat(dialect)
    return f"""
multi_edges AS {m}(
  SELECT src, dst, count(*) AS cnt FROM (
    SELECT src, dst FROM reply_edges WHERE dst IS NOT NULL
    UNION ALL
    SELECT src, dst FROM tool_edges
    UNION ALL
    SELECT src, dst FROM followup_edges
  ) u
  GROUP BY src, dst
),
wout AS {m}(
  SELECT src AS entity, sum(cnt) AS total FROM multi_edges GROUP BY src
)"""


def pagerank_weighted_query_sql(
    k: int = 5, dialect: str = "duckdb", round_to: int = 8
) -> str:
    """Unrolled K-step damped PageRank over the count-weighted multigraph —
    row-stochastic weights cnt/total per source (the engine's
    build_graph(edge_weights="count") path feeding the same pagerank()
    kernel; dangling = no out-interactions, identical vertex set)."""
    d = DAMPING
    m = _mat(dialect)
    steps = []
    steps.append(f"nv AS {m}(SELECT count(*) AS n FROM vertices)")
    steps.append(f"r0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS pr FROM vertices)")
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
dang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM r{p} r LEFT JOIN wout w ON r.entity = w.entity
  WHERE w.entity IS NULL
),
contrib{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr * e.cnt / w.total) AS contrib
  FROM multi_edges e
  JOIN r{p} r ON e.src = r.entity
  JOIN wout w ON e.src = w.entity
  GROUP BY e.dst
),
r{i} AS {m}(
  SELECT v.entity,
         (1.0 - {d}) / (SELECT n FROM nv)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT n FROM nv)
                  + coalesce(c.contrib, 0)) AS pr
  FROM vertices v LEFT JOIN contrib{i} c ON v.entity = c.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{weighted_graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, round(pr, {round_to}) AS pr FROM r{k}"
    )


def decay_graph_ctes(halflife_s: float, dialect: str = "duckdb") -> str:
    """Recency-weighted multigraph extension of graph_ctes — twin of
    graph_build.edge_decay_weights / build_graph(edge_weights="decay"):
    per-occurrence edge events with the acting turn's epoch seconds
    (reply: the replying turn; tool invocation: the assistant turn; tool
    consumption: the FOLLOWING turn — lead(te)), each occurrence weighted
    0.5^((tmax_src − te)/halflife) against the source's own latest
    activity (per-source anchor: identical after row-normalization,
    underflow-free — see edge_decay_weights docstring)."""
    m = _mat(dialect)
    ent = entity_sql(dialect)
    return f"""
dturns AS {m}(
  SELECT conv_id, turn_idx, role, tool, {ent} AS entity,
         epoch_us(ts)/1000000.0 AS te
  FROM transcripts
  WHERE {ent} IS NOT NULL
),
docc AS {m}(
  SELECT src, dst, te FROM (
    SELECT entity AS src, lag(entity) OVER w AS dst, te
    FROM dturns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
  ) r WHERE dst IS NOT NULL
  UNION ALL
  SELECT entity AS src, concat('tool:', tool) AS dst, te
  FROM dturns WHERE role = 'assistant' AND tool IS NOT NULL
  UNION ALL
  SELECT src, dst, te FROM (
    SELECT lead(entity) OVER w AS src, concat('tool:', tool) AS dst,
           lead(te) OVER w AS te, role, tool
    FROM dturns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
  ) f WHERE role = 'assistant' AND tool IS NOT NULL AND src IS NOT NULL
),
dsmax AS {m}(SELECT src, max(te) AS tmax FROM docc GROUP BY src),
decay_edges AS {m}(
  SELECT o.src, o.dst,
         sum(pow(0.5, (s.tmax - o.te) / {float(halflife_s)})) AS w
  FROM docc o JOIN dsmax s ON o.src = s.src
  GROUP BY o.src, o.dst
),
dtot AS {m}(SELECT src AS entity, sum(w) AS total FROM decay_edges GROUP BY src)"""


def pagerank_decay_query_sql(
    k: int = 5,
    halflife_s: float = 259200.0,
    dialect: str = "duckdb",
    round_to: int = 8,
) -> str:
    """Unrolled K-step damped PageRank over the recency-weighted
    multigraph — row-stochastic w/total per source (the engine's
    build_graph(edge_weights="decay") path feeding the same pagerank()
    kernel; dangling = no out-interactions, identical vertex set — the
    decay families' endpoint set equals the binary families')."""
    d = DAMPING
    m = _mat(dialect)
    steps = []
    steps.append(f"nv AS {m}(SELECT count(*) AS n FROM vertices)")
    steps.append(f"r0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS pr FROM vertices)")
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
dang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM r{p} r LEFT JOIN dtot w ON r.entity = w.entity
  WHERE w.entity IS NULL
),
contrib{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr * e.w / w.total) AS contrib
  FROM decay_edges e
  JOIN r{p} r ON e.src = r.entity
  JOIN dtot w ON e.src = w.entity
  GROUP BY e.dst
),
r{i} AS {m}(
  SELECT v.entity,
         (1.0 - {d}) / (SELECT n FROM nv)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT n FROM nv)
                  + coalesce(c.contrib, 0)) AS pr
  FROM vertices v LEFT JOIN contrib{i} c ON v.entity = c.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{decay_graph_ctes(halflife_s, dialect)},\n{body}\n"
        f"SELECT entity, round(pr, {round_to}) AS pr FROM r{k}"
    )


def hits_query_sql(k: int = 5, dialect: str = "duckdb", round_to: int = 8) -> str:
    """Unrolled K-iteration HITS with L1 normalization after every
    half-step — mirrors operators.hits.hits() exactly (auth gathers hubs
    over in-edges, hub gathers the FRESH auth over out-edges; a zero sum
    leaves the vector all-zero via nullif, matching the engine's guard)."""
    m = _mat(dialect)
    steps = [f"nv AS {m}(SELECT count(*) AS n FROM vertices)"]
    steps.append(f"h0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS s FROM vertices)")
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
araw{i} AS {m}(
  SELECT e.dst AS entity, sum(h.s) AS raw
  FROM edges e JOIN h{p} h ON e.src = h.entity
  GROUP BY e.dst
),
a{i} AS {m}(
  SELECT v.entity,
         coalesce(r.raw / nullif((SELECT sum(raw) FROM araw{i}), 0), 0) AS s
  FROM vertices v LEFT JOIN araw{i} r ON v.entity = r.entity
),
hraw{i} AS {m}(
  SELECT e.src AS entity, sum(a.s) AS raw
  FROM edges e JOIN a{i} a ON e.dst = a.entity
  GROUP BY e.src
),
h{i} AS {m}(
  SELECT v.entity,
         coalesce(r.raw / nullif((SELECT sum(raw) FROM hraw{i}), 0), 0) AS s
  FROM vertices v LEFT JOIN hraw{i} r ON v.entity = r.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT a.entity, round(a.s, {round_to}) AS auth, round(h.s, {round_to}) AS hub\n"
        f"FROM a{k} a JOIN h{k} h ON a.entity = h.entity"
    )


def salsa_query_sql(k: int = 5, dialect: str = "duckdb", round_to: int = 8) -> str:
    """Unrolled K-iteration SALSA (degree-normalized HITS) with L1
    normalization after every half-step — mirrors operators.salsa.salsa()
    exactly: forward votes split 1/outdeg(src), backward votes split
    1/indeg(dst); a zero sum leaves the vector all-zero via nullif."""
    m = _mat(dialect)
    steps = [f"nv AS {m}(SELECT count(*) AS n FROM vertices)"]
    steps.append(f"""
sod AS {m}(SELECT src, count(*) AS od FROM edges GROUP BY src),
sid AS {m}(SELECT dst, count(*) AS idg FROM edges GROUP BY dst),
sew AS {m}(
  SELECT e.src, e.dst, 1.0 / o.od AS w_fwd, 1.0 / i.idg AS w_bwd
  FROM edges e JOIN sod o ON e.src = o.src JOIN sid i ON e.dst = i.dst
),
h0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS s FROM vertices)""")
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
araw{i} AS {m}(
  SELECT e.dst AS entity, sum(h.s * e.w_fwd) AS raw
  FROM sew e JOIN h{p} h ON e.src = h.entity
  GROUP BY e.dst
),
a{i} AS {m}(
  SELECT v.entity,
         coalesce(r.raw / nullif((SELECT sum(raw) FROM araw{i}), 0), 0) AS s
  FROM vertices v LEFT JOIN araw{i} r ON v.entity = r.entity
),
hraw{i} AS {m}(
  SELECT e.src AS entity, sum(a.s * e.w_bwd) AS raw
  FROM sew e JOIN a{i} a ON e.dst = a.entity
  GROUP BY e.src
),
h{i} AS {m}(
  SELECT v.entity,
         coalesce(r.raw / nullif((SELECT sum(raw) FROM hraw{i}), 0), 0) AS s
  FROM vertices v LEFT JOIN hraw{i} r ON v.entity = r.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT a.entity, round(a.s, {round_to}) AS auth, round(h.s, {round_to}) AS hub\n"
        f"FROM a{k} a JOIN h{k} h ON a.entity = h.entity"
    )


def katz_query_sql(
    k: int = 5,
    alpha: float = 0.05,
    beta: float = 1.0,
    dialect: str = "duckdb",
    round_to: int = 8,
) -> str:
    """Unrolled K-round truncated Katz series with a single final L1
    normalization — mirrors operators.katz.katz() term for term:
    x_i(v) = β + α·Σ_{u→v} x_{i-1}(u) from x₀ = β·1."""
    m = _mat(dialect)
    steps = [f"x0 AS {m}(SELECT entity, {beta!r} AS katz FROM vertices)"]
    for i in range(1, k + 1):
        p = i - 1
        steps.append(f"""
kc{i} AS {m}(
  SELECT e.dst AS entity, sum(x.katz) AS contrib
  FROM edges e JOIN x{p} x ON e.src = x.entity
  GROUP BY e.dst
),
x{i} AS {m}(
  SELECT v.entity, {beta!r} + {alpha!r} * coalesce(c.contrib, 0) AS katz
  FROM vertices v LEFT JOIN kc{i} c ON v.entity = c.entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, round(katz / (SELECT sum(katz) FROM x{k}), {round_to}) AS katz\n"
        f"FROM x{k}"
    )


def betweenness_query_sql(
    n_sources: int = 24, max_depth: int = 4, dialect: str = "duckdb", round_to: int = 8
) -> str:
    """entity, bc — twin of operators.betweenness.betweenness(): sampled
    depth-bounded Brandes, unrolled level-for-level. Pivots are the
    n_sources entities first in md5 order (the engine's portable
    F.md5(cast binary) over utf-8 matches md5(text) here). Forward CTEs
    l0..lD carry (s, v, d, sigma); backward CTEs bD..b1 carry δ per
    level, each gathering σ_v/σ_w·(1+δ_w) from its children; bc sums δ
    over all levels ≥ 1 (the deepest level's δ is 0 by the bound)."""
    m = _mat(dialect)
    d = max_depth
    steps = [
        f"srcs AS {m}(SELECT entity AS s FROM vertices ORDER BY md5(entity), entity LIMIT {n_sources})",
        f"l0 AS {m}(SELECT s, s AS v, 0 AS d, CAST(1 AS DOUBLE) AS sigma FROM srcs)",
    ]
    for i in range(1, d + 1):
        p = i - 1
        steps.append(f"""
c{i} AS {m}(
  SELECT p.s, e.dst AS v, sum(p.sigma) AS sigma
  FROM l{p} p JOIN edges e ON p.v = e.src
  WHERE p.d = {p}
  GROUP BY p.s, e.dst
),
l{i} AS {m}(
  SELECT s, v, d, sigma FROM l{p}
  UNION ALL
  SELECT c.s, c.v, {i} AS d, c.sigma
  FROM c{i} c
  WHERE NOT EXISTS (SELECT 1 FROM l{p} x WHERE x.s = c.s AND x.v = c.v)
)""")
    steps.append(
        f"b{d} AS {m}(SELECT s, v, sigma, CAST(0 AS DOUBLE) AS delta FROM l{d} WHERE d = {d})"
    )
    for j in range(d - 1, 0, -1):
        steps.append(f"""
b{j} AS {m}(
  SELECT a.s, a.v, a.sigma, coalesce(dep.dep, 0) AS delta
  FROM (SELECT s, v, sigma FROM l{d} WHERE d = {j}) a
  LEFT JOIN (
    SELECT a2.s, a2.v, sum(a2.sigma / w.sigma * (1 + w.delta)) AS dep
    FROM (SELECT s, v, sigma FROM l{d} WHERE d = {j}) a2
    JOIN edges e ON a2.v = e.src
    JOIN b{j + 1} w ON w.s = a2.s AND w.v = e.dst
    GROUP BY a2.s, a2.v
  ) dep ON dep.s = a.s AND dep.v = a.v
)""")
    union = "\n  UNION ALL\n  ".join(f"SELECT v, delta FROM b{j}" for j in range(1, d + 1))
    body = ",\n".join(steps)
    return f"""WITH {graph_ctes(dialect)},
{body},
alldep AS (
  {union}
),
bcv AS (SELECT v AS entity, round(sum(delta), {round_to}) AS bc FROM alldep GROUP BY v)
SELECT vv.entity, coalesce(b.bc, 0.0) AS bc
FROM vertices vv LEFT JOIN bcv b ON vv.entity = b.entity"""


def neighborhood_query_sql(r: int = 2, dialect: str = "duckdb") -> str:
    """Unrolled exact neighborhood function — mirrors
    operators.neighborhood.neighborhood_reach(r) round-for-round:
    reachability pairs (v, u) expanded along src→dst edges r times, then
    counted per v (reach includes v itself)."""
    m = _mat(dialect)
    steps = [f"n0 AS {m}(SELECT entity AS v, entity AS u FROM vertices)"]
    for i in range(1, r + 1):
        p = i - 1
        steps.append(f"""
n{i} AS {m}(
  SELECT DISTINCT v, u FROM (
    SELECT v, u FROM n{p}
    UNION ALL
    SELECT n.v, e.dst AS u FROM n{p} n JOIN edges e ON n.u = e.src
  )
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT v AS entity, count(*) AS reach FROM n{r} GROUP BY v"
    )


def sssp_query_sql(
    seed_like: str = "conv:conv-1%", rounds: int = 6, dialect: str = "duckdb"
) -> str:
    """Unrolled multi-source weighted shortest paths over the
    count-weighted multigraph (edge cost = interaction count cnt —
    integer, so distances hash exactly) — mirrors
    operators.sssp.sssp_distances(fixed_rounds=rounds) round-for-round:
    each round is one full Bellman-Ford relaxation, which the Spark
    side's delta-frontier relaxation provably reproduces per-round."""
    m = _mat(dialect)
    steps = [
        f"""sd0 AS {m}(
  SELECT entity, CAST(0 AS BIGINT) AS dist FROM vertices
  WHERE entity LIKE '{seed_like}'
)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
sr{i} AS {m}(
  SELECT e.dst AS entity, min(d.dist + e.cnt) AS nd
  FROM multi_edges e JOIN sd{p} d ON e.src = d.entity
  GROUP BY e.dst
),
sd{i} AS {m}(
  SELECT entity, min(dist) AS dist FROM (
    SELECT entity, dist FROM sd{p}
    UNION ALL
    SELECT entity, nd AS dist FROM sr{i}
  ) u GROUP BY entity
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{weighted_graph_ctes(dialect)},\n{body}\n"
        f"SELECT entity, dist FROM sd{rounds}"
    )


def walks_query_sql(length: int = 4, salt: str = "walk", dialect: str = "duckdb") -> str:
    """Unrolled twin of operators.walks.random_walks(walks_per_vertex=1):
    adjacency = per-src sorted neighbor list; step t of walk w moves to
    nbrs[ H48('{salt}:w:t') mod deg ] (H48 = first 12 MD5 hex digits —
    identical to the Spark side's F.conv construction); walks stop at
    dangling vertices (inner join drops them). DuckDB list functions —
    duckdb dialect only."""
    m = _mat(dialect)

    def h48(t: int) -> str:
        s = f"concat('{salt}', ':', walk_id, ':', '{t}')"
        return f"CAST(concat('0x', substring(md5({s}), 1, 12)) AS BIGINT)"

    steps = [
        f"adj AS {m}(SELECT src, list_sort(list(dst)) AS nbrs, "
        "count(*) AS deg FROM edges GROUP BY src)",
        f"w0 AS {m}(SELECT entity || '#0' AS walk_id, entity AS cur FROM vertices)",
    ]
    for t in range(1, length + 1):
        steps.append(
            f"""w{t} AS {m}(
  SELECT walk_id, nbrs[(({h48(t)}) % deg) + 1] AS cur
  FROM w{t - 1} JOIN adj ON w{t - 1}.cur = adj.src
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT walk_id, {t} AS step, cur AS entity FROM w{t}"
        for t in range(0, length + 1)
    )
    body = ",\n".join(steps)
    return f"WITH {graph_ctes(dialect)},\n{body}\n{union}"


def lpa_modularity_query_sql(rounds: int = 4, dialect: str = "duckdb") -> str:
    """Twin of operators.community.modularity over the LPA labeling:
    reuses the unrolled lpa CTE chain, then one pass of label-lookup
    joins + community-degree aggregates. All count arithmetic is integral
    inside float64 (< 2^53), so 8-decimal rounding is exact parity."""
    lpa = lpa_query_sql(rounds=rounds, dialect=dialect)
    # lpa_query_sql ends with "SELECT entity, label FROM l{rounds}" —
    # wrap its WITH chain instead of nesting a subquery per reference
    prefix = lpa.rsplit("SELECT entity, label FROM", 1)[0].rstrip().rstrip(",")
    return f"""{prefix},
lab AS (SELECT entity, label FROM l{rounds}),
el AS (
  SELECT s.label AS sl, d.label AS dl
  FROM edges e JOIN lab s ON e.src = s.entity JOIN lab d ON e.dst = d.entity
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM el),
within AS (SELECT CAST(count(*) AS DOUBLE) AS w FROM el WHERE sl = dl),
douts AS (SELECT sl AS lab2, CAST(count(*) AS DOUBLE) AS dout FROM el GROUP BY sl),
dins AS (SELECT dl AS lab2, CAST(count(*) AS DOUBLE) AS din FROM el GROUP BY dl),
dd AS (
  SELECT coalesce(sum(d1.dout * d2.din), 0.0) AS x
  FROM douts d1 JOIN dins d2 ON d1.lab2 = d2.lab2
),
nc AS (SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_communities FROM lab)
SELECT nc.n_communities,
       round(within.w / tot.m - dd.x / (tot.m * tot.m), 8) AS modularity
FROM nc, within, tot, dd"""


def lpa_conductance_query_sql(
    rounds: int = 4, dialect: str = "duckdb", round_to: int = 8
) -> str:
    """label, n_members, cut_edges, volume, conductance — twin of
    operators.community.conductance over the LPA labeling: reuses the
    unrolled lpa CTE chain (the lpa_modularity pattern), then endpoint
    explosion + per-label aggregates with the same 0-boundary CASE.
    (LPA, unlike CC, yields labelings with genuinely nonzero boundaries
    — φ exercises real cuts here, not just the plumbing.)"""
    lpa = lpa_query_sql(rounds=rounds, dialect=dialect)
    prefix = lpa.rsplit("SELECT entity, label FROM", 1)[0].rstrip().rstrip(",")
    return f"""{prefix},
lab AS (SELECT entity, label FROM l{rounds}),
mem AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM lab GROUP BY label),
el AS (
  SELECT s.label AS sl, d.label AS dl
  FROM edges e JOIN lab s ON e.src = s.entity JOIN lab d ON e.dst = d.entity
),
sides AS (
  SELECT sl AS label, CASE WHEN sl <> dl THEN 1 ELSE 0 END AS cut FROM el
  UNION ALL
  SELECT dl AS label, CASE WHEN sl <> dl THEN 1 ELSE 0 END AS cut FROM el
),
per AS (
  SELECT label, CAST(count(*) AS BIGINT) AS volume, CAST(sum(cut) AS BIGINT) AS cut_edges
  FROM sides GROUP BY label
),
te AS (SELECT CAST(count(*) AS BIGINT) AS two_e FROM sides)
SELECT m.label, m.n_members,
       coalesce(p.cut_edges, 0) AS cut_edges,
       coalesce(p.volume, 0) AS volume,
       CASE WHEN least(p.volume, te.two_e - p.volume) > 0
            THEN round(p.cut_edges * 1.0 / least(p.volume, te.two_e - p.volume), {round_to})
            ELSE 0.0 END AS conductance
FROM mem m LEFT JOIN per p ON m.label = p.label CROSS JOIN te"""


def neighbor_jaccard_query_sql(
    threshold: float = 0.5,
    max_neighbor_freq: int = 100,
    direction: str = "out",
    dialect: str = "duckdb",
) -> str:
    """a, b, jaccard — twin of operators.structure.neighbor_jaccard_pairs:
    exact Jaccard over out- (or in-) neighbor sets, with the same
    hot-neighbor frequency cap (a hub shared by n vertices would emit
    C(n,2) candidate rows — the graph analog of the boilerplate-shingle
    guard in docs_ngram_jaccard_sql)."""
    m = _mat(dialect)
    idc, elc = ("src", "dst") if direction == "out" else ("dst", "src")
    return rf"""
WITH {graph_ctes(dialect)},
ns0 AS {m}(SELECT {idc} AS id, {elc} AS elem FROM edges),
ns AS {m}(
  SELECT id, elem FROM ns0
  WHERE elem IN (
    SELECT elem FROM ns0 GROUP BY elem HAVING count(*) <= {max_neighbor_freq}
  )
),
sizes AS (SELECT id, count(*) AS n_el FROM ns GROUP BY id),
common AS (
  SELECT x.id AS a, y.id AS b, count(*) AS common
  FROM ns x JOIN ns y ON x.elem = y.elem AND x.id < y.id
  GROUP BY 1, 2
)
SELECT a, b,
       round(common * 1.0 / (sa.n_el + sb.n_el - common), 8) AS jaccard
FROM common
JOIN sizes sa ON common.a = sa.id
JOIN sizes sb ON common.b = sb.id
WHERE common * 1.0 / (sa.n_el + sb.n_el - common) >= {threshold}
"""


def harmonic_query_sql(r: int = 3, dialect: str = "duckdb") -> str:
    """entity, harmonic — twin of operators.centrality.harmonic_centrality:
    H(v) = Σ_{0 < d(v,u) ≤ r} 1/d(v,u) along src→dst edges, unrolled
    round-for-round (all-sources BFS layers: a (v,u) pair's distance is
    the first round it appears). Vertices reaching nothing get 0.0."""
    m = _mat(dialect)
    steps = [
        f"d0 AS {m}(SELECT entity AS v, entity AS u, 0 AS d FROM vertices)",
    ]
    for i in range(1, r + 1):
        p = i - 1
        steps.append(f"""
f{i} AS {m}(
  SELECT DISTINCT p.v, e.dst AS u
  FROM d{p} p JOIN edges e ON p.u = e.src
  WHERE p.d = {p}
    AND NOT EXISTS (SELECT 1 FROM d{p} s WHERE s.v = p.v AND s.u = e.dst)
),
d{i} AS {m}(
  SELECT v, u, d FROM d{p}
  UNION ALL
  SELECT v, u, {i} AS d FROM f{i}
)""")
    body = ",\n".join(steps)
    return f"""WITH {graph_ctes(dialect)},
{body},
h AS (
  SELECT v, round(sum(1.0 / d), 8) AS harmonic
  FROM d{r} WHERE d > 0 GROUP BY v
)
SELECT vv.entity, coalesce(h.harmonic, 0.0) AS harmonic
FROM vertices vv LEFT JOIN h ON vv.entity = h.v"""


def adamic_adar_query_sql(
    min_score: float = 0.0,
    max_neighbor_freq: int = 1000,
    include_existing: bool = False,
    dialect: str = "duckdb",
) -> str:
    """a, b, aa_score — twin of operators.structure.adamic_adar_pairs:
    AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) over the undirected
    (symmetrized, self-loop-free) graph, same hot-neighbor cap, existing
    edges anti-joined away unless include_existing."""
    m = _mat(dialect)
    anti = (
        ""
        if include_existing
        else "WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.a = s.a AND u.b = s.b)"
    )
    return rf"""
WITH {graph_ctes(dialect)},
und AS {m}(
  SELECT a, b FROM (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
  ) WHERE a <> b
),
ns AS {m}(SELECT a AS id, b AS elem FROM und),
freq AS (SELECT elem, count(*) AS deg FROM ns GROUP BY elem),
kept AS {m}(
  SELECT id, ns.elem, deg FROM ns JOIN freq USING (elem)
  WHERE deg <= {max_neighbor_freq}
),
scored AS (
  SELECT x.id AS a, y.id AS b, sum(1.0 / ln(x.deg)) AS aa
  FROM kept x JOIN kept y ON x.elem = y.elem AND x.id < y.id
  GROUP BY 1, 2
  HAVING sum(1.0 / ln(x.deg)) >= {min_score}
)
SELECT s.a, s.b, round(s.aa, 8) AS aa_score
FROM scored s
{anti}
"""


def walk_skipgrams_query_sql(
    length: int = 4, window: int = 2, salt: str = "walk", dialect: str = "duckdb"
) -> str:
    """center, context, pair_count — twin of operators.walks.skipgram_pairs
    over random_walks(walks_per_vertex=1): the full walks twin runs as a
    nested WITH inside one materialized CTE, then one equi-join per
    offset d (b.step = a.step + d) and the symmetric both-directions
    count. All-integer output — exact hash parity."""
    m = _mat(dialect)
    inner = walks_query_sql(length=length, salt=salt, dialect=dialect)
    terms = "\n  UNION ALL\n".join(
        f"""  SELECT a.entity AS x, b.entity AS y
  FROM wl a JOIN wl b ON a.walk_id = b.walk_id AND b.step = a.step + {d}"""
        for d in range(1, window + 1)
    )
    return f"""
WITH wl AS {m}(
{inner}
),
ev AS {m}(
{terms}
),
dirp AS {m}(
  SELECT x AS center, y AS context FROM ev
  UNION ALL
  SELECT y AS center, x AS context FROM ev
)
SELECT center, context, CAST(count(*) AS BIGINT) AS pair_count
FROM dirp GROUP BY center, context
"""


def graph_stats_query_sql(dialect: str = "duckdb", round_to: int = 8) -> str:
    """n_edges, n_loops, reciprocity, out_in_assortativity — twin of
    operators.structure.graph_stats: reciprocity over non-loop edges
    (reverse-edge semi-join), Pearson corr of (outdeg(src), indeg(dst))
    per edge (corr() on both engines — the sample/population factors
    cancel in r)."""
    m = _mat(dialect)
    return f"""
WITH {graph_ctes(dialect)},
nonloop AS {m}(SELECT src, dst FROM edges WHERE src <> dst),
recip AS {m}(
  SELECT count(*) AS n_recip FROM nonloop a
  WHERE EXISTS (SELECT 1 FROM nonloop b WHERE b.src = a.dst AND b.dst = a.src)
),
odeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
ideg AS (SELECT dst, count(*) AS idg FROM edges GROUP BY dst),
per_edge AS {m}(
  SELECT CAST(o.od AS DOUBLE) AS od, CAST(i.idg AS DOUBLE) AS idg
  FROM edges e JOIN odeg o ON e.src = o.src JOIN ideg i ON e.dst = i.dst
),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(coalesce(sum(CASE WHEN src = dst THEN 1 END), 0) AS BIGINT) AS n_loops
  FROM edges
),
nl AS (SELECT CAST(count(*) AS DOUBLE) AS n_nonloop FROM nonloop),
r AS (SELECT corr(od, idg) AS r FROM per_edge)
SELECT counts.n_edges, counts.n_loops,
       round(recip.n_recip / nl.n_nonloop, {round_to}) AS reciprocity,
       round(r.r, {round_to}) AS out_in_assortativity
FROM counts, recip, nl, r
"""


def degree_histogram_query_sql(direction: str = "out", dialect: str = "duckdb") -> str:
    """bucket, degree_lo, n_vertices — twin of
    operators.structure.degree_histogram (log2 of exact powers of two is
    exact in float64, so floor(log2(deg)) bins identically)."""
    m = _mat(dialect)
    if direction == "out":
        keyed = "SELECT src AS v FROM edges"
    elif direction == "in":
        keyed = "SELECT dst AS v FROM edges"
    else:
        keyed = (
            "SELECT a AS v FROM (SELECT src AS a, dst AS b FROM edges "
            "UNION SELECT dst AS a, src AS b FROM edges) u WHERE a <> b"
        )
    return f"""
WITH {graph_ctes(dialect)},
deg AS {m}(SELECT v, count(*) AS deg FROM ({keyed}) k GROUP BY v)
SELECT CAST(floor(log2(deg)) AS INTEGER) AS bucket,
       CAST(pow(2.0, floor(log2(deg))) AS BIGINT) AS degree_lo,
       CAST(count(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY 1, 2
"""


def rank_corr_query_sql(
    k: int = 5,
    halflife_s: float = 259200.0,
    dialect: str = "duckdb",
    round_to: int = 6,
) -> str:
    """n, spearman — twin of operators.ranking.spearman_rank_correlation
    over (plain PageRank k, decay PageRank k): both unrolled chains
    inlined with distinct CTE prefixes, each side ranked by
    (round(pr, 8) DESC, entity ASC) — the same deterministic total order
    the Spark operator uses — then Pearson corr of the rank columns
    (≡ Spearman for distinct ranks; corr() twins exactly)."""
    d = DAMPING
    m = _mat(dialect)
    steps = [f"nv AS {m}(SELECT count(*) AS n FROM vertices)"]
    # plain chain: p0..p{k} over edges/outdeg
    steps.append(f"p0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS pr FROM vertices)")
    for i in range(1, k + 1):
        q = i - 1
        steps.append(f"""
pdang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM p{q} r LEFT JOIN outdeg o ON r.entity = o.entity WHERE o.entity IS NULL
),
pcon{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr / o.outdeg) AS contrib
  FROM edges e JOIN p{q} r ON e.src = r.entity JOIN outdeg o ON e.src = o.entity
  GROUP BY e.dst
),
p{i} AS {m}(
  SELECT v.entity,
         (1.0 - {d}) / (SELECT n FROM nv)
         + {d} * ((SELECT dm FROM pdang{i}) / (SELECT n FROM nv) + coalesce(c.contrib, 0)) AS pr
  FROM vertices v LEFT JOIN pcon{i} c ON v.entity = c.entity
)""")
    # decay chain: d0..d{k} over decay_edges/dtot
    steps.append(f"d0 AS {m}(SELECT entity, 1.0 / (SELECT n FROM nv) AS pr FROM vertices)")
    for i in range(1, k + 1):
        q = i - 1
        steps.append(f"""
ddang{i} AS {m}(
  SELECT coalesce(sum(r.pr), 0) AS dm
  FROM d{q} r LEFT JOIN dtot w ON r.entity = w.entity WHERE w.entity IS NULL
),
dcon{i} AS {m}(
  SELECT e.dst AS entity, sum(r.pr * e.w / w.total) AS contrib
  FROM decay_edges e JOIN d{q} r ON e.src = r.entity JOIN dtot w ON e.src = w.entity
  GROUP BY e.dst
),
d{i} AS {m}(
  SELECT v.entity,
         (1.0 - {d}) / (SELECT n FROM nv)
         + {d} * ((SELECT dm FROM ddang{i}) / (SELECT n FROM nv) + coalesce(c.contrib, 0)) AS pr
  FROM vertices v LEFT JOIN dcon{i} c ON v.entity = c.entity
)""")
    body = ",\n".join(steps)
    return f"""
WITH {graph_ctes(dialect)},
{decay_graph_ctes(halflife_s, dialect)},
{body},
ra AS {m}(
  SELECT entity AS k,
         row_number() OVER (ORDER BY round(pr, 8) DESC, entity ASC) AS ra
  FROM p{k}
),
rb AS {m}(
  SELECT entity AS k,
         row_number() OVER (ORDER BY round(pr, 8) DESC, entity ASC) AS rb
  FROM d{k}
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(corr(CAST(ra AS DOUBLE), CAST(rb AS DOUBLE)), {round_to}) AS spearman
FROM ra JOIN rb USING (k)
"""


def scc_query_sql(dialect: str = "duckdb") -> str:
    """entity, scc_id — twin of operators.scc.strongly_connected_components
    by the SEMANTIC definition rather than a loop replay: transitive
    closure via a recursive CTE (feasible at oracle scale), mutual
    reachability = SCC membership, scc_id = min over {v} ∪ {mutually
    reachable w}. Checks the FW-BW coloring algorithm against the
    definition of the thing it computes."""
    return f"""WITH RECURSIVE {graph_ctes(dialect)},
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS v, r1.b AS w
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
mn AS (SELECT v AS entity, min(w) AS mw FROM mutual GROUP BY v)
SELECT v.entity, least(v.entity, coalesce(mn.mw, v.entity)) AS scc_id
FROM vertices v LEFT JOIN mn ON mn.entity = v.entity
"""


def bowtie_query_sql(dialect: str = "duckdb") -> str:
    """entity, region — twin of operators.scc.bowtie_decomposition from
    the same recursive closure as scc_query_sql: core = the largest SCC
    (count DESC, scc_id ASC), in = reaches the core, out = reached from
    the core, other = the rest. The semantic definition again — the
    Spark side's SCC run + two frontier BFS closures must land exactly
    here."""
    return f"""WITH RECURSIVE {graph_ctes(dialect)},
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS v, r1.b AS w
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
mn AS (SELECT v AS entity, min(w) AS mw FROM mutual GROUP BY v),
scc AS (
  SELECT v.entity, least(v.entity, coalesce(mn.mw, v.entity)) AS scc_id
  FROM vertices v LEFT JOIN mn ON mn.entity = v.entity
),
core_pick AS (
  SELECT scc_id FROM scc GROUP BY scc_id
  ORDER BY count(*) DESC, scc_id ASC LIMIT 1
),
core_v AS (SELECT entity FROM scc JOIN core_pick USING (scc_id)),
in_v AS (
  SELECT DISTINCT r.a AS entity
  FROM reach r JOIN core_v c ON r.b = c.entity
),
out_v AS (
  SELECT DISTINCT r.b AS entity
  FROM reach r JOIN core_v c ON r.a = c.entity
)
SELECT v.entity,
       CASE WHEN cv.entity IS NOT NULL THEN 'core'
            WHEN iv.entity IS NOT NULL THEN 'in'
            WHEN ov.entity IS NOT NULL THEN 'out'
            ELSE 'other' END AS region
FROM vertices v
LEFT JOIN core_v cv ON cv.entity = v.entity
LEFT JOIN in_v iv ON iv.entity = v.entity
LEFT JOIN out_v ov ON ov.entity = v.entity
"""


def knn_curve_query_sql(dialect: str = "duckdb", round_to: int = 8) -> str:
    """degree, avg_neighbor_outdeg, n_vertices — twin of
    operators.structure.knn_curve (per-src mean of out-neighbor
    out-degrees, dangling neighbors as 0, grouped by src out-degree)."""
    m = _mat(dialect)
    return f"""
WITH {graph_ctes(dialect)},
od AS {m}(SELECT src AS v, count(*) AS od FROM edges GROUP BY src),
annd AS {m}(
  SELECT e.src,
         avg(CAST(coalesce(n.od, 0) AS DOUBLE)) AS annd
  FROM edges e LEFT JOIN od n ON e.dst = n.v
  GROUP BY e.src
)
SELECT o.od AS degree,
       round(avg(a.annd), {round_to}) AS avg_neighbor_outdeg,
       CAST(count(*) AS BIGINT) AS n_vertices
FROM annd a JOIN od o ON a.src = o.v
GROUP BY o.od
"""


def tool_transitions_query_sql(dialect: str = "duckdb", round_to: int = 8) -> str:
    """from_tool, to_tool, n_transitions, prob — twin of
    operators.sessions.tool_transitions over the derived transcripts."""
    from pagerank_optimization_spark.operators.sessions import tool_transitions_sql

    return (
        f"WITH transcripts AS ({transcripts_from_events_sql('events', dialect)}) "
        + tool_transitions_sql(round_to=round_to)
    )


def tool_paths_query_sql(
    length: int = 3, top_n: int = 50, dialect: str = "duckdb"
) -> str:
    """path, n_paths — twin of operators.sessions.tool_paths over the
    derived transcripts."""
    from pagerank_optimization_spark.operators.sessions import tool_paths_sql

    return (
        f"WITH transcripts AS ({transcripts_from_events_sql('events', dialect)}) "
        + tool_paths_sql(length=length, top_n=top_n)
    )


def pagerank_delta_query_sql(
    k: int = 5, dialect: str = "duckdb", round_to: int = 8
) -> str:
    """entity, pr_early, pr_late, delta — twin of
    operators.trend.pagerank_delta: the transcripts split at the midpoint
    of the corpus time range (tie → early, strict >, same rule as
    entity_trend), each half's graph derived INDEPENDENTLY (reply
    adjacency within the filtered turn set), the SHARED PageRank unroll
    run per half under distinct CTE prefixes, halves full-outer-joined
    with missing ranks coalesced to 0."""
    m = _mat(dialect)
    halves = []
    for x, cmp in (("e_", "<="), ("l_", ">")):
        halves.append(
            f"{x}tr AS {m}(\n"
            f"  SELECT * FROM transcripts\n"
            f"  WHERE epoch_us(ts) / 1000000.0 * 2 {cmp} (SELECT lo + hi FROM tspan)\n"
            f"),\n"
            + graph_derivation_ctes(dialect, prefix=x, source=f"{x}tr")
            + ",\n"
            + pagerank_unroll_steps(
                k,
                dialect,
                prefix=x,
                vertices=f"{x}vertices",
                edges=f"{x}edges",
                outdeg=f"{x}outdeg",
            )
        )
    body = ",\n".join(halves)
    return f"""
WITH transcripts AS {m}({transcripts_from_events_sql('events', dialect)}),
tspan AS {m}(
  SELECT min(epoch_us(ts) / 1000000.0) AS lo, max(epoch_us(ts) / 1000000.0) AS hi
  FROM transcripts
),
{body}
SELECT coalesce(a.entity, b.entity) AS entity,
       round(coalesce(a.pr, 0), {round_to}) AS pr_early,
       round(coalesce(b.pr, 0), {round_to}) AS pr_late,
       round(coalesce(b.pr, 0) - coalesce(a.pr, 0), {round_to}) AS delta
FROM e_r{k} a FULL OUTER JOIN l_r{k} b ON a.entity = b.entity"""


def entity_trend_query_sql(
    smoothing: float = 1.0, round_to: int = 8, dialect: str = "duckdb"
) -> str:
    """entity, n_early, n_late, log_ratio — twin of
    operators.sessions.entity_trend over the derived transcripts."""
    from pagerank_optimization_spark.operators.sessions import entity_trend_sql

    m = _mat(dialect)
    return (
        f"WITH transcripts AS {m}({transcripts_from_events_sql('events', dialect)}),\n"
        f"turns_ts AS {m}(\n"
        f"  SELECT {entity_sql(dialect)} AS entity, epoch_us(ts) / 1000000.0 AS e\n"
        f"  FROM transcripts WHERE {entity_sql(dialect)} IS NOT NULL\n"
        f"),\n"
        f"span AS {m}(SELECT min(e) AS lo, max(e) AS hi FROM turns_ts)\n"
        + entity_trend_sql(smoothing=smoothing, round_to=round_to)
    )


def ktruss_query_sql(k: int = 4, rounds: int = 10, dialect: str = "duckdb") -> str:
    """a, b — twin of operators.triangles.ktruss (unrolled support peeling
    on the canonical undirected edge set, lexicographic orientation; the
    Spark default's degree orientation changes only the plan). Exact iff
    peeling stabilizes within ``rounds`` — self-checking via the loud
    '!ktruss-not-converged' sentinel row (the kcore_query_sql pattern)."""
    m = _mat(dialect)
    steps = [
        f"""e0 AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(f"""
t{i} AS {m}(
  SELECT e1.a AS v0, e1.b AS v1, e2.b AS v2
  FROM e{p} e1
  JOIN e{p} e2 ON e2.a = e1.b
  JOIN e{p} e3 ON e3.a = e1.a AND e3.b = e2.b
),
s{i} AS {m}(
  SELECT a, b, count(*) AS sup FROM (
    SELECT v0 AS a, v1 AS b FROM t{i}
    UNION ALL SELECT v1 AS a, v2 AS b FROM t{i}
    UNION ALL SELECT v0 AS a, v2 AS b FROM t{i}
  ) u GROUP BY a, b
),
e{i} AS {m}(
  SELECT e.a, e.b FROM e{p} e
  JOIN s{i} s ON e.a = s.a AND e.b = s.b
  WHERE s.sup >= {k - 2}
)""")
    body = ",\n".join(steps)
    return (
        f"WITH {graph_ctes(dialect)},\n{body}\n"
        f"SELECT a, b FROM e{rounds}\n"
        "UNION ALL\n"
        "SELECT '!ktruss-not-converged' AS a, '' AS b "
        f"WHERE (SELECT count(*) FROM e{rounds - 1}) <> (SELECT count(*) FROM e{rounds})"
    )


def coreness_query_sql(max_k: int = 4, rounds: int = 16, dialect: str = "duckdb") -> str:
    """entity, coreness — twin of operators.kcore.coreness capped at
    ``max_k``: coreness(v) = Σ_{k=1..max_k} 1[v ∈ k-core] (cores are
    nested, so the indicator sum IS the capped core number). Each k-core
    is an independent ``rounds``-round unrolled peel from the full edge
    set — equal to the loop's peel-from-the-(k−1)-core by nestedness.
    Self-checking: any k whose peel hasn't stabilized within ``rounds``
    emits the loud '!coreness-not-converged' row."""
    m = _mat(dialect)
    steps = [
        f"""sym AS {m}(
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
)"""
    ]
    sentinels = []
    for k in range(1, max_k + 1):
        steps.append(f"k{k}a0 AS {m}(SELECT entity FROM vertices)")
        for i in range(1, rounds + 1):
            p = i - 1
            steps.append(f"""
k{k}d{i} AS {m}(
  SELECT s.a AS entity, count(*) AS deg
  FROM sym s
  JOIN k{k}a{p} x ON s.a = x.entity
  JOIN k{k}a{p} y ON s.b = y.entity
  GROUP BY s.a
),
k{k}a{i} AS {m}(
  SELECT entity FROM k{k}d{i} WHERE deg >= {k}
)""")
        sentinels.append(
            f"SELECT '!coreness-not-converged' AS entity, {k} AS coreness "
            f"WHERE (SELECT count(*) FROM k{k}a{rounds - 1}) <> (SELECT count(*) FROM k{k}a{rounds})"
        )
    members = "\nUNION ALL\n".join(
        f"SELECT entity FROM k{k}a{rounds}" for k in range(1, max_k + 1)
    )
    body = ",\n".join(steps)
    sentinel_sql = "\nUNION ALL\n".join(sentinels)
    return (
        f"WITH {graph_ctes(dialect)},\n{body},\n"
        f"membership AS {m}(\n{members}\n)\n"
        "SELECT v.entity, CAST(coalesce(mc.c, 0) AS INTEGER) AS coreness\n"
        "FROM vertices v LEFT JOIN (SELECT entity, count(*) AS c FROM membership GROUP BY entity) mc\n"
        "  ON v.entity = mc.entity\n"
        "UNION ALL\n" + sentinel_sql
    )


def rich_club_query_sql(dialect: str = "duckdb", round_to: int = 8) -> str:
    """k, n_rich, e_rich, phi — twin of operators.structure.rich_club:
    undirected degree histogram + min-endpoint-degree edge histogram,
    descending suffix sums (rows strictly above k = degrees > k), phi =
    2·E/(N·(N−1)) with NULL below N=2. Exact integer counts feed one
    float division, so round-to-8 compares hash-exact."""
    m = _mat(dialect)
    return f"""
WITH {graph_ctes(dialect)},
und AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS {m}(
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) n GROUP BY v
),
vhist AS (SELECT deg AS k, CAST(count(*) AS BIGINT) AS nv FROM deg GROUP BY deg),
emin AS (
  SELECT least(da.deg, db.deg) AS k, CAST(count(*) AS BIGINT) AS ne
  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v
  GROUP BY 1
),
cum AS (
  SELECT v.k,
         CAST(coalesce(sum(v.nv) OVER w, 0) AS BIGINT) AS n_rich,
         CAST(coalesce(sum(coalesce(e.ne, 0)) OVER w, 0) AS BIGINT) AS e_rich
  FROM vhist v LEFT JOIN emin e ON v.k = e.k
  WINDOW w AS (ORDER BY v.k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT k, n_rich, e_rich,
       CASE WHEN n_rich >= 2
            THEN round(2.0 * e_rich / (n_rich * (n_rich - 1)), {round_to})
       END AS phi
FROM cum
"""
