"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship converged PageRank over the transcript graph
derived from sf0.001 events.
``queries()`` / ``oracle_sql()`` — per-operator Spark callables and their
DuckDB SQL twins (built in pagerank_optimization_spark.plans.oracle_sql);
the driver compares them at sf=0.01 (row count + schema + value hash).
Column names are aliased identically on both sides; floats rounded to 8
decimals on both sides (cross-engine float64 noise is ~1e-15 relative).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_optimization_spark.operators.components import connected_components
from pagerank_optimization_spark.operators.graph_build import build_graph, out_degrees, build_edges
from pagerank_optimization_spark.operators.pagerank import pagerank
from pagerank_optimization_spark.operators.triangles import triangle_count
from pagerank_optimization_spark.plans import oracle_sql as osql
from pagerank_optimization_spark.operators import bursts as _bursts
from pagerank_optimization_spark.operators import sessions as _sessions
from pagerank_optimization_spark.plans import oracle_sql_docs as osql_docs
from pagerank_optimization_spark.sources import transcripts as _tsql
from pagerank_optimization_spark.sources.transcripts import transcripts_from_events

EMB_QUERY_IDS = [0, 7, 42]

SF0001 = "/root/testdata/sf0.001"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _graph(spark: SparkSession, sf_dir: str):
    return build_graph(transcripts_from_events(_events(spark, sf_dir)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: converged PageRank (damping .85, dangling redistribution,
    L1 tol 1e-6) over the sf0.001 transcript graph; top-ranked entities.
    Runs kernel="auto" — the measured dispatch (zero-exchange csr-blocks
    up to 1M vertices, join-agg above — rationale in
    pagerank.resolve_auto_kernel, BENCH/sweep.csv,
    BENCH/scale_mode_vm4_1100000.json); at this graph size that resolves
    to csr-blocks, with join-agg as the cross-check kernel (1e-12
    differential, tests/test_pagerank_csr.py)."""
    vertices, edges = _graph(spark, SF0001)
    res = pagerank(vertices, edges, tol=1e-6, max_iter=100, kernel="auto")
    return res.ranks.orderBy(F.desc("pr"), F.asc("entity")).limit(25)


# --- oracle-checked queries -------------------------------------------------


def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(_events(spark, sf_dir))
    return t.select("conv_id", "turn_idx", "role", "text", "tool")


def _q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_edges(transcripts_from_events(_events(spark, sf_dir)))


def _q_outdegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return out_degrees(_q_edges(spark, sf_dir))


def _q_pagerank_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    vertices, edges = _graph(spark, sf_dir)
    res = pagerank(vertices, edges, fixed_iters=5)
    return res.ranks.select("entity", F.round("pr", 8).alias("pr"))


def _q_pagerank_k5_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as graph_pagerank_k5 through the csr-blocks kernel — the
    vectorized kernel gets its own driver-level value-hash check against
    the identical SQL twin."""
    vertices, edges = _graph(spark, sf_dir)
    res = pagerank(vertices, edges, fixed_iters=5, kernel="csr-blocks")
    return res.ranks.select("entity", F.round("pr", 8).alias("pr"))


def _q_ppr_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank, teleport uniform over agent entities —
    oracle-checked end to end (unrolled SQL twin with the same reset).
    Agents have out-edges, so the ranks move off the reset distribution;
    every tool vertex is dangling, and a tool reset would already be its
    own fixed point."""
    vertices, edges = _graph(spark, sf_dir)
    reset = vertices.filter(F.col("entity").startswith("agent:")).withColumn(
        "weight", F.lit(1.0)
    )
    res = pagerank(vertices, edges, fixed_iters=5, reset=reset)
    return res.ranks.select("entity", F.round("pr", 8).alias("pr"))


def _q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.triangles import clustering_coefficients

    return clustering_coefficients(_q_edges(spark, sf_dir))


def _q_cc_r16(spark: SparkSession, sf_dir: str) -> DataFrame:
    vertices, wedges = _graph(spark, sf_dir)
    return connected_components(vertices, wedges, fixed_rounds=16)


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components over the DIRECTED transcript graph
    (FW-BW coloring to full convergence; scc_id = lexicographic-min
    member). The twin is the semantic definition — mutual reachability
    via a recursive transitive closure — not a loop replay."""
    from pagerank_optimization_spark.operators.scc import (
        strongly_connected_components,
    )

    vertices, wedges = _graph(spark, sf_dir)
    return strongly_connected_components(vertices, wedges)


def _q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowtie decomposition (Broder et al.): core = largest SCC, in/out =
    reach / reached-from the core via frontier-only BFS, other = the
    rest. Twin derives all regions from the same recursive closure as
    the SCC twin."""
    from pagerank_optimization_spark.operators.scc import bowtie_decomposition

    vertices, wedges = _graph(spark, sf_dir)
    return bowtie_decomposition(vertices, wedges)


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(_q_edges(spark, sf_dir), degree_oriented=False)


def _q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set — deterministic portable-hash
    priorities, so the unrolled twin replays every round verbatim."""
    from pagerank_optimization_spark.operators.mis import maximal_independent_set

    vertices, wedges = _graph(spark, sf_dir)
    return maximal_independent_set(vertices, wedges)


def _q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed graph coloring by iterated Luby MIS — each color
    class replayed round-for-round by the composed unrolled twin."""
    from pagerank_optimization_spark.operators.coloring import luby_coloring

    vertices, wedges = _graph(spark, sf_dir)
    return luby_coloring(vertices, wedges)


def _q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Israeli-Itai maximal matching — the edge analog of graph_mis;
    deterministic handshake priorities, round-for-round twin replay."""
    from pagerank_optimization_spark.operators.matching import maximal_matching

    vertices, wedges = _graph(spark, sf_dir)
    return maximal_matching(vertices, wedges)


def _q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle (butterfly) count — the diagonal-codegree identity,
    exact on the hub-filtered (deg ≤ 1000; no sf vertex exceeds it, so the
    filter is a no-op here and the count is the full-graph exact value)."""
    from pagerank_optimization_spark.operators.triangles import butterfly_count

    return butterfly_count(_q_edges(spark, sf_dir), max_degree=1000)


def _q_triangles_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production default path — degree orientation (O(sqrt(E)) wedge
    fan-out). The global count is orientation-invariant, so the same SQL
    twin (lexicographic orientation) checks it verbatim."""
    return triangle_count(_q_edges(spark, sf_dir), degree_oriented=True)


def _q_lpa_r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.lpa import label_propagation

    vertices, wedges = _graph(spark, sf_dir)
    return label_propagation(vertices, wedges, rounds=4)


def _q_kcore3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the undirected transcript graph — exact peeling fixpoint;
    the SQL twin unrolls 16 rounds with a loud non-convergence sentinel
    (plans.oracle_sql.kcore_query_sql), so a corpus that needed more rounds
    would FAIL the compare rather than silently under-peel."""
    from pagerank_optimization_spark.operators.kcore import kcore

    vertices, edges = _graph(spark, sf_dir)
    return kcore(vertices, edges, k=3)


def _q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition capped at k=4 (coreness = Σ k-core
    memberships by nestedness) — each vertex peeled exactly once across
    the whole loop; twin unrolls four independent 16-round peels with
    per-k non-convergence sentinels."""
    from pagerank_optimization_spark.operators.kcore import coreness

    vertices, edges = _graph(spark, sf_dir)
    return coreness(vertices, edges, max_k=4)


def _q_ktruss3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the undirected transcript graph (every surviving edge in
    ≥1 triangle within the subgraph; the 4-truss is empty on this corpus)
    — exact peeling fixpoint; the SQL twin unrolls 10 rounds with a loud
    non-convergence sentinel."""
    from pagerank_optimization_spark.operators.triangles import ktruss

    _, edges = _graph(spark, sf_dir)
    return ktruss(edges, k=3)


def _q_bfs_conv_r8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source directed BFS from a conversation-entity seed slice, 8
    fixed rounds — mirrors the unrolled twin round-for-round (fixed-rounds
    oracle mode, same convention as graph_cc_r16 / graph_lpa_r4). Conv
    seeds give a nontrivial hop spread {0,1,2} on this hub-dominated
    graph; tool entities are sinks (in-edges only), so seeding there would
    be a 0-hop no-op."""
    from pagerank_optimization_spark.operators.bfs import bfs_distances

    vertices, edges = _graph(spark, sf_dir)
    seeds = vertices.filter(F.col("entity").startswith("conv:conv-1"))
    return bfs_distances(vertices, edges, seeds, fixed_rounds=8)


def _q_reach_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function at r=2 — per-vertex count of vertices
    within ≤2 hops along src→dst edges (pair-expansion operator; the
    HyperBall HLL sketch is the pytest-checked scale path, same
    exact↔sketch split as ngram_jaccard↔minhash)."""
    from pagerank_optimization_spark.operators.neighborhood import neighborhood_reach

    vertices, edges = _graph(spark, sf_dir)
    return neighborhood_reach(vertices, edges, r=2)


def _q_sssp_conv_r6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths, 6 Bellman-Ford rounds, edge
    cost = interaction count (integer distances — exact hash parity);
    seeds = every conv-1* conversation entity. Delta-frontier relaxation
    on the Spark side vs full per-round relaxation in the twin — equal by
    construction, checked by value."""
    from pagerank_optimization_spark.operators.graph_build import edge_multiplicities
    from pagerank_optimization_spark.operators.sssp import sssp_distances

    tr = transcripts_from_events(_events(spark, sf_dir))
    vertices, _ = build_graph(tr)
    wedges = edge_multiplicities(tr)
    seeds = vertices.filter(F.col("entity").startswith("conv:conv-1"))
    return sssp_distances(
        vertices, wedges, seeds, weight_col="cnt", fixed_rounds=6
    )


def _q_harmonic_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality within radius 3 (Σ 1/d over the ≤3-hop
    out-ball) — the bounded-radius exact path; HyperBall is the 100 TB
    sketch (operators.neighborhood). Unrolled all-sources-BFS twin."""
    from pagerank_optimization_spark.operators.centrality import (
        harmonic_centrality,
    )

    vertices, edges = _graph(spark, sf_dir)
    return harmonic_centrality(vertices, edges, 3)


def _q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural near-duplicates: vertex pairs whose out-neighbor sets
    have exact Jaccard ≥ 0.8 — templated conversations / cloned agents.
    Hot neighbors above the frequency cap are dropped from the sets (the
    graph analog of the boilerplate-shingle guard)."""
    from pagerank_optimization_spark.operators.structure import (
        neighbor_jaccard_pairs,
    )

    _, edges = _graph(spark, sf_dir)
    return neighbor_jaccard_pairs(edges, threshold=0.8, max_neighbor_freq=1000)


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: top candidate (not-yet-connected)
    pairs by common-neighbor votes discounted 1/ln(deg) — which
    agents/tools are about to interact. min_score 1.5 keeps the pair set
    oracle-sized; hub common-neighbors above the cap are dropped (their
    vote tends to 0 anyway — the cap and the math agree)."""
    from pagerank_optimization_spark.operators.structure import adamic_adar_pairs

    _, edges = _graph(spark, sf_dir)
    return adamic_adar_pairs(edges, min_score=1.5, max_neighbor_freq=1000)


def _q_lpa_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance φ(C) = cut/min(vol, vol̄) of the 4-round
    LPA labeling — the boundary-quality complement of modularity, over a
    labeling with genuinely nonzero cuts (twin reuses the unrolled LPA
    CTE chain; operators.community.conductance)."""
    from pagerank_optimization_spark.operators.community import conductance
    from pagerank_optimization_spark.operators.lpa import label_propagation

    vertices, edges = _graph(spark, sf_dir)
    labels = label_propagation(vertices, edges, rounds=4)
    return conductance(edges, labels)


def _q_pagerank_delta_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal PageRank delta (authority drift): the SAME kernel run on
    the early-half vs late-half transcript graphs (midpoint split,
    entity_trend's tie rule), halves full-outer-joined, missing ranks
    coalesced to 0 — rank movement attributable to structural change,
    not decay weighting (operators.trend.pagerank_delta; twin runs the
    shared unroll twice under e_/l_ CTE prefixes)."""
    from pagerank_optimization_spark.operators.trend import pagerank_delta

    return pagerank_delta(transcripts_from_events(_events(spark, sf_dir)), k0=5)


def _q_lpa_modularity_r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (Newman–Leicht) modularity of the 4-round LPA labeling —
    the community-quality metric computed entirely as joins + aggregates
    (single-row result; twin reuses the unrolled LPA CTE chain)."""
    from pagerank_optimization_spark.operators.community import modularity
    from pagerank_optimization_spark.operators.lpa import label_propagation

    vertices, edges = _graph(spark, sf_dir)
    labels = label_propagation(vertices, edges, rounds=4)
    return modularity(edges, labels)


def _q_graph_walks_l4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded random walks (DeepWalk corpus
    generation), length 4, one walk per vertex — the unrolled twin
    replays every step's MD5 neighbor choice, so the hash check covers
    the full walk corpus. Walks stop at dangling (tool) vertices."""
    from pagerank_optimization_spark.operators.walks import random_walks

    vertices, edges = _graph(spark, sf_dir)
    return random_walks(vertices, edges, 4)


def _q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row global graph profile: edge/loop counts, reciprocity
    (reverse-edge semi-join), directed out-in degree assortativity
    (Pearson corr over edges — Newman 2002). Two degree aggs + one
    semi-join, single-row output, no collect."""
    from pagerank_optimization_spark.operators.structure import graph_stats

    return graph_stats(_q_edges(spark, sf_dir))


def _q_events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate burst detection: hourly (type, window) counts
    z-scored against each type's own observed-window distribution,
    windows at z ≥ 2 flagged. One map-side-combinable shuffle whose key
    space is |types|×|windows| — the batch twin of a streaming
    sliding-window anomaly screen."""
    from pagerank_optimization_spark.operators.bursts import event_bursts

    return event_bursts(_events(spark, sf_dir), bucket_s=3600, z_threshold=2.0)


def _q_docs_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-smoothed (α=0.7) source mixing weights + epochs-per-source
    under a 1M-token budget — the multinomial sampling table a
    multi-source training run is configured from (Lample & Conneau
    2019). One agg over the corpus; the per-source table
    self-normalizes through a one-row crossJoin."""
    from pagerank_optimization_spark.operators.sampling import source_mix_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_mix_weights(docs, alpha=0.7, token_budget=1_000_000)


def _q_emb_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k on INT8-QUANTIZED vectors — the search-side payoff
    of the quantization audit (4× corpus per executor). Int dots/norms
    are exact integers, so unlike float ANN this approximate query is
    hash-twinnable end to end; recall vs the exact operator is pinned
    in pytest."""
    from pagerank_optimization_spark.operators.similarity import (
        cosine_topk_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_quantized(emb, EMB_QUERY_IDS, k=10)


def _q_emb_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table: exact population
    covariance (oracle path: chained posexplodes into one hash agg) + 3
    unrolled power-iteration steps from x0=1/√d, run entirely as
    DataFrame ops so the WHOLE query has a SQL twin. The partial-Gram
    mapInPandas path (shuffle volume P·d² regardless of corpus size) is
    the 100 TB covariance route, differential-tested in pytest."""
    from pagerank_optimization_spark.operators.pca import pca_top_component

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pca_top_component(emb, iters=3, method="explode")


def _q_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between plain and recency-weighted
    PageRank — "does WHO matters change when we ask who matters LATELY"
    as one number. Ranking via the distributed two-level prefix scan
    (operators.ranking.global_rank — no single-partition window), ρ =
    corr of the deterministic (round(pr,8) DESC, entity) rank columns."""
    from pagerank_optimization_spark.operators.ranking import (
        spearman_rank_correlation,
    )

    t = transcripts_from_events(_events(spark, sf_dir))
    v1, e1 = build_graph(t)
    res_a = pagerank(v1, e1, fixed_iters=5)
    v2, e2 = build_graph(t, edge_weights="decay", decay_halflife_s=259200.0)
    res_b = pagerank(v2, e2, fixed_iters=5)
    return spearman_rank_correlation(res_a.ranks, res_b.ranks)


def _q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned out-degree distribution — the one-glance power-law
    check; two map-side-combinable aggs, ~64 integer rows out."""
    from pagerank_optimization_spark.operators.structure import degree_histogram

    return degree_histogram(_q_edges(spark, sf_dir), direction="out")


def _q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation transcript profile (turns, tool calls, distinct
    tools, NTZ-safe duration) — one bounded-key agg."""
    from pagerank_optimization_spark.operators.sessions import conversation_stats

    return conversation_stats(transcripts_from_events(_events(spark, sf_dir)))


def _q_knn_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) — the full degree-correlation
    profile complementing graph_stats' single assortativity number."""
    from pagerank_optimization_spark.operators.structure import knn_curve

    return knn_curve(_q_edges(spark, sf_dir))


def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club curve φ(k) over the simple undirected graph (Zhou &
    Mondragón 2004) — do high-degree agents/tools interlink more densely
    than the graph at large? Whole curve in one pass: degree agg +
    min-endpoint-degree edge histogram + descending suffix-sum window
    over ≤O(√|E|) rows (plans.oracle_sql.rich_club_query_sql)."""
    from pagerank_optimization_spark.operators.structure import rich_club

    return rich_club(_q_edges(spark, sf_dir))


def _q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over in-conversation tool
    invocations — bounded conv_id window + n_tools²-key agg."""
    from pagerank_optimization_spark.operators.sessions import tool_transitions

    return tool_transitions(transcripts_from_events(_events(spark, sf_dir)))


def _q_tool_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most frequent 3-step tool-call chains within a conversation
    — the higher-order completion of the transition matrix (multi-step
    loops one-step probabilities hide); bounded conv window +
    ≤ n_tools³-key agg + TakeOrdered cut
    (operators.sessions.tool_paths)."""
    from pagerank_optimization_spark.operators.sessions import tool_paths

    return tool_paths(transcripts_from_events(_events(spark, sf_dir)), length=3, top_n=50)


def _q_entity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rising/falling-entity screen: per-entity turn counts in the early
    vs late half of the corpus time range + smoothed log odds — one
    broadcast [min,max]-epoch aggregate, one map-side-combinable
    groupBy(entity), NTZ-safe epochs
    (operators.sessions.entity_trend)."""
    from pagerank_optimization_spark.operators.sessions import entity_trend

    return entity_trend(transcripts_from_events(_events(spark, sf_dir)))


def _q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts over the length-4 walk
    corpus, symmetric window ±2 — the DeepWalk graph→embedding bridge
    (the corpus an SGNS/PPMI node embedding trains on). One 1:1
    equi-join per offset, never a per-walk self-join; all-integer
    output (exact hash parity)."""
    from pagerank_optimization_spark.operators.walks import random_walks, skipgram_pairs

    vertices, edges = _graph(spark, sf_dir)
    return skipgram_pairs(random_walks(vertices, edges, 4), window=2)


def _q_docs_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 over the documents table for a fixed 3-term query —
    pure-DataFrame ranked retrieval (operators.retrieval.bm25_topk),
    postings filtered to the query terms before any shuffle."""
    from pagerank_optimization_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, BM25_TERMS, top_n=25)


BM25_TERMS = ("hash", "join", "vector")
STRAT_RATES = {"en": 0.5, "zh": 0.2}


def _q_docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% content-hash sample (portable MD5 bucket — the
    reproducible-across-runs/engines sampling primitive; df.sample() is
    partitioning-dependent and useless at 100 TB)."""
    from pagerank_optimization_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_sample(docs, 0.1, "doc_id").select("doc_id", "lang")


def _q_docs_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of corpus token frequencies — FIXED depth x width
    state whatever the vocabulary size (the bounded-state complement of
    docs_vocab_topk); every cell reproduced by the DuckDB twin."""
    from pagerank_optimization_spark.operators.vocab import token_countmin

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_countmin(docs, depth=4, width=1024)


def _q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE weighted sample (Efraimidis-Spirakis A-ES): exactly 40
    docs, probability ∝ length(text), deterministic portable-hash u —
    the fixed-RATE complement is docs_quality_sample."""
    from pagerank_optimization_spark.operators.sampling import (
        weighted_reservoir_sample,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_reservoir_sample(
        docs, 40, F.length("text"), "doc_id", salt="wrs"
    ).select("doc_id", "es_key")


def _q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rebalancing sample: 50% en, 20% zh, 5% everything
    else — one codegen'd predicate, zero joins/shuffles."""
    from pagerank_optimization_spark.operators.sampling import stratified_hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_hash_sample(
        docs, STRAT_RATES, "lang", "doc_id", default_rate=0.05
    ).select("doc_id", "lang")


def _q_docs_pack_b512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing at budget 512 — distributed two-level
    prefix scan on the Spark side, single-window cumsum in the twin; the
    values must agree exactly (partition-invariance is the operator's
    contract)."""
    from pagerank_optimization_spark.operators.sampling import pack_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_documents(docs, 512)


def _q_docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary stats: top-50 tokens by collection
    frequency with document frequency — map-side-combinable aggs only,
    TakeOrdered top-N (never a global sort), deterministic
    (cf DESC, token ASC) tie-break on both sides."""
    from pagerank_optimization_spark.operators.vocab import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, 50)


def _q_docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law OLS fit over the top-400 vocabulary (slope ≈ −1 on natural
    corpora — the boilerplate/template-flood diagnostic): rides the
    vocab_topk TakeOrdered cut, regression is ONE closed-form aggregate
    over ≤ 400 rows (plans.oracle_sql_docs.docs_zipf_fit_sql twin)."""
    from pagerank_optimization_spark.operators.vocab import zipf_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs, top_n=400, skip_ranks=5)


def _q_docs_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau): the engine's OWN
    PageRank kernel over the token co-occurrence graph — symmetric
    window-2 events, min_count 3 sparsification, 10 supersteps (the twin
    reuses the transcript-graph twin's unroll verbatim over token CTEs,
    plans.oracle_sql_docs.docs_textrank_sql)."""
    from pagerank_optimization_spark.operators.textrank import textrank_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(docs, window=2, min_count=3, k0=10)


def _q_docs_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law OLS fit of the vocabulary-growth curve (β ≈ 0.4-0.6 on
    natural corpora — how fast the vocab keeps growing with corpus size):
    global prefix sums via the two-level scan, V(n) from a first-
    occurrence aggregate, regression as ONE closed-form aggregate
    (operators.vocab.heaps_fit; twin
    plans.oracle_sql_docs.docs_heaps_fit_sql)."""
    from pagerank_optimization_spark.operators.vocab import heaps_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return heaps_fit(docs, min_tokens=100)


def _q_docs_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training pair counts: top-40 adjacent char pairs
    weighted by word frequency — the corpus pass of Sennrich-style BPE,
    collapsed to the word-frequency table before any char-level work."""
    from pagerank_optimization_spark.operators.vocab import bpe_pair_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_counts(docs, 40)


def _q_docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM corpus scoring: add-0.5-smoothed token LM
    trained on the corpus itself, every document scored by mean token
    log-prob + bits/token — the perplexity quality filter, self-training
    audit mode (one row per document, empty docs score 0)."""
    from pagerank_optimization_spark.operators.lm import unigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_lm_scores(docs, k=0.5)


def _q_docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, 8-token
    overlap) — the context-window prep between cleaning and packing.
    Pure per-row array algebra: zero shuffles, composes with the scan."""
    from pagerank_optimization_spark.operators.sampling import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def _q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit over the embeddings table:
    per-vector scale + reconstruction MSE/L∞ (explicit half-up rounding
    pins the tie rule across engines). Zero shuffles."""
    from pagerank_optimization_spark.operators.vectorize import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return quantize_embeddings(emb)


def _q_docs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-gram CONTAINMENT pairs (|A∩B|/|A| — the partial-copy /
    quotation detector symmetric Jaccard structurally misses); same
    shingle machinery and skew cap as the Jaccard operator, ordered
    pairs with per-side denominators."""
    from pagerank_optimization_spark.operators.dedup import ngram_containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_containment_pairs(docs, k=3, threshold=0.8, max_shingle_freq=1000)


def _q_docs_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher static quality-rule battery (Rae et al. 2021) — every
    intermediate statistic and boolean flag per doc, pure codegen, zero
    shuffles (the repetition half lives in docs_repetition)."""
    from pagerank_optimization_spark.operators.quality import gopher_quality_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_quality_flags(docs)


def _q_docs_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (doc count, token volume, mean chars,
    exact p50/p90/p99 token counts) — the data-mixing report; exact
    percentile here for oracle parity, approx_percentile (bounded-state
    sketch) is the 100 TB path (operators.quality.corpus_profile)."""
    from pagerank_optimization_spark.operators.quality import corpus_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_profile(docs, exact=True)


def _q_docs_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon divergence vs the corpus token mix — the
    data-mixing outlier screen (template floods / non-English / synthetic
    sources spike before training); absent-token mass folds to the closed
    form 0.5·ln2·(1−Σq), so the plan never enumerates missing tokens
    (operators.quality.source_divergence; twin
    plans.oracle_sql_docs.docs_source_jsd_sql)."""
    from pagerank_optimization_spark.operators.quality import source_divergence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_divergence(docs)


def _q_docs_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (±2) token co-occurrence PMI — the count-based
    word-association matrix (PPMI ≈ factorized skip-gram, Levy &
    Goldberg 2014); min_count=5 prunes the tail before the marginal
    joins. Pure array algebra + two hash aggs, no self-join."""
    from pagerank_optimization_spark.operators.cooccur import pmi_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_pairs(docs, window=2, min_count=5)


def _q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING: the first 8 learned merge rules (Sennrich
    et al.) as a distributed fixed-point loop — corpus scanned once into
    the word-frequency table, each merge iterates over |vocab| rows
    only (pair count → TakeOrdered top-1 → greedy-leftmost fold, the
    winner riding a one-row crossJoin; no collect, no Python)."""
    from pagerank_optimization_spark.operators.vocab import bpe_train_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train_merges(docs, 8)


def _q_docs_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022's substring-level
    dedup shape, suffix-array-free): maximal verbatim runs of ≥10 tokens
    shared between document pairs, found as consecutive shared 5-grams on
    one alignment diagonal (gaps-and-islands). All-integer output —
    hash-exact vs the twin."""
    from pagerank_optimization_spark.operators.dedup import substring_dup_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return substring_dup_spans(docs, k=5, min_match_tokens=10)


def _q_docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: train 4 merges on the corpus
    (bpe_train_merges), then encode EVERY document with them — per-doc
    token/subword counts plus the full encoded sequence as one
    space-delimited string, so the twin checks every symbol boundary
    byte-exactly. The merges are applied over the distinct-word table
    only (|vocab|-sized), then joined back per (doc, pos, word)."""
    from pagerank_optimization_spark.operators.vocab import bpe_encode, bpe_train_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_encode(docs, bpe_train_merges(docs, 4))


def _q_docs_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed TF-IDF vectors (dim 32), compared on the nonzero
    cells: the assembled array<double> is posexploded back to
    (doc_id, bucket, w) so the twin also validates assembly positions —
    the text→vector bridge that feeds the similarity family."""
    from pagerank_optimization_spark.operators.vectorize import hashed_tfidf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vecs = hashed_tfidf(docs, 32)
    return (
        vecs.select("doc_id", F.posexplode("vector").alias("bucket", "w"))
        .where(F.col("w") != 0.0)
        .select("doc_id", "bucket", F.round("w", 8).alias("w"))
    )


def _q_docs_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: each doc kept with
    probability = its quality score, decided by the portable MD5 bucket
    (reproducible across runs/engines/partitionings — the curation move
    that replaces a hard quality threshold with proportional keep)."""
    from pagerank_optimization_spark.functions.text import quality_score_expr
    from pagerank_optimization_spark.operators.sampling import weighted_hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "doc_id", quality_score_expr(F.col("text")).alias("score")
    )
    return weighted_hash_sample(scored, F.col("score"), "doc_id", salt="q")


def _q_docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with per-rule counts. The synthesized corpus carries no
    PII by construction, so the query first plants a deterministic,
    SQL-expressible PII suffix (email + IP + SSN + phone) on every 7th
    doc — the redaction rules are exercised on real matches and the
    twin compares the exact redacted STRINGS, not just counts."""
    from pagerank_optimization_spark.operators.pii import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-1234 ssn 123-45-6789"),
    )
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, pii).otherwise(F.col("text")).alias("text"),
    )
    return redact_pii(injected)


def _q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats per document: duplicate-line
    fraction (pure codegen'd array expression) and top-2-gram mass
    (doc-keyed explode + two map-side-combinable aggs)."""
    from pagerank_optimization_spark.operators.quality import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs, ngram_n=2)


def _q_docs_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality cap: the 20 best-quality docs per source via
    the two-stage salted top-N (the oracle is a single row_number window
    — the salted plan must reproduce it exactly)."""
    from pagerank_optimization_spark.operators.quality import source_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_cap(docs, 20)


CONTAM_K = 4
CONTAM_RATE = 0.02


def _q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic 2% hash-sample of the
    corpus plays the benchmark; the complement is the training corpus;
    flag corpus docs sharing any word 4-gram (broadcast semi-join — the
    big side never shuffles)."""
    from pagerank_optimization_spark.operators.quality import contamination_flags
    from pagerank_optimization_spark.operators.sampling import (
        SAMPLE_DENOM,
        _sample_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bkt = _sample_bucket(F.col("doc_id"), "bench")
    thr = int(CONTAM_RATE * SAMPLE_DENOM)
    bench = docs.where(bkt < F.lit(thr))
    corpus = docs.where(bkt >= F.lit(thr))
    return contamination_flags(corpus, bench, k=CONTAM_K)


BLOOM_BITS = 1 << 20
BLOOM_HASHES = 4


def _q_docs_bloom_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination on the docs_contamination split:
    the benchmark collapses to a position table CAPPED at BLOOM_BITS
    rows whatever the benchmark size (vs the unbounded exact shingle
    broadcast); no false negatives, every position twinned."""
    from pagerank_optimization_spark.operators.quality import bloom_contamination
    from pagerank_optimization_spark.operators.sampling import (
        SAMPLE_DENOM,
        _sample_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bkt = _sample_bucket(F.col("doc_id"), "bench")
    thr = int(CONTAM_RATE * SAMPLE_DENOM)
    bench = docs.where(bkt < F.lit(thr))
    corpus = docs.where(bkt >= F.lit(thr))
    return bloom_contamination(
        corpus, bench, k=CONTAM_K, bits=BLOOM_BITS, hashes=BLOOM_HASHES
    )


DSIR_DIM = 1024
DSIR_RATE = 0.05


def _q_docs_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): a deterministic 5%
    hash-slice of the corpus plays the target domain, the complement is
    the raw pool; every hashed unigram+bigram bucket count and smoothed
    log-ratio reproduced by the DuckDB twin."""
    from pagerank_optimization_spark.operators.dsir import dsir_logratios
    from pagerank_optimization_spark.operators.sampling import (
        SAMPLE_DENOM,
        _sample_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bkt = _sample_bucket(F.col("doc_id"), "dsir")
    thr = int(DSIR_RATE * SAMPLE_DENOM)
    target = docs.where(bkt < F.lit(thr))
    raw = docs.where(bkt >= F.lit(thr))
    return dsir_logratios(raw, target, dim=DSIR_DIM)


def _q_docs_token_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers of the corpus's distinct-token set — FIXED 2^8-row
    state however large the vocabulary (the cardinality leg of the
    sketch toolkit next to docs_countmin's frequencies); every register
    engine-bit-identical to the DuckDB twin."""
    from pagerank_optimization_spark.operators.vocab import token_hll

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_hll(docs, p=8)


def _q_docs_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus line dedup: keep-first on normalized lines,
    boilerplate frequency cap, byte-exact document reassembly (the hash
    check rides on text_clean matching DuckDB's reassembly exactly)."""
    from pagerank_optimization_spark.operators.quality import dedup_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_lines(docs)


def _q_pagerank_weighted_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-weighted PageRank: the multigraph view (interaction
    multiplicity → row-stochastic cnt/total weights,
    graph_build.build_graph(edge_weights="count")) through the SAME
    pagerank() kernel — weighted SpMV is the general form of J1/A2, and
    this query oracle-checks the weight plumbing end to end."""
    vertices, wedges = build_graph(
        transcripts_from_events(_events(spark, sf_dir)), edge_weights="count"
    )
    res = pagerank(vertices, wedges, fixed_iters=5)
    return res.ranks.select("entity", F.round("pr", 8).alias("pr"))


def _q_pagerank_decay_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted PageRank: each interaction's vote halves every 3
    days of age relative to its source's latest activity
    (build_graph(edge_weights="decay") — "who matters LATELY"), through
    the SAME pagerank() kernel. Oracle-checks the NTZ-safe epoch
    arithmetic + decay weighting + row normalization end to end."""
    vertices, dedges = build_graph(
        transcripts_from_events(_events(spark, sf_dir)),
        edge_weights="decay",
        decay_halflife_s=259200.0,
    )
    res = pagerank(vertices, dedges, fixed_iters=5)
    return res.ranks.select("entity", F.round("pr", 8).alias("pr"))


def _q_hits_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 5 iterations, L1-normalized per half-step —
    mutual-reinforcement scores on the directed graph (the unrolled twin
    reproduces both half-steps per round, plans.oracle_sql.hits_query_sql)."""
    from pagerank_optimization_spark.operators.hits import hits

    vertices, edges = _graph(spark, sf_dir)
    return hits(vertices, edges, k=5).select(
        "entity", F.round("auth", 8).alias("auth"), F.round("hub", 8).alias("hub")
    )


def _q_katz_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (attenuated path counting, Katz 1953): 5 gather
    rounds of x_i = β + α·Aᵀx_{i-1} from x₀ = β·1, L1-normalized once at
    the end — the loop has ZERO driver round-trips (the normalization
    rides the plan as a broadcast one-row aggregate; unrolled twin
    plans.oracle_sql.katz_query_sql)."""
    from pagerank_optimization_spark.operators.katz import katz

    vertices, edges = _graph(spark, sf_dir)
    return katz(vertices, edges, k=5, alpha=0.05).select(
        "entity", F.round("katz", 8).alias("katz")
    )


def _q_salsa_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA (Lempel & Moran) — degree-normalized HITS, 5 iterations,
    L1-normalized per half-step: forward votes split 1/outdeg, backward
    votes split 1/indeg, so the walk form resists fan-out inflation (the
    unrolled twin reproduces both weighted half-steps per round,
    plans.oracle_sql.salsa_query_sql)."""
    from pagerank_optimization_spark.operators.salsa import salsa

    vertices, edges = _graph(spark, sf_dir)
    return salsa(vertices, edges, k=5).select(
        "entity", F.round("auth", 8).alias("auth"), F.round("hub", 8).alias("hub")
    )


def _q_betweenness_s24_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled depth-bounded Brandes betweenness: 24 portable-MD5
    pivots, shortest paths ≤ 4 hops — the broker/chokepoint score the
    walk-stationary family can't see (level-unrolled twin
    plans.oracle_sql.betweenness_query_sql reproduces both passes)."""
    from pagerank_optimization_spark.operators.betweenness import betweenness

    vertices, edges = _graph(spark, sf_dir)
    return betweenness(vertices, edges, n_sources=24, max_depth=4)


def _q_docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.functions.text import (
        mean_word_len_expr,
        punct_ratio_expr,
        token_count_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tok"),
        F.round(mean_word_len_expr(F.col("text")), 6).alias("mean_word_len"),
        F.round(punct_ratio_expr(F.col("text")), 6).alias("punct_ratio"),
    )


def _q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.dedup import exact_dedup

    return exact_dedup(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, k=3, threshold=0.8)


def _q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, EMB_QUERY_IDS, k=10)


# --- remaining queries -------------------------------------------------------
# minhash/simhash/lang_quality/ivf run portable-hash variants and ARE
# oracle-checked (twins in plans.oracle_sql_docs); media_features stays
# rows-only (synthesized binary media has no SQL twin).


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.sessions import sessionize

    return sessionize(_events(spark, sf_dir), gap_seconds=1800)


def _q_events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.sessions import session_stats

    return session_stats(_events(spark, sf_dir), gap_seconds=1800)


def _q_events_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native gap-merge ``session_window`` operator in batch mode — the
    SAME function streaming.sessions wraps with a watermark, so its oracle
    parity certifies the streaming operator's per-session algebra too
    (stream≡batch is pytest's contract, tests/test_streaming.py)."""
    from pagerank_optimization_spark.operators.sessions import session_window_stats

    return session_window_stats(_events(spark, sf_dir), gap_seconds=1800)


def _q_docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # portable hash family: the DuckDB twin reproduces the permutations
    # term for term, so the whole LSH pipeline is hash-checked
    return minhash_lsh_pairs(docs, threshold=0.5, hasher="portable")


def _q_docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # 48-bit portable simhash (hash values live below the 2^50 prime)
    return simhash_pairs(docs, max_hamming=3, bits=48, hasher="portable")


def _q_docs_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.functions.text import (
        lang_id_expr,
        portable_fingerprint_expr,
        quality_score_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        lang_id_expr(F.col("text")).alias("lang_pred"),
        quality_score_expr(F.col("text")).alias("quality"),
        portable_fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def _q_docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS scheme) over the document corpus —
    guaranteed shared fingerprint for any ≥ w+k−1-char normalized
    substring match; portable poly-hash, two bounded per-doc windows."""
    from pagerank_optimization_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=7, w=8)


def _q_docs_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS near-dup pairs: ≥5 shared winnowing fingerprints at k=12/w=10
    (≥21-char shared normalized substrings guaranteed covered) — the
    passage-plagiarism complement to MinHash bag similarity."""
    from pagerank_optimization_spark.operators.dedup import winnow_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_pairs(docs, k=12, w=10, min_shared=5)


def _q_docs_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup cascade (exact → portable-MinHash-LSH → CC family
    collapse) as ONE oracle-checked query: surviving doc_ids. The SQL twin
    reproduces every stage — normalized-text classes, the polynomial
    permutation family term for term, banded buckets, and an unrolled
    min-label CC over the pair graph."""
    from pagerank_optimization_spark.operators.dedup import dedup_cascade

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survivors, _stats = dedup_cascade(docs, hasher="portable")
    return survivors.select("doc_id")


def _q_docs_dedup_survivors_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THREE-TIER cascade (exact → portable-MinHash-LSH → semantic
    cosine near-dup over the embeddings table, vec_id ≡ doc_id) —
    oracle-checked end to end. semantic_exact=True: the oracle needs the
    SQL-expressible all-pairs cosine form (production default is the
    LSH-bucketed sub-quadratic path, pytest-covered for recall); the
    0.42 threshold is calibrated to this corpus's cosine range (max
    pairwise cosine ≈ 0.51 at sf0.01) so the stage genuinely fires."""
    from pagerank_optimization_spark.operators.dedup import dedup_cascade

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    survivors, _stats = dedup_cascade(
        docs, embeddings=emb, hasher="portable",
        semantic_threshold=0.42, semantic_exact=True,
    )
    return survivors.select("doc_id")


def _q_docs_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (the daily-crawl-delta shape): a deterministic
    20% hash split plays the new batch, the rest the curated corpus; a
    new doc survives iff it exact- and near-matches NO corpus doc
    (corpus always wins — no family collapse needed). Portable hash
    family so the twin reproduces every signature and bucket."""
    from pagerank_optimization_spark.operators.dedup import dedup_against_corpus
    from pagerank_optimization_spark.operators.sampling import (
        SAMPLE_DENOM,
        _sample_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bkt = _sample_bucket(F.col("doc_id"), "incr")
    thr = int(0.2 * SAMPLE_DENOM)
    new = docs.where(bkt < F.lit(thr))
    corpus = docs.where(bkt >= F.lit(thr))
    survivors, _ = dedup_against_corpus(new, corpus, hasher="portable")
    return survivors.select("doc_id", "lang")


def _q_emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs over the embeddings table, exact=True (the
    oracle-checkable all-pairs baseline of embedding_neardup_pairs; the
    LSH-bucketed production path is recall-tested against this in pytest).
    τ=0.4 is calibrated to this corpus's cosine range (max pairwise ≈ 0.51
    at sf0.01) so the output is nonempty."""
    from pagerank_optimization_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb, threshold=0.4, exact=True)


def _q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # min-id seeding + zero Lloyd rounds: the quantizer is then fully
    # SQL-expressible, so even the ANN path gets a value-hash oracle.
    # assign_plan="literal": the DuckDB twin reproduces the literal dot
    # products' fold order verbatim; production calls default to the
    # data-sized join plan (similarity._assign_centroid).
    return ivf_topk(
        emb, EMB_QUERY_IDS, k=10, n_centroids=8, nprobe=3, iters=0,
        init="min_id", assign_plan="literal",
    )


def _q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (Jégou et al. 2011): min-id seeding +
    zero Lloyd rounds so the whole quantizer — codebooks, per-subspace
    assignment, ADC lookup sum — is SQL-expressible and value-hashed."""
    from pagerank_optimization_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_topk(
        emb, EMB_QUERY_IDS, k=10, m_sub=4, k_codes=8, iters=0, init="min_id"
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_optimization_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    feats = extract_features(synthesize_media(spark, 300, seed=42))
    # The driver canonicalizer sorts every column in pandas; array<int>
    # cells are unhashable there — project the histogram to a deterministic
    # scalar string for the harness (library API keeps the array form).
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        F.concat_ws(",", F.col("histogram").cast("array<string>")).alias("histogram_csv"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # graph suite (oracle-checked)
        "transcripts_derived": _q_transcripts,
        "transcripts_conv_stats": _q_conv_stats,
        "graph_edges": _q_edges,
        "graph_outdegree": _q_outdegree,
        "graph_pagerank_k5": _q_pagerank_k5,
        "graph_pagerank_k5_csr": _q_pagerank_k5_csr,
        "graph_ppr_k5": _q_ppr_k5,
        "graph_pagerank_weighted_k5": _q_pagerank_weighted_k5,
        "graph_pagerank_decay_k5": _q_pagerank_decay_k5,
        "graph_hits_k5": _q_hits_k5,
        "graph_salsa_k5": _q_salsa_k5,
        "graph_katz_k5": _q_katz_k5,
        "graph_betweenness_s24": _q_betweenness_s24_d4,
        "graph_cc_r16": _q_cc_r16,
        "graph_scc": _q_scc,
        "graph_bowtie": _q_bowtie,
        "graph_triangles": _q_triangles,
        "graph_butterflies": _q_butterflies,
        "graph_mis": _q_mis,
        "graph_matching": _q_matching,
        "graph_coloring": _q_coloring,
        "graph_triangles_deg": _q_triangles_deg,
        "graph_clustering": _q_clustering,
        "graph_lpa_r4": _q_lpa_r4,
        "graph_kcore3": _q_kcore3,
        "graph_ktruss3": _q_ktruss3,
        "graph_coreness": _q_coreness,
        "graph_bfs_conv_r8": _q_bfs_conv_r8,
        "graph_sssp_conv_r6": _q_sssp_conv_r6,
        "graph_reach_r2": _q_reach_r2,
        "graph_walks_l4": _q_graph_walks_l4,
        "graph_walk_skipgrams": _q_walk_skipgrams,
        "graph_stats": _q_graph_stats,
        "graph_degree_hist": _q_degree_histogram,
        "graph_knn_curve": _q_knn_curve,
        "graph_rich_club": _q_rich_club,
        "transcripts_tool_transitions": _q_tool_transitions,
        "transcripts_tool_paths": _q_tool_paths,
        "transcripts_entity_trend": _q_entity_trend,
        "graph_rank_corr": _q_rank_corr,
        "graph_lpa_modularity_r4": _q_lpa_modularity_r4,
        "graph_lpa_conductance_r4": _q_lpa_conductance,
        "graph_pagerank_delta_k5": _q_pagerank_delta_k5,
        "graph_neighbor_jaccard": _q_neighbor_jaccard,
        "graph_adamic_adar": _q_adamic_adar,
        "graph_harmonic_r3": _q_harmonic_r3,
        # documents / embeddings pipeline (oracle-checked)
        "docs_token_stats": _q_docs_token_stats,
        "docs_exact_dedup": _q_docs_exact_dedup,
        "docs_ngram_jaccard": _q_docs_ngram_jaccard,
        "docs_ngram_containment": _q_docs_containment,
        "docs_gopher_flags": _q_docs_gopher_flags,
        "emb_cosine_topk": _q_emb_cosine_topk,
        "events_sessionize": _q_events_sessionize,
        "events_bursts": _q_events_bursts,
        "events_session_stats": _q_events_session_stats,
        "events_session_window_stats": _q_events_session_window_stats,
        # portable-hash variants (oracle-checked — twins reproduce the
        # polynomial hash family / min-id IVF seeding exactly)
        "docs_minhash_pairs": _q_docs_minhash_pairs,
        "docs_simhash_pairs": _q_docs_simhash_pairs,
        "docs_lang_quality": _q_docs_lang_quality,
        "docs_bm25_topk": _q_docs_bm25,
        "docs_hash_sample": _q_docs_hash_sample,
        "docs_weighted_sample": _q_docs_weighted_sample,
        "docs_countmin": _q_docs_countmin,
        "docs_token_hll": _q_docs_token_hll,
        "docs_bloom_contam": _q_docs_bloom_contam,
        "docs_dsir_weights": _q_docs_dsir,
        "docs_stratified_sample": _q_docs_stratified_sample,
        "docs_pack_b512": _q_docs_pack_b512,
        "docs_repetition": _q_docs_repetition,
        "docs_vocab_topk": _q_docs_vocab_topk,
        "docs_zipf_fit": _q_docs_zipf_fit,
        "docs_heaps_fit": _q_docs_heaps_fit,
        "docs_textrank": _q_docs_textrank,
        "docs_bpe_pairs": _q_docs_bpe_pairs,
        "docs_bpe_merges": _q_docs_bpe_merges,
        "docs_bpe_encode": _q_docs_bpe_encode,
        "docs_substring_spans": _q_docs_substring_spans,
        "docs_hashed_tfidf": _q_docs_hashed_tfidf,
        "docs_pmi_pairs": _q_docs_pmi_pairs,
        "docs_corpus_profile": _q_docs_corpus_profile,
        "docs_source_jsd": _q_docs_source_jsd,
        "docs_mix_weights": _q_docs_mix_weights,
        "docs_chunks": _q_docs_chunks,
        "docs_lm_score": _q_docs_lm_score,
        "docs_quality_sample": _q_docs_quality_sample,
        "docs_pii_redact": _q_docs_pii_redact,
        "docs_source_cap": _q_docs_source_cap,
        "docs_contamination": _q_docs_contamination,
        "docs_dedup_lines": _q_docs_dedup_lines,
        "docs_winnow": _q_docs_winnow,
        "docs_winnow_pairs": _q_docs_winnow_pairs,
        "docs_dedup_survivors": _q_docs_dedup_survivors,
        "docs_dedup_survivors_semantic": _q_docs_dedup_survivors_semantic,
        "docs_dedup_incremental": _q_docs_dedup_incremental,
        "emb_neardup_pairs": _q_emb_neardup_pairs,
        "emb_ivf_topk": _q_emb_ivf_topk,
        "emb_pq_topk": _q_emb_pq_topk,
        "emb_pca_top": _q_emb_pca_top,
        "emb_quantize": _q_emb_quantize,
        "emb_quantized_topk": _q_emb_quantized_topk,
        # rows-only (synthesized binary media — no SQL twin)
        "media_features": _q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts_derived": osql.transcripts_query_sql(),
        "graph_edges": osql.edges_query_sql(),
        "graph_outdegree": osql.outdegree_query_sql(),
        "graph_pagerank_k5": osql.pagerank_query_sql(k=5),
        "graph_pagerank_k5_csr": osql.pagerank_query_sql(k=5),
        "graph_ppr_k5": osql.ppr_query_sql(k=5, reset_prefix="agent:"),
        "graph_pagerank_weighted_k5": osql.pagerank_weighted_query_sql(k=5),
        "graph_pagerank_decay_k5": osql.pagerank_decay_query_sql(
            k=5, halflife_s=259200.0
        ),
        "graph_hits_k5": osql.hits_query_sql(k=5),
        "graph_salsa_k5": osql.salsa_query_sql(k=5),
        "graph_katz_k5": osql.katz_query_sql(k=5, alpha=0.05),
        "graph_betweenness_s24": osql.betweenness_query_sql(n_sources=24, max_depth=4),
        "graph_cc_r16": osql.cc_query_sql(rounds=16),
        "graph_scc": osql.scc_query_sql(),
        "graph_bowtie": osql.bowtie_query_sql(),
        "graph_triangles": osql.triangle_query_sql(),
        "graph_butterflies": osql.butterfly_query_sql(max_degree=1000),
        "graph_mis": osql.mis_query_sql(rounds=12),
        "graph_matching": osql.matching_query_sql(rounds=12),
        "graph_coloring": osql.coloring_query_sql(colors=4, mis_rounds=12),
        "graph_triangles_deg": osql.triangle_query_sql(),
        "graph_clustering": osql.clustering_query_sql(),
        "graph_lpa_r4": osql.lpa_query_sql(rounds=4),
        "graph_kcore3": osql.kcore_query_sql(k=3, rounds=16),
        "graph_ktruss3": osql.ktruss_query_sql(k=3, rounds=10),
        "graph_coreness": osql.coreness_query_sql(max_k=4, rounds=16),
        "graph_bfs_conv_r8": osql.bfs_query_sql(seed_like="conv:conv-1%", rounds=8),
        "graph_sssp_conv_r6": osql.sssp_query_sql(seed_like="conv:conv-1%", rounds=6),
        "graph_reach_r2": osql.neighborhood_query_sql(r=2),
        "graph_stats": osql.graph_stats_query_sql(),
        "graph_degree_hist": osql.degree_histogram_query_sql("out"),
        "graph_knn_curve": osql.knn_curve_query_sql(),
        "graph_rich_club": osql.rich_club_query_sql(),
        "transcripts_tool_transitions": osql.tool_transitions_query_sql(),
        "transcripts_tool_paths": osql.tool_paths_query_sql(length=3, top_n=50),
        "transcripts_entity_trend": osql.entity_trend_query_sql(),
        "graph_rank_corr": osql.rank_corr_query_sql(k=5, halflife_s=259200.0),
        "transcripts_conv_stats": (
            "WITH transcripts AS ("
            + _tsql.transcripts_from_events_sql("events")
            + ") "
            + _sessions.conversation_stats_sql()
        ),
        "graph_walk_skipgrams": osql.walk_skipgrams_query_sql(
            length=4, window=2
        ),
        "graph_walks_l4": osql.walks_query_sql(length=4),
        "graph_lpa_modularity_r4": osql.lpa_modularity_query_sql(rounds=4),
        "graph_lpa_conductance_r4": osql.lpa_conductance_query_sql(rounds=4),
        "graph_pagerank_delta_k5": osql.pagerank_delta_query_sql(k=5),
        "graph_neighbor_jaccard": osql.neighbor_jaccard_query_sql(
            threshold=0.8, max_neighbor_freq=1000
        ),
        "graph_adamic_adar": osql.adamic_adar_query_sql(
            min_score=1.5, max_neighbor_freq=1000
        ),
        "graph_harmonic_r3": osql.harmonic_query_sql(r=3),
        "docs_token_stats": osql_docs.docs_token_stats_sql(),
        "docs_exact_dedup": osql_docs.docs_exact_dedup_sql(),
        "docs_gopher_flags": osql_docs.docs_gopher_flags_sql(),
        "docs_ngram_containment": osql_docs.docs_ngram_containment_sql(
            k=3, threshold=0.8, max_shingle_freq=1000
        ),
        "docs_ngram_jaccard": osql_docs.docs_ngram_jaccard_sql(k=3, threshold=0.8),
        "emb_cosine_topk": osql_docs.emb_cosine_topk_sql(EMB_QUERY_IDS, k=10),
        "events_sessionize": _sessions.sessionize_sql(1800),
        "events_bursts": _bursts.event_bursts_sql(bucket_s=3600, z_threshold=2.0),
        "events_session_stats": _sessions.session_stats_sql(1800),
        "events_session_window_stats": _sessions.session_window_stats_sql(1800),
        # portable-hash twins (the operators run with hasher="portable" /
        # init="min_id" above so every pipeline stage is reproducible)
        "docs_minhash_pairs": osql_docs.docs_minhash_pairs_sql(
            num_perm=64, bands=16, k=3, threshold=0.5, max_bucket_size=500
        ),
        "docs_simhash_pairs": osql_docs.docs_simhash_pairs_sql(max_hamming=3, bits=48),
        "docs_dedup_survivors": osql_docs.docs_dedup_cascade_sql(
            num_perm=64, bands=16, k=3, threshold=0.5, max_bucket_size=500
        ),
        "docs_dedup_survivors_semantic": osql_docs.docs_dedup_cascade_semantic_sql(
            num_perm=64, bands=16, k=3, threshold=0.5, max_bucket_size=500,
            semantic_threshold=0.42,
        ),
        "docs_lang_quality": osql_docs.docs_lang_quality_sql(),
        "docs_bm25_topk": osql_docs.docs_bm25_topk_sql(BM25_TERMS, top_n=25),
        "docs_hash_sample": osql_docs.docs_hash_sample_sql(0.1),
        "docs_weighted_sample": osql_docs.docs_weighted_reservoir_sql(40, salt="wrs"),
        "docs_countmin": osql_docs.docs_countmin_sql(depth=4, width=1024),
        "docs_token_hll": osql_docs.docs_token_hll_sql(p=8),
        "docs_dsir_weights": osql_docs.docs_dsir_sql(
            dim=DSIR_DIM, rate=DSIR_RATE
        ),
        "docs_bloom_contam": osql_docs.docs_bloom_contam_sql(
            k=CONTAM_K,
            bits=BLOOM_BITS,
            hashes=BLOOM_HASHES,
            bench_rate=CONTAM_RATE,
        ),
        "docs_stratified_sample": osql_docs.docs_stratified_sample_sql(
            STRAT_RATES, default_rate=0.05
        ),
        "docs_pack_b512": osql_docs.docs_pack_sql(512),
        "docs_repetition": osql_docs.docs_repetition_sql(ngram_n=2),
        "docs_vocab_topk": osql_docs.docs_vocab_topk_sql(50),
        "docs_zipf_fit": osql_docs.docs_zipf_fit_sql(top_n=400, skip_ranks=5),
        "docs_heaps_fit": osql_docs.docs_heaps_fit_sql(min_tokens=100),
        "docs_textrank": osql_docs.docs_textrank_sql(window=2, min_count=3, k0=10),
        "docs_bpe_pairs": osql_docs.docs_bpe_pairs_sql(40),
        "docs_bpe_merges": osql_docs.docs_bpe_merges_sql(8),
        "docs_bpe_encode": osql_docs.docs_bpe_encode_sql(4),
        "docs_substring_spans": osql_docs.docs_substring_spans_sql(5, 10, 1000),
        "docs_hashed_tfidf": osql_docs.docs_hashed_tfidf_sql(32),
        "docs_pmi_pairs": osql_docs.docs_pmi_pairs_sql(window=2, min_count=5),
        "docs_corpus_profile": osql_docs.docs_corpus_profile_sql(),
        "docs_source_jsd": osql_docs.docs_source_jsd_sql(),
        "docs_mix_weights": osql_docs.docs_mix_weights_sql(
            alpha=0.7, token_budget=1_000_000
        ),
        "emb_pca_top": osql_docs.emb_pca_top_sql(iters=3),
        "emb_quantize": osql_docs.emb_quantize_sql(),
        "emb_quantized_topk": osql_docs.emb_quantized_topk_sql(EMB_QUERY_IDS, k=10),
        "docs_chunks": osql_docs.docs_chunks_sql(chunk_tokens=32, overlap=8),
        "docs_lm_score": osql_docs.docs_lm_score_sql(k=0.5),
        "docs_quality_sample": osql_docs.docs_quality_sample_sql(salt="q"),
        "docs_pii_redact": osql_docs.docs_pii_redact_sql(inject_every=7),
        "docs_source_cap": osql_docs.docs_source_cap_sql(20),
        "docs_contamination": osql_docs.docs_contamination_sql(
            k=CONTAM_K, bench_rate=CONTAM_RATE, bench_salt="bench"
        ),
        "docs_dedup_lines": osql_docs.docs_dedup_lines_sql(),
        "docs_winnow": osql_docs.docs_winnow_sql(k=7, w=8),
        "docs_winnow_pairs": osql_docs.docs_winnow_pairs_sql(k=12, w=10, min_shared=5),
        "docs_dedup_incremental": osql_docs.docs_dedup_incremental_sql(
            new_rate=0.2, salt="incr"
        ),
        "emb_neardup_pairs": osql_docs.emb_neardup_pairs_sql(threshold=0.4),
        "emb_ivf_topk": osql_docs.emb_ivf_topk_sql(EMB_QUERY_IDS, k=10, n_centroids=8, nprobe=3),
        "emb_pq_topk": osql_docs.emb_pq_topk_sql(
            EMB_QUERY_IDS, k=10, m_sub=4, k_codes=8, dim=64
        ),
    }
