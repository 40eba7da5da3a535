"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries on $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) under local[$SPARK_GRAFT_CPUS], mirroring the
reference's timer harness (timer_op.c): fixed k0=10 PageRank supersteps
(op_dispatch_vars.sh:31 SCALE_K=-10), throughput in edges processed per
second per superstep (the reference counts 2 FLOPs/edge/iteration,
timer_op.c:284-289 — edges/sec = GFLOP/s × 5e8).

EVERY query is min-of-trials (the reference's protocol, timer_op.c:52-61,
269; this box carries 2-3× ambient wall-clock noise, so a single-pass
timing is one GC pause away from a garbage row): kernel queries take the
min over $BENCH_TRIALS (default 3), the longer one-shot pipeline queries
over $BENCH_ONESHOT_TRIALS (default 2). Both counts are recorded in the
output JSON, and the headline ``value`` is the SUM OF PER-QUERY MINIMUMS
— stable round-over-round regardless of trial multiplicity (round 2's
single-pass one-shots swung 1.4-2× on ambient noise).

Both kernels build their layout on every call, so walls include full
per-call setup. The ``*_compute`` throughput extras measure the OTHER
protocol — the steady-state per-superstep region only (sum of
res.metrics wall_ms, setup excluded for both kernels, the region the
reference times).

A size-sweep table (the S10 plot-sink analog, plotter_multi.py:16-62 —
size × kernel × edges/sec/superstep) lands in BENCH/sweep.csv when
$BENCH_SWEEP=1; it includes a >1M-vertex graph, above the limit where
``kernel="auto"`` switches to join-agg.

Extra fields beyond the required {metric, value, unit, queries, sf}:
per-kernel throughput (wall and compute-region), graph dims, and a
``synth`` section on a larger deterministic synthesized transcript graph
(the sf tables' derived graph is small enough that per-superstep
scheduling overhead dominates). Progress goes to stderr; stdout
carries exactly one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    synth_conv = int(os.environ.get("BENCH_SYNTH_CONV", "40000"))
    k0 = 10

    from pyspark.sql import functions as F

    from pagerank_optimization_spark.operators.components import connected_components
    from pagerank_optimization_spark.operators.graph_build import build_graph
    from pagerank_optimization_spark.operators.lpa import label_propagation
    from pagerank_optimization_spark.operators.pagerank import pagerank
    from pagerank_optimization_spark.operators.triangles import triangle_count
    from pagerank_optimization_spark.session import get_spark
    from pagerank_optimization_spark.sources.transcripts import (
        synthesize_transcripts,
        transcripts_from_events,
    )

    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)
    queries: dict[str, float] = {}
    extra: dict[str, object] = {}

    trials = int(os.environ.get("BENCH_TRIALS", "3"))
    oneshot_trials = int(os.environ.get("BENCH_ONESHOT_TRIALS", "2"))

    def timed_min(name: str, fn, n: int | None = None, dispose=None):
        """min-of-trials (timer_op.c:52-61): timing is the min across
        trials; the LAST result is kept (all trials are deterministic).
        ``dispose`` releases a non-final trial's result (e.g. unpersist)
        BEFORE the next trial so no trial reads the previous one's cache."""
        n = trials if n is None else n
        best, out = None, None
        for t in range(n):
            if out is not None and dispose is not None:
                dispose(out)
            t0 = time.monotonic()
            out = fn()
            dt = time.monotonic() - t0
            if n > 1:
                log(f"{name} trial {t}: {dt:.2f}s")
            if best is None or dt < best:
                best = dt
        queries[name] = round(best, 3)
        log(f"{name}: min {best:.2f}s over {n}")
        return out

    def compute_s(res) -> float:
        """Steady-state compute region: sum of per-superstep walls, the
        one-time DISTRIBUTE_DATA excluded (the region timer_op.c times)."""
        return sum(m["wall_ms"] for m in res.metrics) / 1000.0

    # --- sf-table graph -----------------------------------------------------
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def _build():
        v, e = build_graph(transcripts_from_events(events))
        v, e = v.persist(), e.persist()
        return v, e, v.count(), e.count()

    def _unbuild(r):
        r[0].unpersist(), r[1].unpersist()

    vertices, edges, n_v, n_e = timed_min("graph_build", _build, n=oneshot_trials, dispose=_unbuild)
    extra["graph"] = {"vertices": n_v, "edges": n_e}

    # one unmeasured warm-up (JIT + python worker pool)
    pagerank(vertices, edges, fixed_iters=2, partitions=cpus, kernel="csr-blocks")

    res_ja = timed_min("pagerank_k10_joinagg", lambda: pagerank(vertices, edges, fixed_iters=k0, partitions=cpus))
    extra["edges_per_sec_per_superstep_joinagg"] = round(n_e * k0 / queries["pagerank_k10_joinagg"])
    extra["edges_per_sec_per_superstep_joinagg_compute"] = round(n_e * k0 / compute_s(res_ja))

    res_csr = timed_min(
        "pagerank_k10_csr",
        lambda: pagerank(vertices, edges, fixed_iters=k0, partitions=cpus, kernel="csr-blocks"),
    )
    extra["edges_per_sec_per_superstep_csr"] = round(n_e * k0 / queries["pagerank_k10_csr"])
    extra["edges_per_sec_per_superstep_csr_compute"] = round(n_e * k0 / compute_s(res_csr))

    res_conv = timed_min(
        "pagerank_converged",
        lambda: pagerank(vertices, edges, tol=1e-6, max_iter=100, partitions=cpus, kernel="csr-blocks"),
        n=oneshot_trials,
    )
    extra["iterations_to_1e-6"] = res_conv.iterations

    timed_min("connected_components", lambda: connected_components(vertices, edges, partitions=cpus).count(), n=oneshot_trials)
    timed_min("label_propagation_r5", lambda: label_propagation(vertices, edges, rounds=5, partitions=cpus).count(), n=oneshot_trials)
    timed_min("triangle_count", lambda: triangle_count(edges).collect(), n=oneshot_trials)

    from pagerank_optimization_spark.operators.scc import strongly_connected_components

    timed_min(
        "strongly_connected_components",
        lambda: strongly_connected_components(vertices, edges, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.walks import random_walks

    timed_min(
        "graph_walks_l4",
        lambda: random_walks(vertices, edges, 4, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.community import modularity

    timed_min(
        "graph_lpa_modularity_r4",
        lambda: modularity(
            edges, label_propagation(vertices, edges, rounds=4, partitions=cpus)
        ).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.community import conductance

    timed_min(
        "graph_lpa_conductance_r4",
        lambda: conductance(
            edges, label_propagation(vertices, edges, rounds=4, partitions=cpus)
        ).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.centrality import harmonic_centrality

    timed_min(
        "graph_harmonic_r3",
        lambda: harmonic_centrality(vertices, edges, 3, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.triangles import ktruss

    timed_min(
        "graph_ktruss3",
        lambda: ktruss(edges, k=3, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.kcore import coreness

    timed_min(
        "graph_coreness_c4",
        lambda: coreness(vertices, edges, max_k=4, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.salsa import salsa

    timed_min(
        "graph_salsa_k5",
        lambda: salsa(vertices, edges, k=5, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.katz import katz

    timed_min(
        "graph_katz_k5",
        lambda: katz(vertices, edges, k=5, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.betweenness import betweenness

    timed_min(
        "graph_betweenness_s24_d4",
        lambda: betweenness(vertices, edges, n_sources=24, max_depth=4, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.structure import knn_curve, rich_club

    timed_min("graph_knn_curve", lambda: knn_curve(edges).count(), n=oneshot_trials)
    timed_min("graph_rich_club", lambda: rich_club(edges).count(), n=oneshot_trials)

    from pagerank_optimization_spark.operators.triangles import butterfly_count

    timed_min(
        "graph_butterflies",
        lambda: butterfly_count(edges, max_degree=1000).collect(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.mis import maximal_independent_set

    timed_min(
        "graph_mis",
        lambda: maximal_independent_set(vertices, edges, partitions=cpus).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.sessions import tool_transitions

    timed_min(
        "transcripts_tool_transitions",
        lambda: tool_transitions(transcripts_from_events(events)).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.sessions import tool_paths

    timed_min(
        "transcripts_tool_paths",
        lambda: tool_paths(transcripts_from_events(events), length=3, top_n=50).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.sessions import entity_trend

    timed_min(
        "transcripts_entity_trend",
        lambda: entity_trend(transcripts_from_events(events)).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.trend import pagerank_delta

    timed_min(
        "graph_pagerank_delta_k5",
        lambda: pagerank_delta(
            transcripts_from_events(events), k0=5, partitions=cpus
        ).count(),
        n=oneshot_trials,
    )

    from pagerank_optimization_spark.operators.structure import (
        neighbor_jaccard_pairs,
    )

    nj_caps: dict = {}

    def _neighbor_jaccard():
        nj_caps.clear()
        return neighbor_jaccard_pairs(
            edges, threshold=0.8, max_neighbor_freq=1000, counters=nj_caps
        ).count()

    n_nj = timed_min("graph_neighbor_jaccard", _neighbor_jaccard, n=oneshot_trials)
    extra["neighbor_jaccard"] = {
        "pairs_emitted": n_nj,
        "skew_caps_fired": dict(nj_caps),
    }

    # --- synthesized large graph (compute-bound regime) ---------------------
    def _synth():
        tr = synthesize_transcripts(spark, synth_conv, seed=42)
        v, e = build_graph(tr)
        v, e = v.persist(), e.persist()
        return v, e, v.count(), e.count()

    sv, se, s_nv, s_ne = timed_min("synth_graph_build", _synth, n=oneshot_trials, dispose=_unbuild)
    extra["synth_graph"] = {"n_conv": synth_conv, "vertices": s_nv, "edges": s_ne}

    sres_ja = timed_min("synth_pagerank_k10_joinagg", lambda: pagerank(sv, se, fixed_iters=k0, partitions=cpus))
    extra["synth_edges_per_sec_per_superstep_joinagg"] = round(s_ne * k0 / queries["synth_pagerank_k10_joinagg"])
    extra["synth_edges_per_sec_per_superstep_joinagg_compute"] = round(s_ne * k0 / compute_s(sres_ja))

    sres_csr = timed_min(
        "synth_pagerank_k10_csr",
        lambda: pagerank(sv, se, fixed_iters=k0, partitions=cpus, kernel="csr-blocks"),
    )
    extra["synth_edges_per_sec_per_superstep_csr"] = round(s_ne * k0 / queries["synth_pagerank_k10_csr"])
    extra["synth_edges_per_sec_per_superstep_csr_compute"] = round(s_ne * k0 / compute_s(sres_csr))

    # --- LLM-data-pipeline section -------------------------------------------
    # The engine's brief is a training-data pipeline; the dedup/similarity/
    # session operators get the same min-of-trials walls as the graph
    # kernels, plus docs/sec + pairs-emitted throughput counters and the
    # skew-cap fire counts (whether max_shingle_freq / max_bucket_size
    # actually triggered on this corpus — the caps are the 100 TB skew
    # story and should be observed, not assumed). Disable with
    # BENCH_PIPELINE=0 (e.g. for a graph-only sweep run).
    if os.environ.get("BENCH_PIPELINE", "1") == "1":
        from pagerank_optimization_spark.operators.dedup import (
            dedup_cascade,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_pairs,
        )
        from pagerank_optimization_spark.operators.sessions import (
            session_stats,
            sessionize,
        )
        from pagerank_optimization_spark.operators.similarity import ivf_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
        n_docs = docs.count()
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
        n_emb = emb.count()
        events.persist()
        n_events = events.count()
        pipe: dict[str, object] = {"n_docs": n_docs, "n_emb": n_emb, "n_events": n_events}

        caps: dict[str, int] = {}

        def _cascade():
            caps.clear()
            survivors, stats = dedup_cascade(docs, counters=caps)
            n_surv = survivors.count()
            survivors.unpersist()
            return n_surv, stats

        n_surv, stats = timed_min("pipe_dedup_cascade", _cascade, n=oneshot_trials)
        pipe["dedup_cascade"] = {
            "survivors": n_surv,
            "stages": stats,
            "docs_per_sec": round(n_docs / queries["pipe_dedup_cascade"]),
            "skew_caps_fired": dict(caps),
        }

        mh_caps: dict[str, int] = {}

        def _minhash():
            mh_caps.clear()
            return minhash_lsh_pairs(docs, threshold=0.5, counters=mh_caps).count()

        n_mh = timed_min("pipe_minhash_lsh_pairs", _minhash, n=oneshot_trials)
        pipe["minhash_lsh_pairs"] = {
            "pairs_emitted": n_mh,
            "docs_per_sec": round(n_docs / queries["pipe_minhash_lsh_pairs"]),
            "skew_caps_fired": dict(mh_caps),
        }

        n_sh = timed_min(
            "pipe_simhash_pairs",
            lambda: simhash_pairs(docs, max_hamming=3).count(),
            n=oneshot_trials,
        )
        pipe["simhash_pairs"] = {
            "pairs_emitted": n_sh,
            "docs_per_sec": round(n_docs / queries["pipe_simhash_pairs"]),
        }

        ng_caps: dict[str, int] = {}

        def _ngram():
            ng_caps.clear()
            return ngram_jaccard_pairs(docs, k=3, threshold=0.8, counters=ng_caps).count()

        n_ng = timed_min("pipe_ngram_jaccard_pairs", _ngram, n=oneshot_trials)
        pipe["ngram_jaccard_pairs"] = {
            "pairs_emitted": n_ng,
            "docs_per_sec": round(n_docs / queries["pipe_ngram_jaccard_pairs"]),
            "skew_caps_fired": dict(ng_caps),
        }

        from pagerank_optimization_spark.operators.dedup import substring_dup_spans

        ss_caps: dict[str, int] = {}

        def _spans():
            ss_caps.clear()
            return substring_dup_spans(
                docs, k=5, min_match_tokens=10, counters=ss_caps
            ).count()

        n_ss = timed_min("pipe_substring_spans", _spans, n=oneshot_trials)
        pipe["substring_spans"] = {
            "spans_emitted": n_ss,
            "docs_per_sec": round(n_docs / queries["pipe_substring_spans"]),
            "skew_caps_fired": dict(ss_caps),
        }

        from pagerank_optimization_spark.operators.retrieval import bm25_topk

        timed_min(
            "pipe_bm25_topk",
            lambda: bm25_topk(docs, ("hash", "join", "vector"), top_n=25).count(),
            n=oneshot_trials,
        )
        pipe["bm25_docs_per_sec"] = round(n_docs / queries["pipe_bm25_topk"])

        from pagerank_optimization_spark.operators.quality import (
            contamination_flags,
            repetition_stats,
            source_cap,
        )
        from pagerank_optimization_spark.operators.sampling import (
            SAMPLE_DENOM,
            _sample_bucket,
        )
        from pyspark.sql import functions as _F

        # Forcing discipline for projection/densify-shaped operators:
        # .count() lets Catalyst prune unused columns and eliminate the
        # final densifying left join (measured: token_hll .count() 0.4s
        # vs 2.5s real at 250k docs), so rows whose operator ends in a
        # pure projection, a window, or an ids⟕agg densify force a SUM
        # over an output column that requires the full computation.
        timed_min(
            "pipe_repetition_stats",
            lambda: repetition_stats(docs, ngram_n=2)
            .agg(_F.sum("top_ngram_frac"))
            .collect(),
            n=oneshot_trials,
        )
        pipe["repetition_docs_per_sec"] = round(
            n_docs / queries["pipe_repetition_stats"]
        )
        timed_min(
            "pipe_source_cap",
            lambda: source_cap(docs, 20).count(),
            n=oneshot_trials,
        )
        from pagerank_optimization_spark.operators.sampling import (
            hash_sample,
            pack_documents,
        )

        timed_min(
            "pipe_hash_sample",
            lambda: hash_sample(docs, 0.1, "doc_id").count(),
            n=oneshot_trials,
        )
        timed_min(
            "pipe_pack_b512",
            lambda: pack_documents(docs, 512).count(),
            n=oneshot_trials,
        )
        pipe["pack_docs_per_sec"] = round(n_docs / queries["pipe_pack_b512"])

        from pagerank_optimization_spark.functions.text import quality_score_expr
        from pagerank_optimization_spark.operators.pii import redact_pii
        from pagerank_optimization_spark.operators.sampling import (
            weighted_hash_sample,
        )
        from pagerank_optimization_spark.operators.vocab import vocab_topk

        timed_min(
            "pipe_vocab_topk",
            lambda: vocab_topk(docs, 50).count(),
            n=oneshot_trials,
        )
        pipe["vocab_docs_per_sec"] = round(n_docs / queries["pipe_vocab_topk"])
        from pagerank_optimization_spark.operators.vocab import bpe_pair_counts

        timed_min(
            "pipe_bpe_pairs",
            lambda: bpe_pair_counts(docs, 40).count(),
            n=oneshot_trials,
        )
        pipe["bpe_docs_per_sec"] = round(n_docs / queries["pipe_bpe_pairs"])
        from pagerank_optimization_spark.operators.vocab import (
            bpe_encode,
            bpe_train_merges,
        )

        bpe_model = bpe_train_merges(docs, 8).persist()
        bpe_model.count()
        timed_min(
            "pipe_bpe_encode",
            lambda: bpe_encode(docs, bpe_model).count(),
            n=oneshot_trials,
        )
        bpe_model.unpersist()
        pipe["bpe_encode_docs_per_sec"] = round(n_docs / queries["pipe_bpe_encode"])
        timed_min(
            "pipe_quality_sample",
            lambda: weighted_hash_sample(
                docs.select("doc_id", quality_score_expr(_F.col("text")).alias("w")),
                _F.col("w"),
                "doc_id",
            ).count(),
            n=oneshot_trials,
        )
        timed_min(
            "pipe_pii_redact",
            lambda: redact_pii(docs)
            .agg(_F.sum(_F.length("text_redacted")), _F.sum("n_email"))
            .collect(),
            n=oneshot_trials,
        )
        pipe["pii_docs_per_sec"] = round(n_docs / queries["pipe_pii_redact"])

        from pagerank_optimization_spark.operators.vectorize import hashed_tfidf

        timed_min(
            "pipe_hashed_tfidf",
            lambda: hashed_tfidf(docs, 64).count(),
            n=oneshot_trials,
        )
        pipe["tfidf_docs_per_sec"] = round(n_docs / queries["pipe_hashed_tfidf"])

        from pagerank_optimization_spark.operators.lm import unigram_lm_scores

        timed_min(
            "pipe_lm_score",
            lambda: unigram_lm_scores(docs, k=0.5)
            .agg(_F.sum("avg_logp"))
            .collect(),
            n=oneshot_trials,
        )
        pipe["lm_docs_per_sec"] = round(n_docs / queries["pipe_lm_score"])

        from pagerank_optimization_spark.operators.cooccur import pmi_pairs

        timed_min(
            "pipe_pmi_pairs",
            lambda: pmi_pairs(docs, window=2, min_count=5).count(),
            n=oneshot_trials,
        )
        pipe["pmi_docs_per_sec"] = round(n_docs / queries["pipe_pmi_pairs"])

        from pagerank_optimization_spark.operators.textrank import textrank_keywords

        timed_min(
            "pipe_textrank",
            lambda: textrank_keywords(docs, window=2, min_count=3, k0=10).count(),
            n=oneshot_trials,
        )
        pipe["textrank_docs_per_sec"] = round(n_docs / queries["pipe_textrank"])

        from pagerank_optimization_spark.operators.vocab import zipf_fit

        timed_min(
            "pipe_zipf_fit",
            lambda: zipf_fit(docs, top_n=400, skip_ranks=5).count(),
            n=oneshot_trials,
        )

        from pagerank_optimization_spark.operators.vocab import heaps_fit

        timed_min(
            "pipe_heaps_fit",
            lambda: heaps_fit(docs, min_tokens=100).count(),
            n=oneshot_trials,
        )

        from pagerank_optimization_spark.operators.quality import corpus_profile

        timed_min(
            "pipe_corpus_profile",
            lambda: corpus_profile(docs, exact=False).count(),
            n=oneshot_trials,
        )
        pipe["profile_docs_per_sec"] = round(n_docs / queries["pipe_corpus_profile"])

        from pagerank_optimization_spark.operators.quality import source_divergence

        timed_min(
            "pipe_source_jsd",
            lambda: source_divergence(docs).count(),
            n=oneshot_trials,
        )

        from pagerank_optimization_spark.operators.sampling import chunk_documents

        timed_min(
            "pipe_chunks",
            lambda: chunk_documents(docs, chunk_tokens=128, overlap=16)
            .agg(_F.sum(_F.length("chunk_text")))
            .collect(),
            n=oneshot_trials,
        )
        pipe["chunk_docs_per_sec"] = round(n_docs / queries["pipe_chunks"])

        from pagerank_optimization_spark.operators.quality import dedup_lines

        dl_caps: dict[str, int] = {}

        def _dedup_lines():
            dl_caps.clear()
            return dedup_lines(docs, max_line_freq=1000, counters=dl_caps).count()

        timed_min("pipe_dedup_lines", _dedup_lines, n=oneshot_trials)
        pipe["dedup_lines"] = {
            "docs_per_sec": round(n_docs / queries["pipe_dedup_lines"]),
            "skew_caps_fired": dict(dl_caps),
        }

        from pagerank_optimization_spark.operators.dedup import winnow_pairs

        wp_caps: dict[str, int] = {}

        def _winnow_pairs():
            wp_caps.clear()
            # max_gram_freq=200: on this synthetic corpus (small vocab, so
            # 12-grams are corpus-common) the cap observably fires (~230
            # grams / 63k rows at sf0.1) — the boilerplate-filter behavior
            return winnow_pairs(
                docs, k=12, w=10, min_shared=5, max_gram_freq=200, counters=wp_caps
            ).count()

        n_wp = timed_min("pipe_winnow_pairs", _winnow_pairs, n=oneshot_trials)
        pipe["winnow_pairs"] = {
            "pairs_emitted": n_wp,
            "docs_per_sec": round(n_docs / queries["pipe_winnow_pairs"]),
            "skew_caps_fired": dict(wp_caps),
        }

        from pagerank_optimization_spark.operators.dedup import dedup_against_corpus

        _ib = _sample_bucket(_F.col("doc_id"), "incr")
        _ithr = int(0.2 * SAMPLE_DENOM)
        inc_caps: dict = {}

        def _incremental():
            inc_caps.clear()
            surv, st = dedup_against_corpus(
                docs.where(_ib < _ithr),
                docs.where(_ib >= _ithr),
                counters=inc_caps,
            )
            return surv.count(), st

        n_inc, inc_stats = timed_min(
            "pipe_dedup_incremental", _incremental, n=oneshot_trials
        )
        pipe["dedup_incremental"] = {
            "new_survivors": n_inc,
            "stages": inc_stats,
            "skew_caps_fired": dict(inc_caps),
        }

        _bkt = _sample_bucket(_F.col("doc_id"), "bench")
        _thr = int(0.02 * SAMPLE_DENOM)
        timed_min(
            "pipe_contamination",
            lambda: contamination_flags(
                docs.where(_bkt >= _thr), docs.where(_bkt < _thr), k=4
            ).count(),
            n=oneshot_trials,
        )
        pipe["contamination_docs_per_sec"] = round(
            n_docs / queries["pipe_contamination"]
        )

        # Bounded-state sketch toolkit: same split as pipe_contamination
        # for the Bloom variant (benchmark side capped at `bits` position
        # rows vs the exact pass's unbounded shingle broadcast), plus the
        # fixed-grid frequency (count-min) and cardinality (HLL) sketches.
        from pagerank_optimization_spark.operators.quality import bloom_contamination
        from pagerank_optimization_spark.operators.vocab import token_countmin, token_hll

        timed_min(
            "pipe_bloom_contam",
            lambda: bloom_contamination(
                docs.where(_bkt >= _thr), docs.where(_bkt < _thr), k=4
            ).count(),
            n=oneshot_trials,
        )
        pipe["bloom_contam_docs_per_sec"] = round(
            n_docs / queries["pipe_bloom_contam"]
        )
        timed_min(
            "pipe_countmin",
            lambda: token_countmin(docs, depth=4, width=1024).count(),
            n=oneshot_trials,
        )
        pipe["countmin_docs_per_sec"] = round(n_docs / queries["pipe_countmin"])
        timed_min(
            "pipe_token_hll",
            lambda: token_hll(docs, p=8).agg(_F.sum("rho")).collect(),
            n=oneshot_trials,
        )
        pipe["hll_docs_per_sec"] = round(n_docs / queries["pipe_token_hll"])

        from pagerank_optimization_spark.operators.dsir import dsir_logratios

        timed_min(
            "pipe_dsir_weights",
            lambda: dsir_logratios(
                docs.where(_bkt >= _thr), docs.where(_bkt < _thr), dim=1024
            )
            .agg(_F.sum("logw"))
            .collect(),
            n=oneshot_trials,
        )
        pipe["dsir_docs_per_sec"] = round(n_docs / queries["pipe_dsir_weights"])

        timed_min(
            "pipe_events_sessionize",
            lambda: sessionize(events, gap_seconds=1800)
            .agg(_F.sum("session_seq"))
            .collect(),
            n=oneshot_trials,
        )
        pipe["sessionize_events_per_sec"] = round(
            n_events / queries["pipe_events_sessionize"]
        )
        timed_min(
            "pipe_events_session_stats",
            lambda: session_stats(events, gap_seconds=1800).count(),
            n=oneshot_trials,
        )

        timed_min(
            "pipe_ivf_topk",
            lambda: ivf_topk(
                emb, [0, 7, 42], k=10, n_centroids=8, nprobe=3, iters=3
            ).count(),
            n=oneshot_trials,
        )
        pipe["ivf_vecs_per_sec"] = round(n_emb / queries["pipe_ivf_topk"])

        from pagerank_optimization_spark.operators.similarity import pq_topk

        timed_min(
            "pipe_pq_topk",
            lambda: pq_topk(
                emb, [0, 7, 42], k=10, m_sub=4, k_codes=16, iters=2
            ).count(),
            n=oneshot_trials,
        )
        pipe["pq_vecs_per_sec"] = round(n_emb / queries["pipe_pq_topk"])

        docs.unpersist(), emb.unpersist(), events.unpersist()

        # --- corpus-size sweep (r4 VERDICT #3): the 100 TB claim for the
        # dedup cascade is that throughput GROWS with corpus size (fixed
        # job overhead amortizes) and the skew caps actually fire. The
        # synthesized corpus plants a mega near-dup family (bucket cap), a
        # boilerplate prefix (shingle-frequency cap), exact-dup groups and
        # near-dup families (per-stage removals) — sources.documents.
        # Walls are min-of-oneshot_trials but recorded ONLY here (not in
        # ``queries``), so the headline `value` stays suite-comparable
        # with BENCH_r04 (the r5 drift re-check needs that).
        from pagerank_optimization_spark.operators.dedup import ngram_jaccard_pairs as _ng
        from pagerank_optimization_spark.sources.documents import synthesize_documents

        sweep_sizes = [
            int(s) for s in os.environ.get("BENCH_PIPE_SIZES", "5000,50000,250000").split(",")
        ]
        cascade_sweep = []
        for n_sz in sweep_sizes:
            sdocs = synthesize_documents(spark, n_sz, seed=42).persist()
            sdocs.count()
            sw_caps: dict[str, int] = {}
            best, result = None, None
            for t in range(oneshot_trials):
                sw_caps.clear()
                t0 = time.monotonic()
                surv, st = dedup_cascade(sdocs, counters=sw_caps)
                n_sv = surv.count()
                surv.unpersist()
                dt = time.monotonic() - t0
                log(f"pipe_cascade_synth_{n_sz} trial {t}: {dt:.2f}s")
                if best is None or dt < best:
                    best, result = dt, (n_sv, st)
            cascade_sweep.append(
                {
                    "n_docs": n_sz,
                    "wall_s_min": round(best, 3),
                    "docs_per_sec": round(n_sz / best),
                    "survivors": result[0],
                    "stages": result[1],
                    "skew_caps_fired": dict(sw_caps),
                }
            )
            log(f"pipe_cascade_synth_{n_sz}: min {best:.2f}s "
                f"({round(n_sz / best)} docs/sec, caps {sw_caps})")
            sdocs.unpersist()
        pipe["cascade_corpus_sweep"] = cascade_sweep

        # n-gram shingle-frequency cap observed firing (boilerplate df ≈
        # 0.46·n ≫ 1000) on the smallest synthetic corpus — the exact-
        # Jaccard operator is O(Σ f²) by design, so it stays off the
        # larger sweep sizes (MinHash is the scale path)
        sdocs = synthesize_documents(spark, sweep_sizes[0], seed=42).persist()
        sdocs.count()
        ng_syn_caps: dict[str, int] = {}

        def _ng_syn():
            ng_syn_caps.clear()
            return _ng(sdocs, k=3, threshold=0.8, counters=ng_syn_caps).count()

        best = None
        for t in range(oneshot_trials):
            t0 = time.monotonic()
            n_pairs_syn = _ng_syn()
            dt = time.monotonic() - t0
            log(f"pipe_ngram_synth trial {t}: {dt:.2f}s")
            best = dt if best is None or dt < best else best
        pipe["ngram_jaccard_synth"] = {
            "n_docs": sweep_sizes[0],
            "wall_s_min": round(best, 3),
            "pairs_emitted": n_pairs_syn,
            "skew_caps_fired": dict(ng_syn_caps),
        }
        sdocs.unpersist()
        extra["pipeline"] = pipe

    # --- size sweep (S10 plot-sink analog) -----------------------------------
    if os.environ.get("BENCH_SWEEP", "0") == "1":
        import csv

        def sweep_row(rows, label, wv, we, w_nv, w_ne, kern, n, **kw):
            best, cbest = None, None
            for _ in range(n):
                t0 = time.monotonic()
                r = pagerank(wv, we, fixed_iters=k0, partitions=cpus, kernel=kern, **kw)
                dt = time.monotonic() - t0
                best = dt if best is None or dt < best else best
                cs = compute_s(r)
                cbest = cs if cbest is None or cs < cbest else cbest
            rows.append(
                {
                    "n_conv": label,
                    "vertices": w_nv,
                    "edges": w_ne,
                    "kernel": kern,
                    "k0": k0,
                    "wall_s_min": round(best, 3),
                    "edges_per_sec_per_superstep": round(w_ne * k0 / best),
                    "compute_s_min": round(cbest, 3),
                    "edges_per_sec_per_superstep_compute": round(w_ne * k0 / cbest),
                }
            )
            log(f"sweep {label} {kern}: wall {best:.2f}s compute {cbest:.2f}s")

        rows = []
        for n_conv in (5000, 20000, synth_conv):
            tr = synthesize_transcripts(spark, n_conv, seed=42)
            wv, we = build_graph(tr)
            wv, we = wv.persist(), we.persist()
            w_nv, w_ne = wv.count(), we.count()
            for kern in ("join-agg", "csr-blocks"):
                sweep_row(rows, n_conv, wv, we, w_nv, w_ne, kern, trials)
            wv.unpersist(), we.unpersist()

        # large-m Kronecker row: the O(nnz) R-MAT sampler feeding both
        # kernels — m=16384 is 64x past the exact sweep's practical cutoff
        # (m^2 = 268M cells vs ~2M sampled balls)
        from pagerank_optimization_spark.sources.kronecker import kronecker_graph

        km = 16384
        kv, ke = kronecker_graph(spark, km, seed=42, method="rmat")
        kv, ke = kv.persist(), ke.persist()
        k_nv, k_ne = kv.count(), ke.count()
        for kern in ("join-agg", "csr-blocks"):
            sweep_row(rows, f"kron_rmat_m{km}", kv, ke, k_nv, k_ne, kern, trials, id_col="vid")
        kv.unpersist(), ke.unpersist()

        # >1M-VERTEX row: |V| exceeds BROADCAST_ROW_LIMIT, where
        # kernel="auto" switches to join-agg; csr-blocks still runs there
        big_conv = int(os.environ.get("BENCH_SWEEP_SCALE_CONV", "1100000"))
        btr = synthesize_transcripts(spark, big_conv, seed=42)
        bv, be = build_graph(btr)
        bv, be = bv.persist(), be.persist()
        b_nv, b_ne = bv.count(), be.count()
        assert b_nv > 1_000_000, f">1M-vertex row needs >1M vertices, got {b_nv}"
        for kern in ("join-agg", "csr-blocks"):
            sweep_row(rows, f"synth_{big_conv}", bv, be, b_nv, b_ne, kern, 2)
        bv.unpersist(), be.unpersist()

        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/sweep.csv", "w", newline="") as f:
            wtr = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
            wtr.writeheader()
            wtr.writerows(rows)
        extra["sweep"] = rows

        # hub-skew row: one SOURCE owns 40% of all edges — co-partitioned
        # by hash(src), its whole edge list lands in ONE join task every
        # superstep. hub_split_degree="auto" (out-degree probe + salted
        # edge split, plans.partitioning) spreads it. The decisive metric
        # at cluster scale is the PARTITION BALANCE (max task's edge share
        # bounds the parallel speedup of every superstep); local wall
        # times are reported too, but a 200k-row task is sub-second on one
        # JVM, so the local walls sit at the scheduling floor either way.
        # (dst-side hubs need no defense — map-side partial aggregation
        # already combines them; measured and documented in
        # plans.partitioning.)
        from pagerank_optimization_spark.plans.partitioning import with_src_degree_salt

        hv = spark.range(600_000).selectExpr("concat('v', id) AS entity")
        he = spark.range(500_000).selectExpr(
            "CASE WHEN id % 10 < 4 THEN 'v0' ELSE concat('v', id) END AS src",
            "concat('v', (id * 37) % 600000) AS dst",
            "1.0 AS weight",
        ).persist()
        he.count()

        def balance(df, *keys):
            parts = (
                df.repartition(cpus, *keys)
                .select(F.spark_partition_id().alias("p"))
                .groupBy("p").count().collect()
            )
            counts = [r["count"] for r in parts]
            return round(max(counts) * len(counts) / sum(counts), 2)

        hub_row = {"max_task_skew_split_off": balance(he, "src")}
        salted, _hubs = with_src_degree_salt(he, max_deg=10_000)
        hub_row["max_task_skew_split_auto"] = balance(salted, "src", "ssalt")
        for mode, split in (("off", None), ("auto", "auto")):
            best = None
            for _ in range(trials):
                t0 = time.monotonic()
                pagerank(hv, he, fixed_iters=5, partitions=cpus, hub_split_degree=split)
                dt = time.monotonic() - t0
                best = dt if best is None or dt < best else best
            hub_row[f"wall_s_min_split_{mode}"] = round(best, 3)
            log(f"hub-skew split={mode}: {best:.2f}s")
        he.unpersist()
        log(f"hub-skew max-task/mean: off={hub_row['max_task_skew_split_off']}x "
            f"auto={hub_row['max_task_skew_split_auto']}x")
        extra["hub_skew_500k_edges_k5"] = hub_row

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "sum of per-query min-of-trials wall seconds: link-graph suite (PageRank k10 joinagg/csr, converged PageRank on csr, CC, LPA, triangles, on the transcript graph derived from events) + LLM-pipeline suite (pipe_* rows, new in r4: dedup cascade, minhash/simhash/ngram pairs, sessionize+stats, IVF top-k on the sf documents/embeddings/events tables) — r<=3 values summed the link-graph rows only",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "kernel_trials": trials,
        "oneshot_trials": oneshot_trials,
        "csr_timing_protocol": (
            "every CSR call builds its layout anew, so walls include full "
            "per-call setup for both kernels; the *_compute extras exclude setup for both "
            "(steady-state per-superstep region, the reference's timed region; "
            "since r4 the CSR layout compile is forced at setup, so superstep 0 "
            "no longer carries lazy DISTRIBUTE_DATA — r3 csr *_compute figures "
            "included it). Round <=2 CSR walls were warm-cache — not comparable."
        ),
        **extra,
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
