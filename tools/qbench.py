"""Per-query micro-bench + plan capture for the optimization rounds.

Runs a named subset of the bench.py queries with the same protocol
(min-of-trials, counters dicts where bench passes them; each csr call
builds its own layout, so no cache carries between trials) so a single query can be iterated on without the full suite, and
optionally captures ``.explain("formatted")`` output to a file.

Usage:
    python tools/qbench.py q1 q2 ...            # time the named queries
    QB_PLAN_DIR=plan_dumps QB_PLAN_SUFFIX=_before python tools/qbench.py q1
    QB_TRIALS=2 python tools/qbench.py q1       # override trial count

This file is NOT part of the driver contract (bench.py is frozen); numbers
here are for the optimization log (OPTIMIZATION_r06.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    trials = int(os.environ.get("QB_TRIALS", "2"))
    plan_dir = os.environ.get("QB_PLAN_DIR")
    plan_suffix = os.environ.get("QB_PLAN_SUFFIX", "")
    k0 = 10

    from pyspark.sql import functions as F

    from pagerank_optimization_spark.operators.graph_build import build_graph
    from pagerank_optimization_spark.operators.pagerank import pagerank
    from pagerank_optimization_spark.session import get_spark
    from pagerank_optimization_spark.sources.transcripts import (
        synthesize_transcripts,
        transcripts_from_events,
    )

    spark = get_spark(app_name="qbench", cores=cpus, shuffle_partitions=cpus)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    results: dict[str, float] = {}

    def timed(name, fn, n=trials, dispose=None):
        spark.sparkContext.setJobDescription(f"qbench:{name}")
        best, out = None, None
        for t in range(n):
            if out is not None and dispose is not None:
                dispose(out)
            t0 = time.monotonic()
            out = fn()
            dt = time.monotonic() - t0
            log(f"{name} trial {t}: {dt:.2f}s")
            if best is None or dt < best:
                best = dt
        results[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
        return out

    def capture_plan(name, df):
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            p = os.path.join(plan_dir, f"{name}{plan_suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            log(f"plan -> {p}")

    # lazily-built shared fixtures -------------------------------------------
    _g = {}

    def graph():
        if "v" not in _g:
            v, e = build_graph(transcripts_from_events(events))
            _g["v"], _g["e"] = v.persist(), e.persist()
            _g["v"].count(), _g["e"].count()
        return _g["v"], _g["e"]

    def docs():
        if "docs" not in _g:
            _g["docs"] = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
            _g["docs"].count()
        return _g["docs"]

    def emb():
        if "emb" not in _g:
            _g["emb"] = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
            _g["emb"].count()
        return _g["emb"]

    # query registry mirroring bench.py ---------------------------------------
    Q = {}

    def q(name):
        def deco(fn):
            Q[name] = fn
            return fn
        return deco

    @q("graph_build")
    def _graph_build():
        def _build():
            v, e = build_graph(transcripts_from_events(events))
            v, e = v.persist(), e.persist()
            nv, ne = v.count(), e.count()
            return v, e, nv, ne
        out = timed("graph_build", _build, dispose=lambda r: (r[0].unpersist(), r[1].unpersist()))
        capture_plan("graph_build_edges", out[1])
        log(f"graph: v={out[2]} e={out[3]}")
        out[0].unpersist(), out[1].unpersist()

    @q("pagerank_k10_joinagg")
    def _pr_ja():
        v, e = graph()
        pagerank(v, e, fixed_iters=2, partitions=cpus)  # warmup
        res = timed("pagerank_k10_joinagg", lambda: pagerank(v, e, fixed_iters=k0, partitions=cpus))
        log("compute_s=%.2f" % (sum(m["wall_ms"] for m in res.metrics) / 1000.0))

    @q("pagerank_k10_csr")
    def _pr_csr():
        v, e = graph()
        pagerank(v, e, fixed_iters=2, partitions=cpus, kernel="csr-blocks")  # warmup
        res = timed("pagerank_k10_csr", lambda: pagerank(v, e, fixed_iters=k0, partitions=cpus, kernel="csr-blocks"))
        log("compute_s=%.2f" % (sum(m["wall_ms"] for m in res.metrics) / 1000.0))

    @q("pagerank_converged")
    def _pr_conv():
        v, e = graph()
        pagerank(v, e, fixed_iters=2, partitions=cpus, kernel="csr-blocks")  # warmup
        res = timed("pagerank_converged", lambda: pagerank(v, e, tol=1e-6, max_iter=100, partitions=cpus, kernel="csr-blocks"))
        log(f"iterations={res.iterations} compute_s=%.2f" % (sum(m["wall_ms"] for m in res.metrics) / 1000.0))

    @q("synth_pagerank")
    def _synth_pr():
        tr = synthesize_transcripts(spark, int(os.environ.get("QB_SYNTH_CONV", "40000")), seed=42)
        v, e = build_graph(tr)
        v, e = v.persist(), e.persist()
        log(f"synth: v={v.count()} e={e.count()}")
        pagerank(v, e, fixed_iters=2, partitions=cpus, kernel="csr-blocks")
        timed("synth_pagerank_k10_joinagg", lambda: pagerank(v, e, fixed_iters=k0, partitions=cpus))
        timed("synth_pagerank_k10_csr", lambda: pagerank(v, e, fixed_iters=k0, partitions=cpus, kernel="csr-blocks"))
        v.unpersist(), e.unpersist()

    @q("connected_components")
    def _cc():
        from pagerank_optimization_spark.operators.components import connected_components
        v, e = graph()
        timed("connected_components", lambda: connected_components(v, e, partitions=cpus).count())

    @q("label_propagation_r5")
    def _lpa():
        from pagerank_optimization_spark.operators.lpa import label_propagation
        v, e = graph()
        timed("label_propagation_r5", lambda: label_propagation(v, e, rounds=5, partitions=cpus).count())

    @q("triangle_count")
    def _tri():
        from pagerank_optimization_spark.operators.triangles import triangle_count
        v, e = graph()
        out = timed("triangle_count", lambda: triangle_count(e).collect())
        capture_plan("triangle_count", triangle_count(e))
        log(f"triangles={out}")

    @q("strongly_connected_components")
    def _scc():
        from pagerank_optimization_spark.operators.scc import strongly_connected_components
        v, e = graph()
        timed("strongly_connected_components", lambda: strongly_connected_components(v, e, partitions=cpus).count())

    @q("graph_walks_l4")
    def _walks():
        from pagerank_optimization_spark.operators.walks import random_walks
        v, e = graph()
        timed("graph_walks_l4", lambda: random_walks(v, e, 4, partitions=cpus).count())

    @q("graph_lpa_modularity_r4")
    def _mod():
        from pagerank_optimization_spark.operators.community import modularity
        from pagerank_optimization_spark.operators.lpa import label_propagation
        v, e = graph()
        timed("graph_lpa_modularity_r4", lambda: modularity(e, label_propagation(v, e, rounds=4, partitions=cpus)).count())

    @q("graph_lpa_conductance_r4")
    def _cond():
        from pagerank_optimization_spark.operators.community import conductance
        from pagerank_optimization_spark.operators.lpa import label_propagation
        v, e = graph()
        timed("graph_lpa_conductance_r4", lambda: conductance(e, label_propagation(v, e, rounds=4, partitions=cpus)).count())

    @q("graph_harmonic_r3")
    def _harm():
        from pagerank_optimization_spark.operators.centrality import harmonic_centrality
        v, e = graph()
        out = timed("graph_harmonic_r3", lambda: harmonic_centrality(v, e, 3, partitions=cpus).count())
        capture_plan("graph_harmonic_r3", harmonic_centrality(v, e, 3, partitions=cpus))
        log(f"rows={out}")

    @q("graph_ktruss3")
    def _ktruss():
        from pagerank_optimization_spark.operators.triangles import ktruss
        v, e = graph()
        timed("graph_ktruss3", lambda: ktruss(e, k=3, partitions=cpus).count())

    @q("graph_coreness_c4")
    def _coreness():
        from pagerank_optimization_spark.operators.kcore import coreness
        v, e = graph()
        timed("graph_coreness_c4", lambda: coreness(v, e, max_k=4, partitions=cpus).count())

    @q("graph_salsa_k5")
    def _salsa():
        from pagerank_optimization_spark.operators.salsa import salsa
        v, e = graph()
        timed("graph_salsa_k5", lambda: salsa(v, e, k=5, partitions=cpus).count())

    @q("graph_katz_k5")
    def _katz():
        from pagerank_optimization_spark.operators.katz import katz
        v, e = graph()
        timed("graph_katz_k5", lambda: katz(v, e, k=5, partitions=cpus).count())

    @q("graph_betweenness_s24_d4")
    def _betw():
        from pagerank_optimization_spark.operators.betweenness import betweenness
        v, e = graph()
        timed("graph_betweenness_s24_d4", lambda: betweenness(v, e, n_sources=24, max_depth=4, partitions=cpus).count())

    @q("graph_knn_curve")
    def _knn():
        from pagerank_optimization_spark.operators.structure import knn_curve
        v, e = graph()
        timed("graph_knn_curve", lambda: knn_curve(e).count())

    @q("graph_rich_club")
    def _rc():
        from pagerank_optimization_spark.operators.structure import rich_club
        v, e = graph()
        timed("graph_rich_club", lambda: rich_club(e).count())

    @q("graph_butterflies")
    def _butter():
        from pagerank_optimization_spark.operators.triangles import butterfly_count
        v, e = graph()
        out = timed("graph_butterflies", lambda: butterfly_count(e, max_degree=1000).collect())
        capture_plan("graph_butterflies", butterfly_count(e, max_degree=1000))
        log(f"butterflies={out}")

    @q("graph_mis")
    def _mis():
        from pagerank_optimization_spark.operators.mis import maximal_independent_set
        v, e = graph()
        timed("graph_mis", lambda: maximal_independent_set(v, e, partitions=cpus).count())

    @q("graph_pagerank_delta_k5")
    def _delta():
        from pagerank_optimization_spark.operators.trend import pagerank_delta
        timed("graph_pagerank_delta_k5", lambda: pagerank_delta(transcripts_from_events(events), k0=5, partitions=cpus).count())

    @q("graph_neighbor_jaccard")
    def _nj():
        from pagerank_optimization_spark.operators.structure import neighbor_jaccard_pairs
        v, e = graph()
        caps = {}
        out = timed("graph_neighbor_jaccard", lambda: neighbor_jaccard_pairs(e, threshold=0.8, max_neighbor_freq=1000, counters=caps).count())
        log(f"pairs={out} caps={caps}")

    @q("pipe_dedup_cascade")
    def _cascade():
        from pagerank_optimization_spark.operators.dedup import dedup_cascade
        d = docs()
        caps = {}
        def _run():
            caps.clear()
            surv, stats = dedup_cascade(d, counters=caps)
            n = surv.count()
            surv.unpersist()
            return n, stats
        out = timed("pipe_dedup_cascade", _run)
        log(f"survivors={out[0]} caps={caps}")

    @q("pipe_minhash_lsh_pairs")
    def _mh():
        from pagerank_optimization_spark.operators.dedup import minhash_lsh_pairs
        d = docs()
        caps = {}
        def _run():
            caps.clear()
            return minhash_lsh_pairs(d, threshold=0.5, counters=caps).count()
        out = timed("pipe_minhash_lsh_pairs", _run)
        log(f"pairs={out} caps={caps}")

    @q("pipe_simhash_pairs")
    def _sh():
        from pagerank_optimization_spark.operators.dedup import simhash_pairs
        d = docs()
        out = timed("pipe_simhash_pairs", lambda: simhash_pairs(d, max_hamming=3).count())
        log(f"pairs={out}")

    @q("pipe_ngram_jaccard_pairs")
    def _ng():
        from pagerank_optimization_spark.operators.dedup import ngram_jaccard_pairs
        d = docs()
        caps = {}
        def _run():
            caps.clear()
            return ngram_jaccard_pairs(d, k=3, threshold=0.8, counters=caps).count()
        out = timed("pipe_ngram_jaccard_pairs", _run)
        capture_plan("pipe_ngram_jaccard_pairs", ngram_jaccard_pairs(d, k=3, threshold=0.8))
        log(f"pairs={out} caps={caps}")

    @q("pipe_substring_spans")
    def _spans():
        from pagerank_optimization_spark.operators.dedup import substring_dup_spans
        d = docs()
        caps = {}
        def _run():
            caps.clear()
            return substring_dup_spans(d, k=5, min_match_tokens=10, counters=caps).count()
        out = timed("pipe_substring_spans", _run)
        capture_plan("pipe_substring_spans", substring_dup_spans(d, k=5, min_match_tokens=10))
        log(f"spans={out} caps={caps}")

    @q("pipe_winnow_pairs")
    def _wp():
        from pagerank_optimization_spark.operators.dedup import winnow_pairs
        d = docs()
        caps = {}
        def _run():
            caps.clear()
            return winnow_pairs(d, k=12, w=10, min_shared=5, max_gram_freq=200, counters=caps).count()
        out = timed("pipe_winnow_pairs", _run)
        capture_plan("pipe_winnow_pairs", winnow_pairs(d, k=12, w=10, min_shared=5, max_gram_freq=200))
        log(f"pairs={out} caps={caps}")

    @q("pipe_dedup_incremental")
    def _incr():
        from pagerank_optimization_spark.operators.dedup import dedup_against_corpus
        from pagerank_optimization_spark.operators.sampling import SAMPLE_DENOM, _sample_bucket
        d = docs()
        ib = _sample_bucket(F.col("doc_id"), "incr")
        thr = int(0.2 * SAMPLE_DENOM)
        caps = {}
        def _run():
            caps.clear()
            surv, st = dedup_against_corpus(d.where(ib < thr), d.where(ib >= thr), counters=caps)
            return surv.count(), st
        out = timed("pipe_dedup_incremental", _run)
        log(f"new_survivors={out[0]}")

    @q("pipe_contamination")
    def _contam():
        from pagerank_optimization_spark.operators.quality import contamination_flags
        from pagerank_optimization_spark.operators.sampling import SAMPLE_DENOM, _sample_bucket
        d = docs()
        bkt = _sample_bucket(F.col("doc_id"), "bench")
        thr = int(0.02 * SAMPLE_DENOM)
        timed("pipe_contamination", lambda: contamination_flags(d.where(bkt >= thr), d.where(bkt < thr), k=4).count())

    @q("pipe_bloom_contam")
    def _bloom():
        from pagerank_optimization_spark.operators.quality import bloom_contamination
        from pagerank_optimization_spark.operators.sampling import SAMPLE_DENOM, _sample_bucket
        d = docs()
        bkt = _sample_bucket(F.col("doc_id"), "bench")
        thr = int(0.02 * SAMPLE_DENOM)
        timed("pipe_bloom_contam", lambda: bloom_contamination(d.where(bkt >= thr), d.where(bkt < thr), k=4).count())

    @q("pipe_textrank")
    def _tr():
        from pagerank_optimization_spark.operators.textrank import textrank_keywords
        d = docs()
        timed("pipe_textrank", lambda: textrank_keywords(d, window=2, min_count=3, k0=10).count())

    @q("pipe_repetition_stats")
    def _rep():
        from pagerank_optimization_spark.operators.quality import repetition_stats
        d = docs()
        timed("pipe_repetition_stats", lambda: repetition_stats(d, ngram_n=2).agg(F.sum("top_ngram_frac")).collect())

    @q("pipe_ivf_topk")
    def _ivf():
        from pagerank_optimization_spark.operators.similarity import ivf_topk
        e = emb()
        timed("pipe_ivf_topk", lambda: ivf_topk(e, [0, 7, 42], k=10, n_centroids=8, nprobe=3, iters=3).count())

    @q("pipe_pq_topk")
    def _pq():
        from pagerank_optimization_spark.operators.similarity import pq_topk
        e = emb()
        timed("pipe_pq_topk", lambda: pq_topk(e, [0, 7, 42], k=10, m_sub=4, k_codes=16, iters=2).count())

    @q("pipe_events_sessionize")
    def _sess():
        from pagerank_optimization_spark.operators.sessions import sessionize
        ev = events.persist(); ev.count()
        timed("pipe_events_sessionize", lambda: sessionize(ev, gap_seconds=1800).agg(F.sum("session_seq")).collect())
        ev.unpersist()

    names = sys.argv[1:]
    if not names or names == ["all"]:
        names = list(Q.keys())
    for nm in names:
        if nm not in Q:
            log(f"unknown query {nm}; known: {', '.join(Q.keys())}")
            continue
        Q[nm]()

    print(json.dumps(results))


if __name__ == "__main__":
    main()
