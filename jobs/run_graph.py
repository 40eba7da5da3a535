"""spark-submit entrypoint: the non-PageRank graph algorithms over a
transcript table (north rule delivery form — ``spark-submit --py-files
pagerank_optimization_spark.zip jobs/run_graph.py ...``).

    spark-submit jobs/run_graph.py --events .../events.parquet \
        --algo cc --output /tmp/cc_out [--checkpoint /tmp/cc_ckpt --run-id demo]

``--algo``: cc (connected components, pointer-doubled fixpoint), lpa
(label propagation, --rounds), triangles (global count), clustering
(per-vertex coefficients), hits / salsa / katz (--rounds = k iterations),
betweenness (64 MD5 pivots, --rounds = depth bound), conductance
(per-community φ over an LPA labeling, --rounds = LPA rounds), rankdelta
(temporal PageRank delta between time halves, --rounds = k0), richclub
(rich-club curve φ(k) over the undirected graph), butterflies (global
4-cycle count via the diagonal-codegree identity), mis (Luby maximal
independent set, deterministic portable-hash priorities). cc and lpa accept
--checkpoint for durable per-round labels + kill-resume (same commit
protocol as PageRank).
"""

from __future__ import annotations

import argparse
import os
import sys

# allow `python jobs/run_graph.py` without --py-files (repo root on path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="parquet path with the transcript schema")
    src.add_argument("--events", help="events parquet to derive transcripts from")
    ap.add_argument(
        "--algo", required=True,
        choices=["cc", "scc", "lpa", "triangles", "clustering", "hits", "salsa",
                 "katz", "betweenness", "conductance", "rankdelta", "richclub",
                 "butterflies", "mis"],
    )
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--rounds", type=int, default=None,
        help="LPA rounds (default 10) / CC max-rounds cap (default 200) — "
        "used as given, raising OR lowering the per-algo default",
    )
    ap.add_argument("--until-stable", action="store_true",
                    help="lpa: stop early when a round changes no label "
                    "(--rounds stays the oscillation cap)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--checkpoint", default=None, help="checkpoint root (cc/lpa resume)")
    ap.add_argument("--run-id", default="run-0")
    args = ap.parse_args(argv)

    from pagerank_optimization_spark.checkpoint import CheckpointManager
    from pagerank_optimization_spark.operators.graph_build import build_graph
    from pagerank_optimization_spark.session import get_spark
    from pagerank_optimization_spark.sources.transcripts import transcripts_from_events

    spark = get_spark(app_name=f"graph-{args.algo}")
    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    else:
        transcripts = transcripts_from_events(spark.read.parquet(args.events))
    vertices, edges = build_graph(transcripts)

    cm = None
    if args.checkpoint and args.algo in ("cc", "lpa"):
        cm = CheckpointManager(spark, args.checkpoint, args.run_id)

    if args.algo == "cc":
        from pagerank_optimization_spark.operators.components import connected_components

        out = connected_components(
            vertices, edges,
            max_rounds=args.rounds if args.rounds is not None else 200,
            partitions=args.partitions, checkpointer=cm,
        )
    elif args.algo == "scc":
        from pagerank_optimization_spark.operators.scc import (
            strongly_connected_components,
        )

        out = strongly_connected_components(
            vertices, edges,
            max_rounds=args.rounds if args.rounds is not None else 200,
            partitions=args.partitions,
        )
    elif args.algo == "lpa":
        from pagerank_optimization_spark.operators.lpa import label_propagation

        out = label_propagation(
            vertices, edges,
            rounds=args.rounds if args.rounds is not None else 10,
            until_stable=args.until_stable,
            partitions=args.partitions, checkpointer=cm,
        )
    elif args.algo == "hits":
        from pagerank_optimization_spark.operators.hits import hits

        out = hits(
            vertices, edges,
            k=args.rounds if args.rounds is not None else 5,
            partitions=args.partitions,
        )
    elif args.algo == "salsa":
        from pagerank_optimization_spark.operators.salsa import salsa

        out = salsa(
            vertices, edges,
            k=args.rounds if args.rounds is not None else 5,
            partitions=args.partitions,
        )
    elif args.algo == "katz":
        from pagerank_optimization_spark.operators.katz import katz

        out = katz(
            vertices, edges,
            k=args.rounds if args.rounds is not None else 5,
            partitions=args.partitions,
        )
    elif args.algo == "betweenness":
        from pagerank_optimization_spark.operators.betweenness import betweenness

        out = betweenness(
            vertices, edges, n_sources=64,
            max_depth=args.rounds if args.rounds is not None else 4,
            partitions=args.partitions,
        )
    elif args.algo == "conductance":
        from pagerank_optimization_spark.operators.community import conductance
        from pagerank_optimization_spark.operators.lpa import label_propagation

        labels = label_propagation(
            vertices, edges,
            rounds=args.rounds if args.rounds is not None else 4,
            partitions=args.partitions,
        )
        out = conductance(edges, labels)
    elif args.algo == "rankdelta":
        from pagerank_optimization_spark.operators.trend import pagerank_delta

        out = pagerank_delta(
            transcripts,
            k0=args.rounds if args.rounds is not None else 5,
            partitions=args.partitions,
        )
    elif args.algo == "richclub":
        from pagerank_optimization_spark.operators.structure import rich_club

        out = rich_club(edges)
    elif args.algo == "butterflies":
        from pagerank_optimization_spark.operators.triangles import butterfly_count

        out = butterfly_count(edges)
    elif args.algo == "mis":
        from pagerank_optimization_spark.operators.mis import maximal_independent_set

        out = maximal_independent_set(
            vertices, edges,
            max_rounds=args.rounds if args.rounds is not None else 64,
            partitions=args.partitions,
        )
    elif args.algo == "triangles":
        from pagerank_optimization_spark.operators.triangles import triangle_count

        out = triangle_count(edges)
    else:
        from pagerank_optimization_spark.operators.triangles import clustering_coefficients

        out = clustering_coefficients(edges)

    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"{args.algo}: wrote {n} rows to {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
