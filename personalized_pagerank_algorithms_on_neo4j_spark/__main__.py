"""CLI (O1): mirrors the reference's options (PPR.java:156-184).

    python -m personalized_pagerank_algorithms_on_neo4j_spark \
        --nodes dataset/got/GOT_Nodes.csv --rels dataset/got/GOT_Rels.csv \
        --alpha 0.15 --epsilon 0.5 --query-num 50 --k 10 --report out/report

Runs the three benchmark suites (whole-graph / top-k / preprocessing) and
prints the report rows; use --single NODE --algo ALGO for one query.
"""

from __future__ import annotations

import argparse
import json

from . import PPREngine, build_spark, load_csv_graph, load_tpch_graph
from .bench_driver import algo_perf_batch_test
from .engine import ALGO_PARAMS


def main() -> None:
    ap = argparse.ArgumentParser(prog="ppr-spark")
    ap.add_argument("--nodes", help="node CSV (:ID,name header)")
    ap.add_argument("--rels", help="relationship CSV (:START_ID,:END_ID,:TYPE)")
    ap.add_argument("--rel-type", default="Relation", help="relationship type filter")
    ap.add_argument("--sf-dir", help="derive the graph from a TPC-H-ish dir instead")
    ap.add_argument("--alpha", type=float, default=0.15)
    ap.add_argument("--epsilon", type=float, default=0.5)
    ap.add_argument("--query-num", type=int, default=50)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sweep-points", type=int, default=2)
    ap.add_argument("--report", help="report sink directory (CSV append)")
    ap.add_argument("--single", help="run one query from this node name/id and exit")
    ap.add_argument("--algo", default="power")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    spark = build_spark(app_name="ppr_cli")
    if args.sf_dir:
        graph = load_tpch_graph(spark, args.sf_dir)
    elif args.nodes and args.rels:
        graph = load_csv_graph(spark, args.nodes, args.rels, args.rel_type)
    else:
        ap.error("provide --nodes/--rels or --sf-dir")
        return

    eng = PPREngine(graph, alpha=args.alpha)
    if args.single is not None:
        source = int(args.single) if args.single.isdigit() else args.single
        # pass --epsilon / --seed only to the algorithms that take them
        given = {"epsilon": args.epsilon, "seed": args.seed}
        takes = ALGO_PARAMS.get(args.algo, set())
        df = eng.ppr(source, algo=args.algo, **{p: v for p, v in given.items() if p in takes})
        eng.with_names(df).show(args.k, truncate=False)
    else:
        rows = algo_perf_batch_test(
            graph,
            query_num=args.query_num,
            k=args.k,
            alpha=args.alpha,
            report_path=args.report,
            sweep_points=args.sweep_points,
            seed=args.seed,
        )
        for r in rows:
            print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
