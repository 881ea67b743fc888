"""spark-submit entry: batch top-k BM25 queries against a built index.

    spark-submit --py-files light_splade_spark.zip jobs/query_job.py \
        --index-dir /path/to/index \
        --queries /path/to/queries.ndjson   # {"qid": 1, "text": "..."} lines
        --output /path/to/results.parquet \
        [--top-k 10 --threshold 0.0] \
        [--route auto|wand|join] \
        [--require-all-terms [--exclude "banned terms"]]

Routes: ``wand`` collects the query batch to the driver and runs the
block-max WAND kernel (fastest; driver memory grows with batch size);
``join`` streams the query DataFrame UNCOLLECTED into the distributed
index-join scorer (flat driver memory — the 10^6-query shape);
``auto`` (default) is ``join_scorer.score_query_frame``, the rule the
streaming path applies too: join when the batch exceeds
``JOIN_ROUTE_THRESHOLD`` (50k) queries, else wand. ``--require-all-terms``
switches to conjunctive (boolean-AND) retrieval; ``--exclude`` adds the
boolean NOT arm there (documents containing ANY of its terms are banned).
Flag combinations that a route would silently ignore are REJECTED up
front: ``--require-all-terms`` composes with neither ``--route`` nor
``--threshold``, and ``--exclude`` requires ``--require-all-terms``.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index-dir", required=True)
    p.add_argument("--queries", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--top-k", type=int, default=10)
    p.add_argument("--threshold", type=float, default=0.0)
    p.add_argument("--route", default=None,
                   choices=["auto", "wand", "join"])
    p.add_argument("--require-all-terms", action="store_true",
                   help="conjunctive (boolean-AND) retrieval on the "
                        "wand kernel: collects the batch to the driver "
                        "(sized like --route wand, up to ~10^5 queries)")
    p.add_argument("--exclude", default=None, metavar="TEXT",
                   help="boolean NOT (with --require-all-terms): ban "
                        "documents containing ANY of this text's terms")
    args = p.parse_args()

    if args.require_all_terms and (args.route or args.threshold != 0.0):
        p.error("--require-all-terms is its own route: it composes with "
                "neither --route nor --threshold")
    if args.exclude and not args.require_all_terms:
        p.error("--exclude requires --require-all-terms (the boolean "
                "route); the scoring routes have no NOT arm")
    route = args.route or "auto"

    spark = SparkSession.builder.appName("lss-query").getOrCreate()
    from light_splade_spark.sources.ndjson import read_query_master

    qdf = read_query_master(spark, args.queries)
    if args.require_all_terms:
        from light_splade_spark.index.phrase import conjunctive_topk
        qs = [(int(r["qid"]), r["text"]) for r in qdf.collect()]
        out = conjunctive_topk(spark, args.index_dir, qs, top_k=args.top_k,
                               exclude=args.exclude)
        route = "conjunctive"
    elif route == "auto":
        from light_splade_spark.index.join_scorer import score_query_frame
        route, out = score_query_frame(spark, args.index_dir, qdf,
                                       top_k=args.top_k,
                                       threshold=args.threshold)
    elif route == "join":
        from light_splade_spark.index.join_scorer import score_index_join
        out = score_index_join(spark, args.index_dir,
                               qdf.select("qid", "text"), top_k=args.top_k,
                               threshold=args.threshold)
    else:
        from light_splade_spark.index.wand import wand_topk
        qs = [(int(r["qid"]), r["text"]) for r in qdf.collect()]
        out = wand_topk(spark, args.index_dir, qs, top_k=args.top_k,
                        threshold=args.threshold)
    out.write.mode("overwrite").parquet(args.output)
    # count what was WRITTEN — re-counting `out` would re-execute the
    # whole scoring pipeline (the join route exists for 10^6-query
    # batches; doubling it to print a number is not acceptable)
    n = spark.read.parquet(args.output).count()
    print(f"route={route}: wrote {n} result rows")
    spark.stop()


if __name__ == "__main__":
    main()
