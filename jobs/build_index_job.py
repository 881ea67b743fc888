"""spark-submit entry: build (or resume) the inverted index.

    spark-submit --py-files light_splade_spark.zip jobs/build_index_job.py \
        --input /path/to/web_pages_or_documents.parquet \
        --index-dir /path/to/index \
        [--id-col doc_id --text-col text] [--resume] \
        [--n-shards N --n-buckets B --n-salts S --n-shard-groups G]

On a cluster, master/executors come from spark-submit; this script only
declares the job. Input with (url, html) and no doc_id gets ids assigned
deterministically (dense id over url order) and text extracted from html
byte-identically (input_hint invariant).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--index-dir", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--n-shards", type=int, default=None)
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--n-salts", type=int, default=8)
    p.add_argument("--n-shard-groups", type=int, default=None,
                   help="checkpoint groups the shards are written in "
                        "(default: from the corpus size, 1 when the doc "
                        "count is <= --run-size, else 4; a --resume uses "
                        "the count recorded in the manifest)")
    p.add_argument("--run-size", type=int, default=1 << 16)
    p.add_argument("--weight-bits", type=int, default=32, choices=[8, 32])
    p.add_argument("--analyzer", default="ls-spark-1",
                   help="analyzer version (ls-spark-1 ASCII; ls-spark-2 "
                        "adds CJK character bigrams for Japanese corpora)")
    p.add_argument("--wordpiece-vocab", default=None, metavar="PATH",
                   help="build with the WordPiece v4 analyzer using this "
                        "vocab file (one piece per line, or a JSON list — "
                        "the reference ships its tokenizer as files the "
                        "same way); overrides --analyzer. The vocab is "
                        "persisted inside the index dir, so query jobs "
                        "need no flag.")
    p.add_argument("--extract-html", action="store_true",
                   help="derive text from the html BINARY column and doc ids "
                        "from url (Common-Crawl-shaped input)")
    p.add_argument("--assign-ids", default="range-url",
                   choices=["range-url", "site-bucket"],
                   help="docID assignment for id-less html inputs: "
                        "'range-url' = global url order via range "
                        "partitioning (plans/stats.with_dense_id); "
                        "'site-bucket' = registrable-domain md5-bucketed "
                        "order (operators/docid.assign_doc_ids — "
                        "deterministic without distribution sampling, "
                        "same posting-compression locality). Either way "
                        "the (doc_id, url) map is persisted at "
                        "<index-dir>/docid_map for joining results back")
    args = p.parse_args()

    spark = SparkSession.builder.appName("lss-build-index").getOrCreate()
    from pyspark.sql import functions as F

    from light_splade_spark.functions.analyzers import (
        extract_text_udf,
        get_analyzer,
    )
    from light_splade_spark.index.build import build_index
    from light_splade_spark.plans.stats import with_dense_id

    if args.wordpiece_vocab:
        from light_splade_spark.functions.wordpiece import (
            make_wordpiece_analyzer,
        )
        with open(args.wordpiece_vocab) as f:
            body = f.read()
        # a line-format vocab may itself start with '[' ([PAD]/[UNK] head,
        # the standard BERT vocab.txt layout) — only treat the file as JSON
        # if it actually parses as a list
        try:
            vocab = json.loads(body)
            if not isinstance(vocab, list):
                raise ValueError("vocab JSON must be a list")
        except json.JSONDecodeError:
            vocab = [ln for ln in body.splitlines() if ln]
        analyzer = make_wordpiece_analyzer(vocab)
    else:
        analyzer = get_analyzer(args.analyzer)

    docs = spark.read.parquet(args.input)
    if args.extract_html:
        docs = docs.withColumn("text", extract_text_udf("html"))
        if "doc_id" not in docs.columns:
            # both assigners require a TOTAL order (their docstrings):
            # url alone ties on crawl revisits, and a tie re-resolved
            # differently across this job's independent evaluations (the
            # docid_map write, the build, a --resume re-run) would bind
            # different texts to one doc_id. md5(text) as the tiebreak
            # makes the order content-deterministic — any residual tie is
            # between fully identical rows, which are interchangeable.
            staged = docs.select(
                "url", "text", F.md5("text").alias("__tie"))
            if args.assign_ids == "site-bucket":
                from light_splade_spark.operators.docid import assign_doc_ids
                docs = assign_doc_ids(staged,
                                      order_cols=("url", "__tie"),
                                      out_col="doc_id").drop("__tie")
            else:
                docs = with_dense_id(staged,
                                     [F.asc("url"), F.asc("__tie")],
                                     "doc_id").drop("__tie")
            # pin ONE evaluation: html extraction + the docID shuffle are
            # consumed by three actions (docid_map write, the build's
            # expansion, its scalar aggs) — without the persist each
            # would re-run the whole pipeline (and the assigner's count
            # pass doubles every scan)
            docs = docs.persist()
            # persist the id<->url map next to the index so query results
            # (which carry the dense ids) can be joined back to urls
            import os
            docs.select("doc_id", "url").write.mode("overwrite").parquet(
                os.path.join(args.index_dir, "docid_map"))
    man = build_index(
        spark, docs, args.index_dir, id_col=args.id_col,
        text_col=args.text_col, n_shards=args.n_shards,
        n_buckets=args.n_buckets, n_salts=args.n_salts,
        n_shard_groups=args.n_shard_groups, run_size=args.run_size,
        weight_bits=args.weight_bits, resume=args.resume,
        analyzer=analyzer,
    )
    print(json.dumps({"status": man.status, "n_docs": man.n_docs,
                      "avgdl": man.avgdl, "n_shards": man.n_shards,
                      "live_groups": man.live_groups}))
    spark.stop()


if __name__ == "__main__":
    main()
