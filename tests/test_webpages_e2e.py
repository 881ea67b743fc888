"""End-to-end on the Common-Crawl-shaped fixture: html -> extract -> index ->
WAND, rank-identical to the numpy oracle across seeds (FIXTURES.md §1/§3/§6).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from light_splade_spark.fixtures import make_queries, make_web_pages
from light_splade_spark.functions.analyzers import extract_text_udf
from light_splade_spark.index.build import build_index
from light_splade_spark.index.wand import wand_topk
from light_splade_spark.plans.stats import with_dense_id
from tests.oracle_numpy import bm25_topk as oracle_topk


@pytest.mark.parametrize("seed", [42, 7])
def test_webpages_extract_index_query_parity(spark, tmp_path, seed):
    pages = make_web_pages(spark, n_docs=300, vocab_size=800, seed=seed)
    # extraction invariant, then deterministic dense doc ids from url order
    docs = (
        pages.withColumn("text2", extract_text_udf("html"))
        .select("url", F.col("text2").alias("text"))
    )
    docs = with_dense_id(docs, [F.asc("url")], "doc_id")
    d = str(tmp_path / f"idx{seed}")
    build_index(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                n_shard_groups=1, run_size=64)

    queries = make_queries(spark, corpus_vocab_size=800, n_queries=30,
                           seed=seed + 1)
    got = (wand_topk(spark, d, queries, top_k=10)
           .orderBy("qid", "rank").toPandas())
    corpus = {r["doc_id"]: r["text"] for r in docs.collect()}
    exp = pd.DataFrame(oracle_topk(corpus, queries, top_k=10),
                       columns=["qid", "rank", "doc_id", "score"])
    assert got["qid"].tolist() == exp["qid"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (got["score"] - exp["score"]).abs().max() <= 2e-4
