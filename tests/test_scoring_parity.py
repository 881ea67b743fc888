"""Rank-identity of all three scoring paths on the reference query set:
numpy oracle (reference semantics) == exact SQL path == WAND over the index.
"""

import pandas as pd
import pytest

from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
from light_splade_spark.index.build import build_index
from light_splade_spark.index.wand import wand_topk
from light_splade_spark.plans.bm25_sql import bm25_topk_docs
from tests.oracle_numpy import bm25_topk as oracle_topk

TOP_K = 10


@pytest.fixture(scope="module")
def corpus(docs):
    return {r["doc_id"]: r["text"] for r in docs.collect()}


@pytest.fixture(scope="module")
def sql_result(docs):
    return (
        bm25_topk_docs(docs, DOCUMENTS_QUERY_SET, top_k=TOP_K)
        .orderBy("qid", "rank").toPandas()
    )


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                n_shard_groups=2, run_size=100)
    return d


def test_sql_path_matches_numpy_oracle(sql_result, corpus):
    exp = pd.DataFrame(
        oracle_topk(corpus, DOCUMENTS_QUERY_SET, top_k=TOP_K),
        columns=["qid", "rank", "doc_id", "score"],
    )
    got = sql_result.reset_index(drop=True)
    assert len(got) == len(exp)
    assert got["qid"].tolist() == exp["qid"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (got["score"] - exp["score"]).abs().max() < 1e-9


# top_k=0 (every hit) takes the exhaustive scorer, cut here at rank TOP_K;
# top_k=TOP_K takes block-max pruning
@pytest.mark.parametrize("top_k", [0, TOP_K], ids=["taat", "bmw"])
def test_wand_rank_identical_to_sql(spark, index_dir, sql_result, top_k):
    got = (
        wand_topk(spark, index_dir, DOCUMENTS_QUERY_SET, top_k=top_k)
        .where(f"rank <= {TOP_K}").orderBy("qid", "rank").toPandas()
    )
    exp = sql_result.reset_index(drop=True)
    assert got["qid"].tolist() == exp["qid"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    # float32 impact storage: identical after the 4-decimal round except for
    # values at a rounding boundary, bounded by 1e-4 + f32 eps
    assert (got["score"] - exp["score"]).abs().max() <= 2e-4


def test_threshold_and_topk_zero(spark, docs, corpus):
    """top_k=0 -> all docs (reference sparse_retriever.py:81-82); threshold
    filters post-scoring (reference :90)."""
    queries = [(0, "spark join")]
    got = (
        bm25_topk_docs(docs, queries, top_k=0, threshold=0.5)
        .orderBy("qid", "rank").toPandas()
    )
    exp = pd.DataFrame(
        oracle_topk(corpus, queries, top_k=0, threshold=0.5),
        columns=["qid", "rank", "doc_id", "score"],
    )
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (got["score"] >= 0.5).all()
    assert len(got) > TOP_K  # actually unbounded


def test_absent_terms_produce_no_rows(spark, docs):
    got = bm25_topk_docs(docs, [(9, "zzzneverseen qqqnope")], top_k=5).count()
    assert got == 0


def test_single_term_and_duplicate_term(spark, docs, corpus):
    queries = [(1, "merge"), (2, "merge merge join")]
    got = bm25_topk_docs(docs, queries, top_k=5).orderBy("qid", "rank").toPandas()
    exp = pd.DataFrame(oracle_topk(corpus, queries, top_k=5),
                       columns=["qid", "rank", "doc_id", "score"])
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp, check_dtype=False, atol=1e-9)
