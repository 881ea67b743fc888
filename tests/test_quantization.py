"""8-bit block-quantized impacts: size halves again, ranking stays faithful."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_splade_spark.engine import Engine
from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
from light_splade_spark.index.build import build_index, read_postings
from light_splade_spark.index.wand import wand_topk


@pytest.fixture(scope="module")
def idx32(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("q32"))
    build_index(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                n_shard_groups=1, run_size=100, weight_bits=32)
    return d


@pytest.fixture(scope="module")
def idx8(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("q8"))
    build_index(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                n_shard_groups=1, run_size=100, weight_bits=8)
    return d


def _bytes_per_posting(spark, d):
    r = read_postings(spark, d).agg(
        F.sum(F.length("postings")).alias("b"), F.sum("df").alias("p")
    ).collect()[0]
    return r["b"] / r["p"]


def test_quantized_index_is_smaller(spark, idx32, idx8):
    b32 = _bytes_per_posting(spark, idx32)
    b8 = _bytes_per_posting(spark, idx8)
    assert b8 < b32 - 2.5  # ~3 bytes/posting saved (f32 -> u8)


def test_quantized_scores_close_and_ranking_faithful(spark, idx32, idx8):
    exact = (wand_topk(spark, idx32, DOCUMENTS_QUERY_SET, top_k=10)
             .orderBy("qid", "rank").collect())
    quant = (wand_topk(spark, idx8, DOCUMENTS_QUERY_SET, top_k=10)
             .orderBy("qid", "rank").collect())
    e_by_q: dict[int, list] = {}
    q_by_q: dict[int, list] = {}
    e_score = {}
    for r in exact:
        e_by_q.setdefault(r["qid"], []).append(r["doc_id"])
        e_score[(r["qid"], r["doc_id"])] = r["score"]
    for r in quant:
        q_by_q.setdefault(r["qid"], []).append(r["doc_id"])
        # quantization error bounded by ~|terms| * max_w/510 per score
        if (r["qid"], r["doc_id"]) in e_score:
            assert abs(r["score"] - e_score[(r["qid"], r["doc_id"])]) < 0.05
    assert set(e_by_q) == set(q_by_q)
    for qid in e_by_q:
        overlap = len(set(e_by_q[qid]) & set(q_by_q[qid]))
        assert overlap >= 8, (qid, overlap)  # top-10 overlap >= 80%


def test_quantized_bmw_equals_quantized_taat(spark, idx8):
    """Pruning must stay exact relative to the quantized weights: the
    pruned top-10 equals the exhaustive (top_k=0) ranking cut at 10."""
    a = (wand_topk(spark, idx8, DOCUMENTS_QUERY_SET, top_k=10)
         .orderBy("qid", "rank").collect())
    b = (wand_topk(spark, idx8, DOCUMENTS_QUERY_SET, top_k=0)
         .where("rank <= 10").orderBy("qid", "rank").collect())
    assert [(r["qid"], r["rank"], r["doc_id"]) for r in a] == \
           [(r["qid"], r["rank"], r["doc_id"]) for r in b]


def test_engine_build_with_quantization(spark, docs, tmp_path):
    eng = Engine.build(spark, docs.limit(100), str(tmp_path / "i"),
                       n_shards=2, n_buckets=4, n_salts=2, n_shard_groups=1,
                       weight_bits=8)
    assert eng.manifest.weight_bits == 8
    assert eng.retrieve([(0, "spark join")], top_k=5).count() > 0
