"""Pluggable encoder seam: custom model weights flow build -> retrieve.

Reference: ``SpladeEncoder.encode`` (``models/splade.py:196-269``) is the one
heavy text->sparse-vector UDF. Here a custom encoder (an Arrow pandas-UDF
callable) is injected into ``splade_expansion``, its weights are indexed
verbatim via ``build_index(weights_df=...)`` (manifest scoring="impact"),
and queries run with explicit ``query_weights`` — the reference's query-CSR
dot product (``sparse_retriever.py:78``) with model weights on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from light_splade_spark.functions.analyzers import py_tokenize, splade_expansion
from light_splade_spark.index.build import build_index
from light_splade_spark.index.manifest import IndexManifest
from light_splade_spark.index.wand import wand_topk

DOCS = [
    (0, "fox jumps over dog"),
    (1, "dog sleeps all day"),
    (2, "fox fox fox den"),
    (3, "quiet afternoon nap"),
]


def make_toy_encoder():
    """Deterministic stand-in for a model forward pass: weight(term) =
    1 + len(term)/10, max-aggregated over duplicate occurrences. Returned as
    a closure so cloudpickle ships it by VALUE to executors — the same shape
    a user wrapping a real model (one instance per executor) would use."""
    import re
    tok_re = re.compile(r"[a-z0-9]+")

    def toy_encoder(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            m: dict[str, float] = {}
            for tok in tok_re.findall((t or "").lower()):
                m[tok] = max(m.get(tok, 0.0), 1.0 + len(tok) / 10.0)
            out.append(m)
        return pd.Series(out)

    return toy_encoder


def _oracle_scores(qw: dict[str, float]) -> list[tuple[int, float]]:
    """numpy mirror: score(doc) = sum_t qw[t] * float32(doc weight)."""
    scores = []
    for doc_id, text in DOCS:
        m: dict[str, float] = {}
        for tok in py_tokenize(text):
            m[tok] = max(m.get(tok, 0.0), 1.0 + len(tok) / 10.0)
        s = sum(q * float(np.float32(round(m[t], 4)))
                for t, q in qw.items() if t in m)
        if s > 0:
            scores.append((doc_id, round(s, 4)))
    scores.sort(key=lambda x: (-x[1], x[0]))
    return scores


def test_custom_encoder_weights_through_build_and_retrieve(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    exp = splade_expansion(docs, encoder=make_toy_encoder())
    got = {(r.doc_id, r.term): r.weight for r in exp.collect()}
    assert got[(2, "fox")] == pytest.approx(1.3)
    assert got[(0, "jumps")] == pytest.approx(1.5)

    idx = str(tmp_path / "impact_idx")
    man = build_index(spark, docs, idx, n_shards=2, n_buckets=4, n_salts=2,
                      n_shard_groups=1, weights_df=exp)
    assert man.scoring == "impact"
    assert IndexManifest.load(idx).scoring == "impact"

    qw = {"fox": 2.0, "dog": 1.0}
    res = wand_topk(spark, idx, query_weights=[(7, qw)], top_k=10)
    rows = [(r.doc_id, r.score) for r in res.orderBy("rank").collect()]
    assert rows == _oracle_scores(qw)

    # query weights are used verbatim (not term counts): halving a weight
    # halves its contribution
    res2 = wand_topk(spark, idx, query_weights=[(7, {"fox": 1.0})], top_k=10)
    r2 = {r.doc_id: r.score for r in res2.collect()}
    r1 = {d: s for d, s in _oracle_scores({"fox": 2.0})}
    for d in r2:
        assert r2[d] == pytest.approx(r1[d] / 2.0, abs=1e-4)


def test_append_to_impact_index_refused(spark, tmp_path):
    """append_batch stores BM25 impacts; an impact index stores encoder
    weights. It must refuse before writing anything, not register a group
    of BM25 postings beside the encoder's."""
    import os

    from light_splade_spark.streaming.incremental import append_batch

    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "impact_append")
    build_index(spark, docs, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1,
                weights_df=splade_expansion(docs, encoder=make_toy_encoder()))
    before = sorted(os.listdir(idx)), sorted(
        os.listdir(os.path.join(idx, "postings")))
    batch = spark.createDataFrame([(100, "brown fox")],
                                  "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="impact"):
        append_batch(spark, idx, batch, "b0")
    assert IndexManifest.load(idx).live_groups == ["0"]
    assert (sorted(os.listdir(idx)), sorted(
        os.listdir(os.path.join(idx, "postings")))) == before


def test_negative_weights_rejected(spark, tmp_path):
    """WAND's block-max bound assumes non-negative query weights; 8-bit
    quantization assumes non-negative impacts — both must refuse loudly."""
    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "negq")
    build_index(spark, docs, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1)
    with pytest.raises(ValueError, match="negative weights"):
        wand_topk(spark, idx, query_weights=[(1, {"fox": -1.0, "dog": 2.0})],
                  top_k=3)
    neg_w = spark.createDataFrame([(0, "fox", -0.5), (1, "dog", 1.0)],
                                  "doc_id BIGINT, term STRING, weight DOUBLE")
    with pytest.raises(Exception, match="non-negative impacts"):
        build_index(spark, docs, str(tmp_path / "negw"), n_shards=1,
                    n_buckets=2, n_salts=1, n_shard_groups=1,
                    weights_df=neg_w, weight_bits=8)


def test_query_plan_arg_validation(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "v_idx")
    build_index(spark, docs, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1)
    with pytest.raises(ValueError, match="exactly one"):
        wand_topk(spark, idx, queries=[(1, "fox")],
                  query_weights=[(1, {"fox": 1.0})])
    with pytest.raises(ValueError, match="exactly one"):
        wand_topk(spark, idx)


def test_length_sorted_batching_in_plan(spark):
    """T3: the encoder stage sorts each partition by text length BELOW the
    Python eval node (no shuffle — a SortExec without an exchange directly
    feeding the Arrow UDF), so transformer batches pad minimally."""
    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    exp = splade_expansion(docs, encoder=make_toy_encoder())
    plan = exp._jdf.queryExecution().executedPlan().toString()
    i_eval = plan.find("ArrowEvalPython")
    i_sort = plan.find("Sort [length(")
    assert i_eval != -1 and i_sort != -1, plan
    # the sort appears below (after, in tree print order) the Python node
    assert i_sort > i_eval, plan
    # and it is partition-local: no exchange between sort and the scan
    assert "Exchange" not in plan[i_eval:], plan
    # results are unchanged by the ordering
    got = {(r.doc_id, r.term): r.weight for r in exp.collect()}
    assert got[(2, "fox")] == pytest.approx(1.3)
