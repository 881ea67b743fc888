"""Phrase retrieval (index/phrase.py) — retrieve-then-verify over the
compressed index: conjunctive candidates from the per-shard kernel, token
adjacency verified on candidates only, BM25 scores identical to the
OR-route join scorer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import py_tokenize
from light_splade_spark.index.build import build_index
from light_splade_spark.index.join_scorer import score_index_join
from light_splade_spark.index.phrase import phrase_topk


@pytest.fixture(scope="module")
def idx(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phraseidx") / "idx")
    build_index(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    return d


def _has_subseq(toks: list[str], p: list[str]) -> bool:
    return any(toks[i:i + len(p)] == p
               for i in range(len(toks) - len(p) + 1))


def test_phrase_results_contain_phrase_and_score_like_or_route(
        spark, docs, idx):
    phrases = [(1, "table scan"), (2, "window window"),
               (3, "scan merge part")]
    res = phrase_topk(spark, idx, docs, phrases, top_k=0).collect()
    assert res, "expected non-empty phrase matches in sf0.001"
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    # every verified hit really contains the phrase as an adjacent token
    # run (independent python tokenizer check), and every non-returned doc
    # does NOT (top_k=0 returns all matches)
    by_pid: dict[int, set[int]] = {}
    for r in res:
        p = py_tokenize(dict(phrases)[r["pid"]])
        assert _has_subseq(py_tokenize(texts[r["doc_id"]]), p), \
            (r["pid"], r["doc_id"])
        by_pid.setdefault(r["pid"], set()).add(r["doc_id"])
    for pid, text in phrases:
        p = py_tokenize(text)
        expect = {d for d, t in texts.items()
                  if _has_subseq(py_tokenize(t), p)}
        assert by_pid.get(pid, set()) == expect, pid

    # scores equal the OR-route join scorer on the same phrase text,
    # restricted to the verified docs (same impacts, rounding, tie-break)
    qdf = spark.createDataFrame(list(phrases), "qid BIGINT, text STRING")
    or_scores = {(r["qid"], r["doc_id"]): r["score"]
                 for r in score_index_join(spark, idx, qdf, top_k=0)
                 .collect()}
    for r in res:
        assert or_scores[(r["pid"], r["doc_id"])] == r["score"], \
            (r["pid"], r["doc_id"])

    # ranks are dense, ordered by (score DESC, doc_id ASC) within pid
    for pid in by_pid:
        rows = sorted((r for r in res if r["pid"] == pid),
                      key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(-r["score"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)


def test_phrase_adjacency_not_just_conjunction(spark, tmp_path):
    """Docs with both terms NON-adjacent are candidates but must fail
    verification; repeated-token phrase needs two ADJACENT occurrences."""
    d = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha gamma beta"),
         (2, "window window end"), (3, "window mid window")],
        "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "idx")
    build_index(spark, d, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1)
    res = phrase_topk(spark, idx, d, [(1, "alpha beta"),
                                      (2, "window window")], top_k=10)
    got = {(r["pid"], r["doc_id"]) for r in res.collect()}
    assert got == {(1, 0), (2, 2)}


def test_phrase_missing_term_and_single_token(spark, tmp_path):
    d = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma"), (2, "alpha alpha")],
        "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "idx")
    build_index(spark, d, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1)
    # a term absent from the index matches nothing
    assert phrase_topk(spark, idx, d, [(1, "alpha zzz")],
                       top_k=10).count() == 0
    # single-token phrase degenerates to term retrieval
    res = phrase_topk(spark, idx, d, [(2, "alpha")], top_k=10)
    assert {r["doc_id"] for r in res.collect()} == {0, 2}


def test_phrase_runs_the_and_kernel_once(spark, tmp_path):
    """The candidate frame feeds a single join to the docs' text, so the
    executed plan holds one shard-kernel node: a second consumer of the
    candidates (a semi-join on their ids) would re-run the kernel."""
    d = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha gamma beta"), (2, "beta alpha")],
        "doc_id BIGINT, text STRING")
    idx = str(tmp_path / "idx")
    build_index(spark, d, idx, n_shards=1, n_buckets=2, n_salts=1,
                n_shard_groups=1)
    res = phrase_topk(spark, idx, d, [(1, "alpha beta")], top_k=10)
    assert [(r["pid"], r["doc_id"]) for r in res.collect()] == [(1, 0)]
    plan = res._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1, plan


def test_phrase_top_k_truncates(spark, docs, idx):
    res = phrase_topk(spark, idx, docs, [(1, "table scan")], top_k=3)
    rows = res.collect()
    assert len(rows) == 3 and {r["rank"] for r in rows} == {1, 2, 3}


def test_engine_phrase_wrapper(spark, docs, idx):
    from light_splade_spark.engine import Engine
    eng = Engine.open(spark, idx)
    res = eng.phrase(docs, [(1, "table scan")], top_k=5).collect()
    assert len(res) == 5 and all(r["pid"] == 1 for r in res)


def test_filter_job_metric_report(spark, docs):
    """jobs/filter_corpus_job.metric_report: per-rule booleans AND-fold to
    the composite flag and agree with tq.gopher_keep_col."""
    from pyspark.sql import functions as FF

    from jobs.filter_corpus_job import GOPHER_RULES, metric_report
    from light_splade_spark.functions import text_quality as tq

    rep = metric_report(docs).cache()
    n = rep.count()
    assert n == docs.count()
    # composite == AND of the per-rule columns
    bad = rep.where(
        FF.col("gopher_keep") !=
        FF.expr(" AND ".join(f"pass_{r}" for r, _ in GOPHER_RULES))).count()
    assert bad == 0
    # composite == the library's gopher_keep_col on the same metric row
    bad2 = rep.withColumn("lib_keep", tq.gopher_keep_col()) \
        .where(FF.col("gopher_keep") != FF.col("lib_keep")).count()
    assert bad2 == 0
    rep.unpersist()


def test_filter_job_cli_sample(spark, docs, tmp_path, monkeypatch, capsys):
    """filter_corpus_job --sample: the kept split is further reduced by the
    deterministic stratified sample; the written parquet and the summary
    line agree with the library operator applied to the gopher-kept set."""
    import json
    import sys

    import jobs.filter_corpus_job as job
    from light_splade_spark.functions import text_quality as tq
    from light_splade_spark.operators.sampling import stratified_sample

    inp = str(tmp_path / "docs.parquet")
    docs.withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en")
                    .otherwise("zh")).write.parquet(inp)
    out = str(tmp_path / "out")

    monkeypatch.setattr(sys, "argv", [
        "filter_corpus_job.py", "--input", inp, "--output", out,
        "--sample", "en=0.6,zh=0.2", "--emit-rejected"])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    job.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    src = spark.read.parquet(inp)
    gopher_kept = src.join(
        tq.all_quality_metrics(src).where("gopher_keep").select("doc_id"),
        "doc_id", "left_semi")
    want = {r["doc_id"] for r in
            stratified_sample(gopher_kept, {"en": 0.6, "zh": 0.2})
            .select("doc_id").collect()}
    got = {r["doc_id"] for r in
           spark.read.parquet(f"{out}/kept").select("doc_id").collect()}
    assert got == want
    assert summary["sampled"] == len(want)
    assert summary["kept"] == gopher_kept.count()
    # kept + rejected reconstructs the input even under --sample
    # (sampled-out docs land in rejected/, never in neither split)
    rej = {r["doc_id"] for r in
           spark.read.parquet(f"{out}/rejected").select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in src.select("doc_id").collect()}
    assert got | rej == all_ids and not (got & rej)
