"""query_job routes: wand vs join rank-identity, auto guard, conjunctive."""

from __future__ import annotations

import json
import sys

import pytest

from light_splade_spark.engine import Engine

CORPUS = [(0, "spark hash join merge sort"),
          (1, "hash join only here"),
          (2, "spark join and nothing else"),
          (3, "spark spark hash hash join")]
QUERIES = [(0, "spark hash join"), (1, "hash join"), (2, "zz absent")]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qjob")
    docs = spark.createDataFrame(CORPUS, "doc_id BIGINT, text STRING")
    idx = str(root / "idx")
    Engine.build(spark, docs, idx, n_buckets=4, n_salts=2,
                 n_shard_groups=1, block_size=32)
    qpath = str(root / "q.ndjson")
    with open(qpath, "w") as f:
        for qid, text in QUERIES:
            f.write(json.dumps({"qid": qid, "text": text}) + "\n")
    return idx, qpath, root


def _run(spark, monkeypatch, idx, qpath, out, *extra):
    from jobs.query_job import main as qmain
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [
        "x", "--index-dir", idx, "--queries", qpath, "--output", out,
        "--top-k", "10", *extra])
    qmain()
    return sorted(tuple(r) for r in
                  spark.read.parquet(out)
                  .select("qid", "rank", "doc_id", "score").collect())


def test_wand_join_rank_identity_and_auto(spark, setup, monkeypatch):
    idx, qpath, root = setup
    wand = _run(spark, monkeypatch, idx, qpath, str(root / "w.parquet"),
                "--route", "wand")
    join = _run(spark, monkeypatch, idx, qpath, str(root / "j.parquet"),
                "--route", "join")
    auto = _run(spark, monkeypatch, idx, qpath, str(root / "a.parquet"))
    assert wand == join == auto  # 3 queries -> auto picks wand
    assert wand, "non-empty results"


def test_conjunctive_route(spark, setup, monkeypatch):
    idx, qpath, root = setup
    conj = _run(spark, monkeypatch, idx, qpath, str(root / "c.parquet"),
                "--require-all-terms")
    wand = _run(spark, monkeypatch, idx, qpath, str(root / "w2.parquet"),
                "--route", "wand")
    # AND results are a subset of OR results with identical scores
    assert conj
    wand_scores = {(q, d): s for q, _, d, s in wand}
    for q, _, d, s in conj:
        assert wand_scores[(q, d)] == s
    # qid 0 requires all three terms: only docs 0 and 3 qualify
    assert sorted(d for q, _, d, _ in conj if q == 0) == [0, 3]


def test_exclude_cli_and_flag_rejections(spark, setup, monkeypatch, capsys):
    idx, qpath, root = setup
    out = _run(spark, monkeypatch, idx, qpath, str(root / "x.parquet"),
               "--require-all-terms", "--exclude", "spark")
    # qid 0 'spark hash join': docs 0 and 3 both contain spark -> banned
    assert not [r for r in out if r[0] == 0]
    # qid 1 'hash join': doc 1 survives (no spark), others banned
    assert [r[2] for r in out if r[0] == 1] == [1]

    import sys
    from jobs.query_job import main as qmain
    for argv in (
        ["x", "--index-dir", idx, "--queries", qpath, "--output", "o",
         "--exclude", "spark"],                        # exclude w/o AND
        ["x", "--index-dir", idx, "--queries", qpath, "--output", "o",
         "--require-all-terms", "--route", "wand"],    # AND + route
        ["x", "--index-dir", idx, "--queries", qpath, "--output", "o",
         "--require-all-terms", "--threshold", "1"],   # AND + threshold
    ):
        monkeypatch.setattr(sys, "argv", argv)
        with pytest.raises(SystemExit) as e:
            qmain()
        assert e.value.code == 2  # argparse error exit
