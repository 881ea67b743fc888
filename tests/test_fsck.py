"""fsck_index: read-only integrity verification of the index dir."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from light_splade_spark.engine import Engine
from light_splade_spark.index.fsck import fsck_index
from light_splade_spark.index.manifest import IndexManifest

CORPUS = [(i, f"w{i % 7} common t{i}") for i in range(40)]


@pytest.fixture()
def idx(spark, tmp_path):
    docs = spark.createDataFrame(CORPUS, "doc_id BIGINT, text STRING")
    d = str(tmp_path / "idx")
    Engine.build(spark, docs, d, n_buckets=4, n_salts=2, n_shard_groups=2,
                 block_size=32)
    return d


def test_clean_index_ok(spark, idx):
    rep = fsck_index(spark, idx, sample_terms=16)
    assert rep["ok"], rep["findings"]
    assert rep["findings"] == []
    assert rep["stats"]["posting_lists"] > 0
    assert rep["stats"]["postings"] > 0
    assert rep["stats"]["decoded_sample_terms"] > 0
    assert rep["stats"]["doc_stats_rows"] == len(CORPUS)


def test_groups_past_the_last_shard_are_not_listed(spark, tmp_path):
    """More groups than shards: the trailing groups hold no shard, write no
    dir and are not listed live, so fsck finds nothing."""
    docs = spark.createDataFrame(CORPUS, "doc_id BIGINT, text STRING")
    d = str(tmp_path / "few_shards")
    Engine.build(spark, docs, d, n_shards=2, n_buckets=4, n_shard_groups=4)
    assert IndexManifest.load(d).live_groups == ["0", "1"]
    rep = fsck_index(spark, d, sample_terms=8)
    assert rep["ok"] and rep["findings"] == [], rep["findings"]


def test_lifecycle_index_ok(spark, idx):
    """fsck stays green across append + delete + compact."""
    eng = Engine.open(spark, idx)
    batch = spark.createDataFrame([(100, "common appended w1")],
                                  "doc_id BIGINT, text STRING")
    from light_splade_spark.streaming.incremental import append_batch
    append_batch(spark, idx, batch, "b1")
    eng.delete([3, 5])
    assert fsck_index(spark, idx)["ok"]
    eng.compact()
    rep = fsck_index(spark, idx)
    assert rep["ok"], rep["findings"]


def test_missing_doc_stats_is_error(spark, idx):
    # every build writes doc_stats before it commits "complete"
    shutil.rmtree(os.path.join(idx, "doc_stats"))
    rep = fsck_index(spark, idx, sample_terms=8)
    assert not rep["ok"]
    assert [f["severity"] for f in rep["findings"]
            if f["check"] == "doc_stats"] == ["error"]


def test_interrupted_build_flagged(spark, idx):
    man = IndexManifest.load(idx)
    man.status = "building"
    man.save(idx)
    rep = fsck_index(spark, idx)
    assert not rep["ok"]
    assert any(f["check"] == "manifest" for f in rep["findings"])


def test_missing_live_group_flagged(spark, idx):
    man = IndexManifest.load(idx)
    gone = (man.live_groups or ["0"])[0]
    shutil.rmtree(os.path.join(idx, "postings", f"shard_group={gone}"))
    rep = fsck_index(spark, idx)
    assert not rep["ok"]
    assert any(f["check"] == "liveness" and "no partition dir" in f["detail"]
               for f in rep["findings"])


def test_live_and_retired_overlap_flagged(spark, idx):
    man = IndexManifest.load(idx)
    man.retired_groups = [str((man.live_groups or ["0"])[0])]
    man.save(idx)
    rep = fsck_index(spark, idx)
    assert not rep["ok"]
    assert any("both live and retired" in f["detail"]
               for f in rep["findings"])


def test_gc_backlog_is_warn_only(spark, idx):
    os.makedirs(os.path.join(idx, "postings", "shard_group=zzz_orphan"))
    rep = fsck_index(spark, idx)
    assert rep["ok"]  # warn, not error: invisible to readers
    assert any(f["severity"] == "warn" and f["check"] == "liveness"
               for f in rep["findings"])


def test_orphan_posting_terms_flagged(spark, idx):
    """Drop half the terms dim -> postings reference unknown term_ids."""
    from light_splade_spark.index.build import terms_path
    tp = terms_path(idx)
    kept = spark.read.parquet(tp).where(F.col("term_id") % 2 == 0)
    kept.write.mode("overwrite").parquet(tp + "_cut")
    shutil.rmtree(tp)
    os.rename(tp + "_cut", tp)
    rep = fsck_index(spark, idx)
    assert not rep["ok"]
    assert any(f["check"] == "postings" for f in rep["findings"])


def test_corrupt_manifest_reported(spark, tmp_path):
    d = tmp_path / "broken"
    d.mkdir()
    (d / "manifest.json").write_text("{not json")
    rep = fsck_index(spark, str(d))
    assert not rep["ok"]
    assert rep["findings"][0]["check"] == "manifest"


def test_engine_method_and_job_cli(spark, idx, capsys, monkeypatch):
    assert Engine.open(spark, idx).fsck(sample_terms=8)["ok"]
    # the spark-submit surface: verify action exits 0 on a clean index.
    # main() calls spark.stop() on the getOrCreate() session, which is the
    # session-scoped pytest fixture — neuter it (same as test_maintain_job)
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    import sys
    from jobs.maintain_index_job import main as jmain
    monkeypatch.setattr(sys, "argv", ["x", "--index-dir", idx, "verify",
                                      "--sample-terms", "8"])
    jmain()
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["op"] == "verify" and payload["ok"]


def test_zombie_reappend_is_warn_only(spark, idx):
    """Delete-then-re-append leaves the doc in two live groups until the
    next compaction — the documented zombie contract, so fsck must WARN,
    not error (verify exit 0)."""
    from light_splade_spark.streaming.incremental import append_batch

    eng = Engine.open(spark, idx)
    eng.delete([7])
    batch = spark.createDataFrame([(7, CORPUS[7][1])],
                                  "doc_id BIGINT, text STRING")
    append_batch(spark, idx, batch, "re7")
    rep = fsck_index(spark, idx, sample_terms=64)
    assert rep["ok"], rep["findings"]
    assert any(f["severity"] == "warn" and f["check"] == "decode"
               for f in rep["findings"]), rep["findings"]
    # the zombie is PERMANENT by design (reference semantics: old postings
    # score alongside the new ones, sparse_indexer.py:99-101) — compaction
    # folds both into one list; fsck must keep warning, never error
    eng.compact()
    rep2 = fsck_index(spark, idx, sample_terms=64)
    assert rep2["ok"], rep2["findings"]
    assert all(f["severity"] != "error" for f in rep2["findings"])


def test_truncated_blob_is_structured_finding(spark, idx):
    """A corrupt posting blob must surface as an error FINDING, not an
    unhandled Spark job failure."""
    import glob

    part = sorted(glob.glob(os.path.join(
        idx, "postings", "shard_group=*", "bucket=*", "*.parquet")))[0]
    leaf = os.path.dirname(part)
    # rewrite one bucket dir THROUGH Spark so the corrupted file stays
    # readable by Spark's vectorized reader and the failure lands in the
    # VByte decode stage (truncated blobs)
    sub = spark.read.parquet(leaf)
    cut = sub.withColumn("postings", F.expr(
        "substring(postings, 1, greatest(1, int(length(postings) / 3)))"))
    cut.write.mode("overwrite").parquet(leaf + "__tmp")
    shutil.rmtree(leaf)
    os.rename(leaf + "__tmp", leaf)
    rep = fsck_index(spark, idx, sample_terms=64)
    assert not rep["ok"]
    assert any(f["check"] == "decode" and f["severity"] == "error"
               for f in rep["findings"]), rep["findings"]
