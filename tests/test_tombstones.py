"""Tombstone deletes (index/tombstones.py): excluded on every query route,
physically purged by compaction, frozen-stats contract preserved.
"""

from __future__ import annotations

import os

import pyarrow.dataset as pds
import pytest

from pyspark.sql import functions as F

from light_splade_spark.engine import Engine
from light_splade_spark.index.join_scorer import score_index_join
from light_splade_spark.index.tombstones import (
    TOMBSTONE_DIR,
    delete_docs,
    list_complete_tombstone_batches,
    load_tombstone_ids,
    tombstones_df,
)
from light_splade_spark.index.wand import wand_topk

QS = [(0, "data search quality"), (1, "the index model text"),
      (2, "train web learn")]


def _hits(spark, idx, local="never", k=0):
    return {(r.qid, r.doc_id): r.score for r in
            wand_topk(spark, idx, QS, top_k=k, local=local).collect()}


def test_delete_excludes_on_all_routes_and_compact_purges(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 300)
    idx = str(tmp_path / "tomb")
    eng = Engine.build(spark, docs, idx, n_shards=4, n_buckets=4,
                       n_salts=2, n_shard_groups=1)
    before = _hits(spark, idx)
    victims = sorted({d for _, d in before})[:3]
    assert victims, "fixture queries must hit some docs"
    n = eng.delete(victims)
    assert n == len(victims)

    # distributed WAND route: victims gone, every other score unchanged
    after = _hits(spark, idx)
    assert not any(d in victims for _, d in after)
    assert after == {k: v for k, v in before.items() if k[1] not in victims}
    # local point route agrees (top-k finite for eligibility)
    loc = _hits(spark, idx, local="force", k=5)
    assert not any(d in victims for _, d in loc)
    # join route agrees
    qdf = spark.createDataFrame(QS, "qid BIGINT, text STRING")
    jn = {(r.qid, r.doc_id) for r in
          score_index_join(spark, idx, qdf, top_k=0).collect()}
    assert not any(d in victims for _, d in jn)
    assert jn == set(after)

    # delete is idempotent; ids load sorted
    eng.delete(victims[:1])
    ids = load_tombstone_ids(idx)
    assert list(ids) == victims

    # compaction purges physically and clears the tombstone markers
    eng.compact()
    assert tombstones_df(spark, idx) is None
    assert load_tombstone_ids(idx) is None
    assert _hits(spark, idx) == after  # scores identical post-purge
    # deleted docs truly absent from the compacted postings, not just
    # filtered: decode without any tombstones present
    from light_splade_spark.index.join_scorer import decode_postings
    remaining = {r.doc_id for r in
                 decode_postings(spark, idx).select("doc_id")
                 .distinct().collect()}
    assert not (set(victims) & remaining)


def test_target_and_exclusion_compose(spark, tmp_path):
    """target_doc_ids inclusion and tombstone exclusion apply together."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 120)
    idx = str(tmp_path / "tgt")
    eng = Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                       n_salts=2, n_shard_groups=1)
    base = {r.doc_id for r in
            wand_topk(spark, idx, [QS[0]], top_k=0, local="never",
                      target_doc_ids=list(range(50))).collect()}
    assert base
    victim = sorted(base)[0]
    eng.delete([victim])
    got = {r.doc_id for r in
           wand_topk(spark, idx, [QS[0]], top_k=0, local="never",
                     target_doc_ids=list(range(50))).collect()}
    assert got == base - {victim}


def test_reappend_drops_tombstone_and_restores_visibility(spark, tmp_path):
    """Delete-then-re-append must NOT permanently hide the doc (ADVICE r5):
    append_batch drops tombstones covering the batch's ids, restoring the
    reference's zombie contract for re-indexed ids."""
    from light_splade_spark.streaming.incremental import append_batch

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 200)
    idx = str(tmp_path / "reapp")
    eng = Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                       n_salts=2, n_shard_groups=1)
    before = _hits(spark, idx)
    victim = sorted({d for _, d in before})[0]
    other = sorted({d for _, d in before})[1]
    eng.delete([victim, other])
    assert victim not in {d for _, d in _hits(spark, idx)}

    append_batch(spark, idx, docs.where(F.col("doc_id") == victim), "re1")
    # victim visible again on every route; other stays deleted
    for routed in (_hits(spark, idx),
                   _hits(spark, idx, local="force", k=5)):
        hit_docs = {d for _, d in routed}
        assert victim in hit_docs and other not in hit_docs
    assert list(load_tombstone_ids(idx)) == [other]
    # compaction keeps the re-appended doc and purges the other
    eng.compact()
    assert victim in {d for _, d in _hits(spark, idx)}
    assert other not in {d for _, d in _hits(spark, idx)}


def test_delete_mid_compaction_survives_clear(spark, tmp_path):
    """The epoch-fenced tombstone clear: a delete landing after the
    compaction's decode snapshot is NOT cleared by its commit — the doc
    stays excluded (previously it would be silently un-deleted)."""
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.tombstones import delete_docs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 150)
    idx = str(tmp_path / "race")
    eng = Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                       n_salts=2, n_shard_groups=1)
    before = _hits(spark, idx)
    victim = sorted({d for _, d in before})[0]

    compact_index(spark, idx,
                  _pre_commit_hook=lambda: delete_docs(spark, idx, [victim]))
    # tombstone survived the clear and still excludes
    assert list(load_tombstone_ids(idx)) == [victim]
    assert victim not in {d for _, d in _hits(spark, idx)}
    # the NEXT compaction (which decodes through the tombstone) purges it
    eng.compact()
    assert load_tombstone_ids(idx) is None
    assert victim not in {d for _, d in _hits(spark, idx)}


def test_append_mid_compaction_stays_live(spark, tmp_path):
    """An append committing mid-compaction (against the single-writer
    contract) must not be wiped by the compaction commit: its group stays
    live and its docs stay queryable."""
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 150)
    # the appended batch introduces a NOVEL term: its terms-dim row lands
    # in the OLD terms dir, which the racing compaction's coalesce may
    # predate — append_batch must re-append it to the flipped dim
    app = (alldocs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
           .select("doc_id", F.concat("text", F.lit(" qqmidterm"))
                   .alias("text")))
    idx = str(tmp_path / "appr")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)

    compact_index(spark, idx,
                  _pre_commit_hook=lambda: append_batch(spark, idx, app, "mid"))
    man = IndexManifest.load(idx)
    assert man.live_groups == ["compact-1", "append-mid"]
    # the appended docs answer queries after the compaction's GC
    got = {d for _, d in _hits(spark, idx)}
    want = {r.doc_id for r in
            wand_topk(spark, idx, QS, top_k=0, local="never").collect()}
    assert got == want
    assert os.path.isdir(os.path.join(idx, "postings",
                                      "shard_group=append-mid"))
    # the novel term is queryable: its terms row reached the LIVE dim
    # (terms_v1) even though the append wrote it to the old dir first
    novel = {r.doc_id for r in
             wand_topk(spark, idx, [(9, "qqmidterm")], top_k=0,
                       local="never").collect()}
    assert novel == set(range(150, 170))
    tdir = os.path.join(idx, getattr(man, "terms_dir", "terms"))
    terms = {r.term for r in spark.read.parquet(tdir)
             .where("term = 'qqmidterm'").collect()}
    assert terms == {"qqmidterm"}


def test_compact_mid_append_gc_grace_protects_group(spark, tmp_path):
    """The inverse interleaving: a compaction commits (with GC) while an
    append's group dir is written but not yet registered. The GC grace
    window must keep the unregistered dir, and the append's registration
    + terms-dim guard must leave its docs fully queryable."""
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 150)
    app = (alldocs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
           .select("doc_id", F.concat("text", F.lit(" qqgraceterm"))
                   .alias("text")))
    idx = str(tmp_path / "gcr")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)

    append_batch(spark, idx, app, "late",
                 _pre_register_hook=lambda: compact_index(spark, idx))
    man = IndexManifest.load(idx)
    assert man.live_groups == ["compact-1", "append-late"]
    assert os.path.isdir(os.path.join(idx, "postings",
                                      "shard_group=append-late"))
    # the appended docs answer queries, including via the novel term whose
    # dim row the append re-appended after the mid-flight terms flip
    novel = {r.doc_id for r in
             wand_topk(spark, idx, [(9, "qqgraceterm")], top_k=0,
                       local="never").collect()}
    assert novel == set(range(150, 170))


def test_append_killed_before_registration_is_invisible_until_rerun(
        spark, tmp_path):
    """An append killed between its group write and its registration
    leaves the group unlisted: both routes keep the pre-append results,
    fsck passes and reports the dir only as GC backlog, and re-running the
    batch id registers the group, matching an uninterrupted append."""
    from light_splade_spark.index.fsck import fsck_index
    from light_splade_spark.index.manifest import IndexManifest, group_dir
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 150)
    app = alldocs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
    ref, idx = str(tmp_path / "ref"), str(tmp_path / "killed")
    for d in (ref, idx):
        Engine.build(spark, docs, d, n_shards=2, n_buckets=4,
                     n_salts=2, n_shard_groups=1)
    routes = ("never", "force")

    def results(d):
        return [_hits(spark, d, local=r, k=1000) for r in routes]

    before = results(idx)

    def kill():
        raise RuntimeError("killed before registration")

    with pytest.raises(RuntimeError, match="killed before registration"):
        append_batch(spark, idx, app, "k1", _pre_register_hook=kill)
    assert os.path.isdir(group_dir(idx, "append-k1"))
    assert IndexManifest.load(idx).live_groups == ["0"]
    assert results(idx) == before
    report = fsck_index(spark, idx, sample_terms=8)
    assert report["ok"]
    assert [(f["severity"], f["check"]) for f in report["findings"]] \
        == [("warn", "liveness")]
    assert "append-k1" in report["findings"][0]["detail"]

    append_batch(spark, idx, app, "k1")
    append_batch(spark, ref, app, "k1")
    assert IndexManifest.load(idx).live_groups == ["0", "append-k1"]
    after = results(ref)
    assert after != before
    assert results(idx) == after


def test_empty_append_batch_is_noop(spark, tmp_path):
    """An empty micro-batch must not write a group dir, churn the manifest,
    or crash on schema inference (ADVICE r5)."""
    import json

    from light_splade_spark.streaming.incremental import append_batch

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 60)
    idx = str(tmp_path / "empt")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)
    with open(os.path.join(idx, "manifest.json")) as f:
        man_before = json.load(f)
    groups_before = sorted(os.listdir(os.path.join(idx, "postings")))
    append_batch(spark, idx, docs.where(F.lit(False)), "nil")
    with open(os.path.join(idx, "manifest.json")) as f:
        assert json.load(f) == man_before
    assert sorted(os.listdir(os.path.join(idx, "postings"))) == groups_before


def test_engine_info_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 80)
    idx = str(tmp_path / "info")
    eng = Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                       n_salts=2, n_shard_groups=1)
    eng.delete([1, 2, 3])
    info = eng.info()
    assert info["status"] == "complete" and info["n_docs"] == 80
    assert info["pending_tombstones"] == 3
    assert info["live_groups"] == ["0"] and info["orphan_groups"] == []
    eng.compact(gc=False)
    info2 = eng.info()
    assert info2["live_groups"] == ["compact-1"]
    assert "0" in info2["orphan_groups"]
    assert info2["pending_tombstones"] == 0
    assert info2["terms_dir"] == "terms_v1"


def test_retry_of_retired_group_not_reregistered(spark, tmp_path):
    """A foreachBatch retry of an append a compaction already folded must
    NOT re-register the group: the batch's docs are live inside the
    compact group, and resurrecting the append group would double every
    posting (review finding r6). Early-exit path: the retry sees its
    group in manifest.retired_groups before writing anything."""
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 150)
    app = alldocs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
    idx = str(tmp_path / "retry")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)
    append_batch(spark, idx, app, "b1")
    compact_index(spark, idx)  # folds append-b1, retires it
    man = IndexManifest.load(idx)
    assert "append-b1" in man.retired_groups
    before = _hits(spark, idx)

    append_batch(spark, idx, app, "b1")  # the retry
    man2 = IndexManifest.load(idx)
    assert man2.live_groups == ["compact-1"]
    assert not os.path.isdir(os.path.join(idx, "postings",
                                          "shard_group=append-b1"))
    assert _hits(spark, idx) == before  # no doubled scores


def test_retry_racing_compaction_not_reregistered(spark, tmp_path):
    """Late path: the retry starts before the fold (group not yet retired),
    rewrites its dir, and a compaction commits mid-retry. The registration
    step must detect the retirement, drop the rewritten dir, and leave
    scores identical to the compacted index (no double-count)."""
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 150)
    app = alldocs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
    idx = str(tmp_path / "retryrace")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)
    append_batch(spark, idx, app, "b2")  # first attempt, registered

    append_batch(spark, idx, app, "b2",  # retry; compaction folds mid-way
                 _pre_register_hook=lambda: compact_index(spark, idx))
    man = IndexManifest.load(idx)
    assert man.live_groups == ["compact-1"]
    assert "append-b2" in man.retired_groups
    assert not os.path.isdir(os.path.join(idx, "postings",
                                          "shard_group=append-b2"))
    # every batch doc scores exactly once (via the compact group)
    hits = _hits(spark, idx, k=0)
    ref = {(r.qid, r.doc_id): r.score for r in
           wand_topk(spark, idx, QS, top_k=0, local="force").collect()}
    assert hits == ref


def test_terms_gc_grace_window(spark, tmp_path):
    """A superseded terms dir survives GC while fresh (an in-flight append
    may still read it — the same write-gap race as posting groups) and is
    swept once aged."""
    import time as _time

    from light_splade_spark.index.compact import compact_index, gc_postings
    from light_splade_spark.streaming.incremental import append_batch

    alldocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = alldocs.where(F.col("doc_id") < 120)
    app = alldocs.where((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    idx = str(tmp_path / "tgrace")
    Engine.build(spark, docs, idx, n_shards=2, n_buckets=4,
                 n_salts=2, n_shard_groups=1)
    append_batch(spark, idx, app, "t1")
    compact_index(spark, idx)  # flips terms -> terms_v1, GC graced
    old_terms = os.path.join(idx, "terms")
    assert os.path.isdir(old_terms)      # fresh: survived the commit's GC
    assert gc_postings(idx) == []        # still graced
    past = _time.time() - 7200
    os.utime(old_terms, (past, past))
    assert "terms" in gc_postings(idx)   # aged out
    assert not os.path.isdir(old_terms)


def test_list_delete_runs_one_spark_job(spark, spark_jobs, tmp_path):
    """A driver-side id list is deduplicated on the driver and written in
    one Spark job (no parallelize RDD, no distinct shuffle). The batch
    holds each id once as BIGINT, and an empty list still commits a
    batch."""
    idx = str(tmp_path / "ids")
    n, jobs = spark_jobs(lambda: delete_docs(spark, idx, [5, 3, 3, 9, 1, 5]))
    assert n == 4 and len(jobs) == 1
    (batch,) = list_complete_tombstone_batches(idx)
    tab = pds.dataset(os.path.join(idx, TOMBSTONE_DIR, batch),
                      format="parquet").to_table()
    assert str(tab.schema.field("doc_id").type) == "int64"
    assert sorted(tab.column("doc_id").to_pylist()) == [1, 3, 5, 9]

    n, jobs = spark_jobs(lambda: delete_docs(spark, idx, []))
    assert n == 0 and len(jobs) == 1
    assert len(list_complete_tombstone_batches(idx)) == 2
    assert load_tombstone_ids(idx).tolist() == [1, 3, 5, 9]
