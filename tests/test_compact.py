"""Index compaction (index/compact.py): LSM fold of appended shard groups
with an atomic liveness commit — results identical, crash windows covered.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from light_splade_spark.index.build import build_index, read_postings
from light_splade_spark.index.compact import compact_index, gc_postings
from light_splade_spark.index.manifest import IndexManifest
from light_splade_spark.index.wand import wand_topk
from light_splade_spark.streaming.incremental import append_batch

QS = [(0, "data search quality"), (1, "the index model text"),
      (2, "train web learn"), (3, "appended fresh content")]


def _results(spark, idx, local="never", k=8):
    return [(r.qid, r.rank, r.doc_id, r.score) for r in
            wand_topk(spark, idx, QS, top_k=k, local=local)
            .orderBy("qid", "rank").collect()]


def _groups_on_disk(idx):
    return sorted(d.split("=", 1)[1]
                  for d in os.listdir(os.path.join(idx, "postings"))
                  if d.startswith("shard_group="))


def _build_with_appends(spark, tmp_path, name, **kw):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 300)
    idx = str(tmp_path / name)
    build_index(spark, docs, idx, n_shards=4, n_buckets=4, n_salts=2,
                n_shard_groups=2, **kw)
    app1 = spark.createDataFrame(
        [(900001, "appended fresh content data"),
         (900002, "appended model text search")],
        "doc_id BIGINT, text STRING")
    append_batch(spark, idx, app1, "a1")
    app2 = spark.createDataFrame(
        [(900003, "appended web index learn")], "doc_id BIGINT, text STRING")
    append_batch(spark, idx, app2, "a2")
    return idx


def test_compact_identity_and_single_row_per_term(spark, tmp_path):
    """weight_bits=32: post-compaction results are BYTE-identical on the
    distributed, local, and join routes; postings collapse to one row per
    (shard, bucket, term); non-live dirs are GC'd; liveness is tracked."""
    from light_splade_spark.index.join_scorer import score_index_join

    idx = _build_with_appends(spark, tmp_path, "cidx")
    man0 = IndexManifest.load(idx)
    assert man0.live_groups is not None and "append-a1" in man0.live_groups
    before = _results(spark, idx)
    before_local = _results(spark, idx, local="force")
    qdf = spark.createDataFrame(QS, "qid BIGINT, text STRING")
    before_join = [(r.qid, r.rank, r.doc_id, r.score) for r in
                   score_index_join(spark, idx, qdf, top_k=8)
                   .orderBy("qid", "rank").collect()]
    # multi-row state exists pre-compaction (append groups touch old terms)
    pre_max = read_postings(spark, idx).groupBy(
        "shard", "bucket", "term_id").count().agg(F.max("count")).first()[0]
    assert pre_max > 1

    man = compact_index(spark, idx)
    assert man.live_groups == ["compact-1"] and man.compact_epoch == 1
    assert _groups_on_disk(idx) == ["compact-1"]  # gc removed the rest
    # terms dim folded into one versioned dir, pointer flips; the old dir
    # survives the commit's graced GC (an in-flight append may still read
    # it — test_terms_gc_grace_window covers its aged-out sweep) but is
    # no longer what readers resolve
    assert man.terms_dir == "terms_v1"
    assert os.path.isdir(os.path.join(idx, "terms_v1"))
    assert os.path.isdir(os.path.join(idx, "terms"))
    gc_postings(idx, grace_sec=0.0)
    assert not os.path.isdir(os.path.join(idx, "terms"))
    post_max = read_postings(spark, idx).groupBy(
        "shard", "bucket", "term_id").count().agg(F.max("count")).first()[0]
    assert post_max == 1
    assert _results(spark, idx) == before
    assert _results(spark, idx, local="force") == before_local == before
    after_join = [(r.qid, r.rank, r.doc_id, r.score) for r in
                  score_index_join(spark, idx, qdf, top_k=8)
                  .orderBy("qid", "rank").collect()]
    assert after_join == before_join
    # appended docs survived compaction
    assert any(d >= 900001 for _, _, d, _ in _results(spark, idx))


def test_crash_before_commit_leaves_old_live(spark, tmp_path):
    """Crash after the new group is written but before the manifest commit:
    queries still serve the OLD groups identically (the orphan staging dir
    is invisible to the liveness filter), and a rerun completes."""
    idx = _build_with_appends(spark, tmp_path, "crash")
    before = _results(spark, idx)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_index(spark, idx, fail_before_commit=True)
    man = IndexManifest.load(idx)
    assert man.compact_epoch == 0 and "compact-1" not in (man.live_groups or [])
    assert "compact-1" in _groups_on_disk(idx)  # orphan exists...
    assert _results(spark, idx) == before      # ...but is not read
    assert _results(spark, idx, local="force") == before
    man2 = compact_index(spark, idx)           # rerun overwrites staging
    assert man2.live_groups == ["compact-1"]
    assert _results(spark, idx) == before


def test_crash_after_commit_before_gc(spark, tmp_path):
    """Commit landed, GC didn't: old dirs remain on disk but readers see
    only the compacted group; gc_postings cleans up idempotently."""
    idx = _build_with_appends(spark, tmp_path, "gccrash")
    before = _results(spark, idx)
    compact_index(spark, idx, gc=False)
    disk = _groups_on_disk(idx)
    assert "compact-1" in disk and "append-a1" in disk  # orphans linger
    assert _results(spark, idx) == before
    assert _results(spark, idx, local="force") == before
    # default grace window protects FRESH non-live posting dirs (an
    # append's write->register gap) AND fresh superseded terms dirs (an
    # in-flight append may still read the old dim); grace_sec=0 sweeps both
    graced = gc_postings(idx)
    assert graced == []
    assert "append-a1" in _groups_on_disk(idx)
    removed = gc_postings(idx, grace_sec=0.0)
    assert "append-a1" in removed and _groups_on_disk(idx) == ["compact-1"]
    assert gc_postings(idx, grace_sec=0.0) == []  # idempotent
    assert _results(spark, idx) == before


def _set_run_size(idx, run_size):
    man = IndexManifest.load(idx)
    man.run_size = run_size
    man.save(idx)


def test_append_fused_path_byte_identical_to_staged(spark, tmp_path):
    """Build, append and compact all write through write_posting_group,
    which fuses encode+merge into ONE shuffle when the input holds at most
    run_size docs, and takes the staged two-phase salted path otherwise.
    The same input through both paths must produce byte-identical posting
    rows (blobs, block metadata, df, max_w) for every writer. The staged
    copy runs with run_size below the input's doc count (so it stages) but
    not below any salt-sizing df that could split a term's doc range (so
    the comparison is at the fuse rule's own premise: one salt per term).
    Every written bucket file is term_id-sorted (row-group pruning)."""
    import numpy as np
    import pyarrow.parquet as pq

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 200)
    app = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where((F.col("doc_id") >= 200) & (F.col("doc_id") < 240))
    layout = dict(n_shards=2, n_buckets=4, n_salts=4, n_shard_groups=1)
    idx_f, idx_s = str(tmp_path / "fused"), str(tmp_path / "staged")
    build_index(spark, docs, idx_f, **layout)
    max_df = spark.read.parquet(os.path.join(idx_f, "terms")) \
        .agg(F.max("df")).first()[0]
    assert max_df < 200  # run_size=max_df stages the 200-doc build
    build_index(spark, docs, idx_s, run_size=max_df, **layout)

    def _rows(idx, group):
        df = spark.read.parquet(
            os.path.join(idx, "postings", f"shard_group={group}"))
        return sorted(
            (r.shard, r.bucket, r.term_id, r.df, r.max_w,
             bytes(r.postings), tuple(r.bm_last), tuple(r.bm_max))
            for r in df.collect())

    def _assert_identical_and_term_sorted(group):
        rf, rs = _rows(idx_f, group), _rows(idx_s, group)
        assert rf == rs and len(rf) > 0, group
        for idx in (idx_f, idx_s):
            gdir = os.path.join(idx, "postings", f"shard_group={group}")
            files = [os.path.join(d, f) for d, _, fs in os.walk(gdir)
                     for f in fs if f.endswith(".parquet")]
            assert files, gdir
            for f in files:
                tids = pq.read_table(f, columns=["term_id"]) \
                    .column("term_id").to_numpy()
                assert (np.diff(tids) >= 0).all(), f

    _assert_identical_and_term_sorted("0")

    # append: run_size=1 stages the 40-doc batch and asks every term for
    # up to n_salts runs, but the batch's ids fill the top doc-id range
    # bin of [0, max_doc], so each term's runs still land in one salt
    _set_run_size(idx_s, 1)
    append_batch(spark, idx_f, app, "ab")
    append_batch(spark, idx_s, app, "ab")
    _assert_identical_and_term_sorted("append-ab")

    # compact: 240 doc_stats rows > run_size=max_df >= every dim df
    _set_run_size(idx_s, max_df)
    compact_index(spark, idx_f)
    compact_index(spark, idx_s)
    _assert_identical_and_term_sorted("compact-1")
    # and the two indexes answer identically end-to-end
    assert _results(spark, idx_f) == _results(spark, idx_s)


def test_compact_quantized_rank_stable(spark, tmp_path):
    """weight_bits=8 re-quantizes against merged-block maxima: doc ranking
    must be preserved and scores must stay within the 1/255 block-relative
    quantization error of the pre-compaction scores."""
    idx = _build_with_appends(spark, tmp_path, "q8", weight_bits=8)
    before = {(r.qid, r.doc_id): r.score for r in
              wand_topk(spark, idx, QS, top_k=0, local="never").collect()}
    compact_index(spark, idx)
    after = {(r.qid, r.doc_id): r.score for r in
             wand_topk(spark, idx, QS, top_k=0, local="never").collect()}
    assert set(before) == set(after)
    for key, s0 in before.items():
        # per-term error <= max_w/255; a query term contributes qtf times.
        # loose uniform bound: 5% relative + small absolute slack
        assert after[key] == pytest.approx(s0, rel=0.05, abs=0.05), key


def test_compact_fully_tombstoned_index_serves_empty(spark, tmp_path):
    """Deleting every doc then compacting commits a group with zero parquet
    part files; all query routes must serve EMPTY results, not a schema
    error (round-5 review finding: read_postings explicit schema + local
    path empty-dataset guard)."""
    from light_splade_spark.index.join_scorer import score_index_join
    from light_splade_spark.index.tombstones import delete_docs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where(F.col("doc_id") < 60)
    idx = str(tmp_path / "allgone")
    build_index(spark, docs, idx, n_shards=2, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    delete_docs(spark, idx, list(range(60)))
    compact_index(spark, idx)
    assert wand_topk(spark, idx, QS, top_k=5, local="never").count() == 0
    assert wand_topk(spark, idx, QS, top_k=5, local="force").count() == 0
    qdf = spark.createDataFrame(QS, "qid BIGINT, text STRING")
    assert score_index_join(spark, idx, qdf, top_k=5).count() == 0
