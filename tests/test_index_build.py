"""Index build: determinism, checkpoint resume, lineage, compression."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_splade_spark.functions.vbyte import decode_run
from light_splade_spark.index.build import (
    build_index,
    read_postings,
    scan_term_postings,
)
from light_splade_spark.index.manifest import IndexManifest, read_lineage


def _index_fingerprint(spark, d):
    """Order-insensitive content hash of the postings table."""
    rows = (
        read_postings(spark, d)
        .select("shard", "term_id", "df", F.md5(F.hex("postings")).alias("h"))
        .collect()
    )
    return sorted((r["shard"], r["term_id"], r["df"], r["h"]) for r in rows)


def test_build_completes_with_lineage(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    man = build_index(spark, docs, d, n_shards=4, n_buckets=8, n_salts=4,
                      n_shard_groups=2, run_size=100)
    assert man.status == "complete"
    assert man.live_groups == ["0", "1"]
    lineage = read_lineage(d)
    assert len(lineage) == 2
    parts = [p for g in lineage for p in g["partitions"]]
    assert all(p["n_postings"] > 0 and p["postings_bytes"] > 0 for p in parts)
    # every (shard) present
    assert {p["shard"] for p in parts} == {0, 1, 2, 3}


def test_resume_after_crash_is_byte_identical(spark, docs, tmp_path):
    """A resume finishes the groups the crashed build committed to, whatever
    ``n_shard_groups`` it is given: the count comes from the manifest. The
    reference build leaves the count to the default, which is 4 for a
    corpus larger than ``run_size``."""
    d1 = str(tmp_path / "a")
    man1 = build_index(spark, docs, d1, n_shards=4, n_buckets=8, n_salts=4,
                       run_size=100)
    assert man1.n_docs > man1.run_size and man1.n_shard_groups == 4
    for resume_groups in (4, 2, None):
        d2 = str(tmp_path / f"b{resume_groups}")
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, docs, d2, n_shards=4, n_buckets=8, n_salts=4,
                        n_shard_groups=4, run_size=100, fail_after_group=1)
        man = IndexManifest.load(d2)
        assert man.status == "building"
        assert man.live_groups == ["0", "1"]
        man2 = build_index(spark, docs, d2, n_shards=4, n_buckets=8,
                           n_salts=4, n_shard_groups=resume_groups,
                           run_size=100, resume=True)
        assert man2.status == "complete" and man2.n_shard_groups == 4
        assert man2.live_groups == ["0", "1", "2", "3"], resume_groups
        assert _index_fingerprint(spark, d1) == _index_fingerprint(spark, d2)


def test_resume_rewrites_doc_stats(spark, docs, tmp_path):
    """A resume writes doc_stats like a fresh build does: a hard kill can
    leave it missing or partial, and the resumed manifest says
    "complete"."""
    import shutil

    from light_splade_spark.index.fsck import fsck_index

    def doc_stats(d):
        return sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(d, "doc_stats")).select("doc_id", "dl").collect())

    ref, d = str(tmp_path / "ref"), str(tmp_path / "killed")
    kw = dict(n_shards=4, n_buckets=8, n_salts=4, n_shard_groups=4,
              run_size=100)
    build_index(spark, docs, ref, **kw)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, d, fail_after_group=0, **kw)
    shutil.rmtree(os.path.join(d, "doc_stats"))
    assert build_index(spark, docs, d, resume=True, **kw).status == "complete"
    assert doc_stats(d) == doc_stats(ref)
    assert fsck_index(spark, d, sample_terms=8)["ok"]


def test_killed_build_serves_only_committed_groups(spark, docs, tmp_path):
    """A build killed after group 0 serves exactly group 0. Group 1's dir,
    planted half-written (one bucket of a finished build's group 1), is
    invisible to both read routes, is an orphan in ``Engine.info()``,
    survives ``gc_postings``, and a resume still ends byte-identical to an
    uninterrupted build."""
    import shutil

    from light_splade_spark.engine import Engine
    from light_splade_spark.index.build import _shard_col, read_terms
    from light_splade_spark.index.compact import gc_postings
    from light_splade_spark.index.manifest import group_dir
    from light_splade_spark.index.wand import wand_topk

    def rows(d, groups=None):
        return sorted(tuple(r) for r in read_postings(spark, d, groups)
                      .select("shard", "term_id", "df", F.hex("postings"))
                      .collect())

    ref, d = str(tmp_path / "ref"), str(tmp_path / "killed")
    kw = dict(n_shards=4, n_buckets=8, n_salts=4, n_shard_groups=4,
              run_size=100)
    build_index(spark, docs, ref, **kw)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, d, fail_after_group=0, **kw)
    shutil.copytree(os.path.join(group_dir(ref, "1"), "bucket=0"),
                    os.path.join(group_dir(d, "1"), "bucket=0"))

    assert rows(d) == rows(ref, ["0"])
    # query the planted bucket's terms: every hit is a group-0 (shard 0) doc
    planted = {r.term_id for r in read_postings(spark, ref, ["1"])
               .where("bucket = 0").select("term_id").collect()}
    terms = sorted(r.term for r in read_terms(spark, ref)
                   .where(F.col("term_id").isin(sorted(planted)))
                   .select("term").collect())[:20]
    hits = {r.doc_id for r in wand_topk(
        spark, d, [(i, t) for i, t in enumerate(terms)], top_k=1000,
        local="force").collect()}
    shard0 = {r.doc_id for r in docs.where(_shard_col(4) == 0)
              .select("doc_id").collect()}
    assert hits and hits <= shard0
    info = Engine(spark, d).info()
    assert info["live_groups"] == ["0"] and info["orphan_groups"] == ["1"]
    assert gc_postings(d, grace_sec=0.0) == []
    assert os.path.isdir(group_dir(d, "1"))

    build_index(spark, docs, d, resume=True, **kw)
    assert _index_fingerprint(spark, d) == _index_fingerprint(spark, ref)


def _posting_rows(spark, d):
    """Every posting row's content, without the shard_group it sits in."""
    rows = read_postings(spark, d).select(
        "shard", "bucket", "term_id", "df", F.hex("postings"),
        F.col("bm_last").cast("string"), F.col("bm_max").cast("string"))
    return sorted(tuple(r) for r in rows.collect())


@pytest.mark.parametrize("weight_bits", [32, 8])
def test_default_group_count_follows_corpus(spark, docs, tmp_path,
                                            weight_bits):
    """With no ``n_shard_groups``, a corpus of at most ``run_size`` docs is
    built as one group, holding the same posting rows as a 4-group build."""
    d1, d4 = str(tmp_path / "g1"), str(tmp_path / "g4")
    man = build_index(spark, docs, d1, n_buckets=8, weight_bits=weight_bits)
    assert man.n_docs <= man.run_size
    assert IndexManifest.load(d1).n_shard_groups == 1
    assert [g["group"] for g in read_lineage(d1)] == ["0"]
    build_index(spark, docs, d4, n_buckets=8, weight_bits=weight_bits,
                n_shard_groups=4)
    assert _posting_rows(spark, d1) == _posting_rows(spark, d4)


def test_scan_term_postings_semi_join_matches_isin(spark, docs, tmp_path):
    """More than 256 ids take the broadcast semi-join; it returns the rows the <= 256-id ``isin`` route returns over the same
    ids, scanned in chunks."""
    d = str(tmp_path / "scan")
    build_index(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    present = {r.term_id for r in
               read_postings(spark, d).select("term_id").distinct().collect()}
    # the vocabulary is small: pad with random ids, nearly all absent, so
    # the present ones spread over every chunk
    rng = np.random.default_rng(0)
    tids = sorted(present | set(rng.integers(-2**63, 2**63 - 1, size=400,
                                             dtype=np.int64).tolist()))
    assert len(tids) > 256
    big = scan_term_postings(spark, d, tids, 4)
    assert "BroadcastHashJoin" in big._jdf.queryExecution().executedPlan() \
        .toString()
    chunked = [r.asDict() for i in range(0, len(tids), 256)
               for r in scan_term_postings(spark, d, tids[i:i + 256], 4)
               .collect()]
    assert len(chunked) == len(present) * 2  # every term in both shards
    key = lambda r: (r["shard"], r["term_id"])  # noqa: E731
    assert (sorted((r.asDict() for r in big.collect()), key=key)
            == sorted(chunked, key=key))


def test_crash_leaves_no_doc_stats_writer_running(spark, docs, tmp_path,
                                                  monkeypatch):
    """The doc_stats projection is written from a driver thread overlapping
    the posting jobs. A crash in the posting loop must return only once
    that writer is joined or cancelled, and must surface the crash itself,
    not the writer's own failure. The writer here outlives the crash (it
    finishes only after shard group 0 commits) and then fails."""
    import threading
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    d = str(tmp_path / "c")
    write_parquet = DataFrameWriter.parquet

    def group0_committed():
        try:
            return "0" in IndexManifest.load(d).live_groups
        except FileNotFoundError:  # writer starts before the manifest
            return False

    def late_failing_doc_stats(self, path, *args, **kwargs):
        if not path.endswith("doc_stats"):
            return write_parquet(self, path, *args, **kwargs)
        deadline = time.time() + 120
        while not group0_committed() and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(1.0)
        raise OSError("doc_stats writer failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", late_failing_doc_stats)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, d, n_shards=4,
                    n_buckets=8, n_salts=4, n_shard_groups=4,
                    fail_after_group=0)
    leftover = [t.name for t in threading.enumerate()
                if t not in before and t.is_alive()
                and t.name.startswith(("doc_stats", "ThreadPoolExecutor"))]
    assert leftover == []


def test_build_deterministic_across_runs(spark, docs, tmp_path):
    d1, d2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    for d in (d1, d2):
        build_index(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                    n_shard_groups=1)
    assert _index_fingerprint(spark, d1) == _index_fingerprint(spark, d2)


def test_postings_sorted_and_blockmax_correct(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, n_shards=2, n_buckets=4, n_salts=4,
                n_shard_groups=1, block_size=16, run_size=64)
    for r in read_postings(spark, d).limit(200).collect():
        ids, ws = decode_run(bytes(r["postings"]))
        assert (np.diff(ids) > 0).all()          # strictly ascending doc ids
        assert len(ids) == r["df"]
        # block metadata covers the list and bounds the weights
        bm_last = list(r["bm_last"])
        bm_max = list(r["bm_max"])
        assert bm_last[-1] == ids[-1]
        assert abs(max(bm_max) - r["max_w"]) < 1e-6
        start = 0
        for last, mx in zip(bm_last, bm_max):
            end = np.searchsorted(ids, last, side="right")
            assert ws[start:end].max() <= mx + 1e-6
            start = end
        assert start == len(ids)


def test_bucket_partition_pruning_layout(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, n_shards=2, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    groups = os.listdir(os.path.join(d, "postings"))
    assert any(g.startswith("shard_group=") for g in groups)
    buckets = os.listdir(os.path.join(d, "postings", sorted(groups)[0]))
    assert any(b.startswith("bucket=") for b in buckets)
    # reading one bucket only touches that directory
    one = read_postings(spark, d).where(F.col("bucket") == 1)
    assert one.select("term_id").distinct().count() > 0
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan


def test_per_doc_expansion_projection_separation(spark, docs):
    """The zero-shuffle TF expansion depends on CollapseProject keeping the
    sorted token array in its own projection: an expression (rather than a
    bare attribute) referenced inside a higher-order-function lambda is
    re-evaluated PER ELEMENT, so an inlined array_sort would turn
    O(dl log dl) into O(dl^2 log dl) per doc. Guard the invariant against
    future Catalyst/refactor changes: array_sort appears exactly once in the
    optimized plan, and the whole expansion is shuffle-free."""
    from light_splade_spark.index.build import per_doc_expansion

    df = per_doc_expansion(docs)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_sort") == 1, optimized
    physical = df._jdf.queryExecution().executedPlan().toString()
    # no KEYED shuffle (hash/range) anywhere — the TF expansion itself is
    # row-local. A single round-robin exchange IS allowed: it is the
    # conditional input-spread guard (partitioning.spread_input) kicking in
    # because the test fixture is a one-row-group parquet scan.
    assert "hashpartitioning" not in physical, physical
    assert "rangepartitioning" not in physical, physical
    assert physical.count("Exchange") <= 1, physical
