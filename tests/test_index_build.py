"""Index build: determinism, checkpoint resume, lineage, compression."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_splade_spark.functions.vbyte import decode_run
from light_splade_spark.index.build import build_index, read_postings
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
    assert sorted(man.completed_groups) == [0, 1]
    lineage = read_lineage(d)
    assert len(lineage) == 2
    parts = [p for g in lineage for p in g["partitions"]]
    assert all(p["n_postings"] > 0 and p["postings_bytes"] > 0 for p in parts)
    # every (shard) present
    assert {p["shard"] for p in parts} == {0, 1, 2, 3}


def test_resume_after_crash_is_byte_identical(spark, docs, tmp_path):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, docs, d1, n_shards=4, n_buckets=8, n_salts=4,
                n_shard_groups=4, run_size=100)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, d2, n_shards=4, n_buckets=8, n_salts=4,
                    n_shard_groups=4, run_size=100, fail_after_group=1)
    man = IndexManifest.load(d2)
    assert man.status == "building"
    assert sorted(man.completed_groups) == [0, 1]
    man2 = build_index(spark, docs, d2, n_shards=4, n_buckets=8, n_salts=4,
                       n_shard_groups=4, run_size=100, resume=True)
    assert man2.status == "complete"
    assert _index_fingerprint(spark, d1) == _index_fingerprint(spark, d2)


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
            return 0 in IndexManifest.load(d).completed_groups
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
