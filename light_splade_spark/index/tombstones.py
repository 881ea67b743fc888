"""Doc-level tombstone deletes — the LSM companion to append + compact.

The reference cannot delete (its append-only indexer documents the zombie
caveat, ``sparse_indexer.py:99-101``); at 100 TB deletes are how a
training-data pipeline retracts documents (takedowns, dedup survivors'
losers, quality refilters) without an hours-long rebuild. Design:

* ``delete_docs`` appends doc ids to ``<index_dir>/tombstones/`` parquet —
  an O(|batch|) write, no posting rewrite;
* every query route excludes tombstoned docs at scoring time: the WAND
  kernel (distributed and driver-local) filters decoded postings with a
  numpy mask (ids ship as one broadcast-sized array — fine to ~10^7
  deletes), and the join route excludes inside ``decode_postings`` with a
  distributed anti-join (no size bound);
* corpus statistics stay FROZEN (N, avgdl, idf) — the same contract as
  appends: the build's scoring model does not drift under mutation;
* ``compact_index`` purges: its decode step drops tombstoned postings (it
  reads through ``decode_postings``), and after the atomic liveness
  commit the tombstone files are cleared — a crash between the two leaves
  stale tombstones that exclude already-absent docs, a harmless no-op.
  The clear is FENCED: the compactor snapshots the batch dirs whose write
  has committed (``list_complete_tombstone_batches``, _SUCCESS marker)
  before its decode and clears exactly those — a delete issued while a
  compaction runs survives the compact+clear and keeps excluding
  (possibly redundantly, which is harmless; tests/test_tombstones.py).
* Delete-then-re-append: ``append_batch`` drops tombstones covering the
  batch's doc ids, restoring the reference's documented zombie contract
  (re-indexing an id leaves any not-yet-compacted old postings scoring
  alongside the new ones, ``sparse_indexer.py:99-101``); without the drop
  the stale tombstone would permanently hide the re-added doc.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from light_splade_spark.session import local_frame

TOMBSTONE_DIR = "tombstones"


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: list[int] | DataFrame) -> int:
    """Tombstone the given doc ids (idempotent — duplicates are fine, the
    readers use set semantics). Returns the number of ids written."""
    if isinstance(doc_ids, DataFrame):
        from pyspark.sql import functions as F
        # pin BIGINT: an int32 batch next to an int64 one would break the
        # multi-batch tombstone reads with a parquet type conflict
        df = doc_ids.select(
            F.col("doc_id").cast("bigint").alias("doc_id")).distinct()
        n = df.count()
    else:
        # deduplicated on the driver and shipped as one Arrow local
        # relation: no pickled parallelize RDD, no Python worker, no
        # shuffle (an empty list too)
        ids = np.unique(np.asarray([int(d) for d in doc_ids], dtype=np.int64))
        df = local_frame(spark, pd.DataFrame({"doc_id": ids}),
                         "doc_id BIGINT")
        n = int(ids.size)
    out = os.path.join(index_dir, TOMBSTONE_DIR, f"batch-{time.time_ns()}")
    df.write.mode("overwrite").parquet(out)
    return n


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Distinct tombstoned doc ids as a DataFrame, or None when none."""
    d = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(d) or not any(
            name.startswith("batch-") for name in os.listdir(d)):
        return None
    return spark.read.parquet(os.path.join(d, "batch-*")) \
        .select("doc_id").distinct()


def load_tombstone_ids(index_dir: str) -> np.ndarray | None:
    """Driver-side sorted int64 tombstone ids (pyarrow read — milliseconds
    up to ~10^7 ids), or None when the index has no tombstones."""
    d = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(d):
        return None
    import pyarrow.dataset as pds
    files = [os.path.join(d, n, f)
             for n in os.listdir(d) if n.startswith("batch-")
             for f in os.listdir(os.path.join(d, n)) if f.endswith(".parquet")]
    if not files:
        return None
    tab = pds.dataset(files).to_table(columns=["doc_id"])
    ids = np.unique(tab.column("doc_id").to_numpy(zero_copy_only=False))
    return ids.astype(np.int64) if ids.size else None


def list_complete_tombstone_batches(index_dir: str) -> list[str]:
    """Names of tombstone batch dirs whose parquet write has COMMITTED
    (Spark's _SUCCESS marker present). This is the compactor's fence
    snapshot: a batch complete now is guaranteed readable by a decode
    built later; a batch mid-write (no _SUCCESS yet) or created later is
    excluded — and therefore survives the post-commit clear."""
    d = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        n for n in os.listdir(d)
        if n.startswith("batch-")
        and os.path.exists(os.path.join(d, n, "_SUCCESS")))


def clear_tombstones(index_dir: str,
                     batches: list[str] | None = None) -> None:
    """Remove tombstone batches — called by compact_index after its commit
    (the compacted group no longer contains the deleted docs). Idempotent;
    stale tombstones only ever exclude absent docs.

    ``batches`` is the fence: only the named batch dirs (the compactor's
    ``list_complete_tombstone_batches`` snapshot taken BEFORE its decode)
    are cleared, so a delete landing mid-compaction — which the decode may
    not have seen — survives and keeps excluding its docs. None clears
    everything."""
    d = os.path.join(index_dir, TOMBSTONE_DIR)
    if batches is None:
        shutil.rmtree(d, ignore_errors=True)
        return
    for name in batches:
        shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def drop_tombstones_for(spark: SparkSession, index_dir: str,
                        doc_ids: DataFrame) -> bool:
    """Remove the given doc ids from the tombstone set (re-append support,
    called by ``append_batch``). Consolidates the remaining ids into one
    new batch, then deletes the old batch directories. Crash window: new
    batch written but old dirs not yet removed -> the union still contains
    the overlapping ids, and the idempotent append retry re-runs this drop.
    Returns True when an overlap existed."""
    from pyspark.sql import functions as F
    tdf = tombstones_df(spark, index_dir)
    if tdf is None:
        return False
    ids = doc_ids.select(
        F.col("doc_id").cast("bigint").alias("doc_id")).distinct()
    if not tdf.join(ids, "doc_id", "left_semi").take(1):
        return False
    d = os.path.join(index_dir, TOMBSTONE_DIR)
    old = [n for n in os.listdir(d) if n.startswith("batch-")]
    remaining = tdf.join(ids, "doc_id", "left_anti")
    new_dir = os.path.join(d, f"batch-{time.time_ns()}")
    remaining.write.mode("overwrite").parquet(new_dir)
    # new_dir's time_ns name postdates the listing, so it is never in old
    for name in old:
        shutil.rmtree(os.path.join(d, name), ignore_errors=True)
    return True
