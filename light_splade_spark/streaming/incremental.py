"""Append-only incremental indexing — batch and Structured Streaming.

The reference's indexer is micro-batch append (``sparse_indexer.py:91-125``)
with a documented no-update caveat: re-indexing an existing doc id leaves the
old row in place as a "zombie" (``sparse_indexer.py:99-101``). We mirror that
contract exactly:

* ``append_batch`` builds postings for the new docs only and writes them as a
  NEW ``append-<batch_id>`` posting group — existing groups are immutable
  (idempotent partition writes, the checkpoint-resume property holds). It
  runs the build's own steps (index/build.py) on the batch: the analyzer
  comes from ``resolve_analyzer``, tokens from ``per_doc_expansion`` (whose
  ``(doc_id, dl)`` projection is the doc_stats append), new terms-dim rows
  from ``terms_dim``, and the group from ``write_posting_group``, the
  posting writer the build and compaction use — so appended groups share
  the build's layout; a micro-batch of at most ``run_size`` docs takes its
  fused single-shuffle path. Only BM25 indexes accept appends: an
  impact-scored index holds encoder weights that a text batch cannot
  supply.
* Corpus statistics are FROZEN at initial build time (N, avgdl, per-term
  idf), as in the reference where the encoder's weights don't change when
  docs are added. Terms unseen at build time get idf from the frozen N and
  their within-batch df, and are appended to the terms dim.
* ``stream_append`` wraps it in Structured Streaming ``foreachBatch`` with
  ``Trigger.AvailableNow`` — the idiomatic incremental-ingest shape: exactly
  -once per micro-batch via the streaming checkpoint + immutable group dirs
  keyed by batch id.

Query-side: the WAND kernel merges multiple posting rows per (shard, term)
(one per shard_group), so appended docs are visible immediately.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import resolve_analyzer
from light_splade_spark.index.build import (
    _explode_expansion,
    per_doc_expansion,
    terms_dim,
    write_posting_group,
)
from light_splade_spark.index.manifest import IndexManifest, group_dir
from light_splade_spark.plans.bm25_sql import bm25_impact_col


def append_batch(spark: SparkSession, index_dir: str, docs: DataFrame,
                 batch_id: str, id_col: str = "doc_id",
                 text_col: str = "text", _pre_register_hook=None) -> None:
    """Append new docs to an existing complete index (immutable new group).

    Re-running with the same ``batch_id`` overwrites the same group dir —
    idempotent, which is what foreachBatch retries require. (Exception to
    full idempotency: the doc_stats/terms APPENDS can leave duplicate
    audit rows if the first attempt crashed after writing them — scoring
    is unaffected (postings carry precomputed impacts; terms re-append is
    left-anti-guarded) and compaction reads doc_stats only for max(doc_id).
    A retry whose group a compaction already folded is detected via
    ``manifest.retired_groups`` and skipped entirely — re-registering it
    would double-count the batch's postings.)

    SINGLE WRITER: appends, deletes, and compactions must be serialized by
    the caller (jobs/maintain_index_job.py runs them sequentially; a
    streaming sink is one driver). Two concurrent writers can interleave
    manifest saves and lose the other's liveness/pointer update.

    Re-appending a tombstoned doc id drops its tombstone (the doc becomes
    visible again); if its old postings were not yet compacted away they
    score alongside the new ones — the reference's documented zombie
    contract for re-indexed ids (``sparse_indexer.py:99-101``).
    """
    man = IndexManifest.load(index_dir)
    if man.status != "complete":
        raise ValueError("cannot append to an incomplete index")
    if man.scoring == "impact":
        # appended postings carry BM25 impacts; an impact index stores
        # encoder weights, and mixing the two would silently corrupt scores
        raise ValueError(
            "cannot append text to an impact-scored index: rebuild it with "
            "build_index(weights_df=...) over the full corpus")
    group = f"append-{batch_id}"
    if group in man.retired_groups:
        # this batch registered on a previous attempt and a compaction has
        # since folded it into the compact group — every doc is already
        # served from there. Re-running the append would double-count the
        # batch (live in compact AND resurrected append group). Complete
        # the one step a post-register crash can leave dangling, then stop.
        # (If the batch re-appended tombstoned ids and the crash predated
        # this drop, the fold purged those ids — the delete wins on this
        # crash path, consistent with the fenced-clear contract.)
        from light_splade_spark.index.tombstones import drop_tombstones_for
        drop_tombstones_for(spark, index_dir,
                            docs.select(F.col(id_col).alias("doc_id")))
        return
    if not docs.take(1):
        return  # empty micro-batch: no group dir, no manifest churn
    t0 = time.time()
    # appended docs MUST be tokenized with the analyzer the index pins;
    # resolve_analyzer also rebuilds a vocab (wordpiece) analyzer from the
    # index dir in a process that never constructed it. The expansion is
    # the build's own (per_doc_expansion): one row per doc, zero-token and
    # NULL-text docs included with dl=0, so doc_stats is a projection of it
    per_doc = per_doc_expansion(
        docs, id_col, text_col,
        resolve_analyzer(man.analyzer_version, index_dir)).cache()
    dt = _explode_expansion(per_doc)

    start_terms_rel = man.terms_dir
    terms_path = os.path.join(index_dir, start_terms_rel)
    batch_terms = dt.groupBy("term").agg(F.count(F.lit(1)).alias("bdf"))

    def _terms_missing_from(known_terms: DataFrame) -> DataFrame:
        # batch terms absent from the given dim, in the dim's row shape:
        # frozen-N idf with batch df (documented approximation: the
        # reference likewise freezes encoder/stats at build time)
        return terms_dim(
            batch_terms.join(known_terms.select("term"), "term", "left_anti")
            .select("term", F.col("bdf").alias("df"),
                    F.lit(None).cast("bigint").alias("cf")),
            man.n_docs)

    _terms_missing_from(spark.read.parquet(terms_path)) \
        .write.mode("append").parquet(terms_path)

    terms_b = F.broadcast(
        spark.read.parquet(terms_path).select("term", "term_id", "idf"))
    # run sizing must use the BATCH's df, not the dim's corpus df: a run
    # holds only this batch's postings, so salting a 1k-doc append by a
    # head term's corpus df (ceil(500k/run_size) ways) would shatter tiny
    # runs for nothing. The initial build's df IS its batch df (batch =
    # corpus), so this is the same rule at every lifecycle stage.
    max_doc_b, batch_n = per_doc.agg(
        F.max("doc_id"), F.count(F.lit(1))).collect()[0]
    posts = (
        dt.join(terms_b, "term")
        .join(F.broadcast(batch_terms), "term")
        .select("doc_id", "term_id", bm25_impact_col(man.avgdl).alias("w"),
                F.col("bdf").alias("df"))
    )
    write_posting_group(posts, index_dir, group, man, n_docs=batch_n,
                        max_doc=max_doc_b, t0=t0, append_batch=batch_id)
    per_doc.select("doc_id", "dl").write.mode("append") \
        .parquet(os.path.join(index_dir, "doc_stats"))
    if _pre_register_hook is not None:
        # test seam: the group dir is fully written but not yet registered
        # as live — where a racing compaction's commit + GC would land
        _pre_register_hook()
    # register the new group as live (LSM liveness, index/compact.py);
    # set-union keeps foreachBatch retries idempotent.
    # RE-LOAD the manifest first: a compaction that committed while this
    # append ran flipped live_groups/terms_dir, and saving the stale copy
    # loaded at function start would resurrect GC'd groups and drop the
    # compact pointer (the single-writer contract makes this impossible
    # when followed; the reload makes the accidental overlap non-fatal).
    man = IndexManifest.load(index_dir)
    if group in man.retired_groups:
        # a compaction absorbed a previous attempt's registration while
        # this retry was re-writing the group dir: the batch is already
        # live inside the compact group. Registering the rewrite would
        # double-count it — drop the dir instead.
        shutil.rmtree(group_dir(index_dir, group), ignore_errors=True)
    elif group not in man.live_groups:
        man.live_groups.append(group)
        man.save(index_dir)
    # if a compaction flipped the terms-dim pointer while this append ran,
    # its terms_v<epoch> coalesce may predate our new-term rows (they were
    # written to the OLD dir at the top of this function) — re-append
    # whatever the current dim is missing. Idempotent: left-anti against
    # the live dim; a no-op in the single-writer case.
    cur_terms_rel = man.terms_dir
    if cur_terms_rel != start_terms_rel:
        cur_path = os.path.join(index_dir, cur_terms_rel)
        missing = _terms_missing_from(spark.read.parquet(cur_path))
        if missing.take(1):
            missing.write.mode("append").parquet(cur_path)
    # drop tombstones covering re-appended ids (zombie contract — see
    # docstring); after the group is live so a crash in between leaves the
    # doc hidden only until the idempotent retry completes the drop
    from light_splade_spark.index.tombstones import drop_tombstones_for
    drop_tombstones_for(spark, index_dir,
                        docs.select(F.col(id_col).alias("doc_id")))
    per_doc.unpersist()


def stream_queries(spark: SparkSession, index_dir: str, stream: DataFrame,
                   output_dir: str, checkpoint_dir: str, top_k: int = 10,
                   threshold: float = 0.0):
    """Streaming query evaluation: a stream of (qid, text) rows is evaluated
    against the index per micro-batch, results appended as parquet.
    ``Trigger.AvailableNow`` + checkpoint → each query batch is answered
    exactly once across restarts. foreachBatch is the idiomatic bridge for
    a sink that needs arbitrary DataFrame plans (joins against static
    postings).

    Route guard (ADVICE r4): each micro-batch goes through
    ``join_scorer.score_query_frame``, the same rule as ``jobs/query_job.py
    --route auto``. Batches up to ``JOIN_ROUTE_THRESHOLD`` queries take the
    WAND kernel (collects the query texts to the driver — the documented
    <=10^5 sizing of that route); larger batches stay fully distributed
    through ``score_index_join`` (query side shuffles on term_id, never
    collected), which is rank-identical to WAND on the same index. A huge
    streamed batch therefore degrades to a bigger join, not a driver OOM."""
    from light_splade_spark.index.join_scorer import score_query_frame

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _, out = score_query_frame(spark, index_dir, batch_df, top_k=top_k,
                                   threshold=threshold)
        (out.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(output_dir))

    return (
        stream.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_append(spark: SparkSession, index_dir: str, stream: DataFrame,
                  checkpoint_dir: str, id_col: str = "doc_id",
                  text_col: str = "text"):
    """Structured Streaming sink: every micro-batch becomes one immutable
    shard group. Returns the started StreamingQuery (AvailableNow trigger:
    drains what exists, then stops — rerun to pick up new files)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, index_dir, batch_df, str(batch_id),
                     id_col=id_col, text_col=text_col)

    return (
        stream.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
