"""LSM-style index compaction: fold appended shard groups back to one
posting row per (shard, bucket, term), with a crash-safe atomic commit.

Why it exists at 100 TB: every streaming append (streaming/incremental.py)
adds an immutable ``append-*`` posting group — the design that
makes ingest idempotent and resumable — but each append adds one more
posting row per touched (shard, term) that the query kernel must
merge-sort at read time, and one more small-file layer per bucket. After
thousands of micro-batches the read amplification and file-count creep
are the classic LSM problem, and this is the classic LSM answer: rewrite
the live groups into a single new group and atomically swap liveness.

Mechanism (no new encode machinery — the build's own writer re-runs over
decoded rows):

1. ``decode_postings`` (join_scorer) explodes every LIVE posting row back
   to (term_id, doc_id, w) — distributed, Arrow-batched;
2. ``write_posting_group`` (index/build.py), the one posting writer build
   and append also use, re-encodes them under the manifest's own layout
   into the posting group ``compact-<epoch>`` and records its lineage;
3. **commit = one atomic manifest write**: ``live_groups`` flips to the
   new group (IndexManifest.save is tmp+os.replace). Readers
   (read_postings and the wand local path) filter partitions to
   ``live_groups``, so a crash anywhere before the commit leaves every
   query on the old groups, and a crash after the commit (before GC)
   leaves orphan directories that no reader sees;
4. GC deletes non-live group directories — safe to re-run at any time.

Weight fidelity: weight_bits=32 round-trips float32 impacts bit-exactly —
query results are byte-identical pre/post compaction (asserted in
tests/test_compact.py). weight_bits=8 re-quantizes against the merged
blocks' maxima, so scores may move within the original 1/255
block-relative quantization error (rank-stability asserted instead).

The reference has no compaction (its whole index is one gzip pickle,
``sparse_indexer.py:200-217``); this operator exists for the scale the
north rule targets, where rebuild-from-text costs hours but
rewrite-from-index costs minutes.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from light_splade_spark.index.build import read_terms, write_posting_group
from light_splade_spark.index.manifest import (
    IndexManifest,
    group_dir,
    physical_groups,
)


def compact_index(spark: SparkSession, index_dir: str, gc: bool = True,
                  fail_before_commit: bool = False,
                  _pre_commit_hook=None) -> IndexManifest:
    """Rewrite all live posting groups into one ``compact-<epoch>`` group
    and atomically swap liveness. Idempotent: a crashed run leaves the old
    groups live and a rerun overwrites the staging group.

    SINGLE WRITER: appends, deletes, and compactions must be serialized by
    the caller (jobs/maintain_index_job.py runs them sequentially). The
    commit below still defends against an accidental overlap: it re-loads
    the manifest and keeps any group that appeared after the decode
    snapshot live (an append that landed mid-compaction is not folded in —
    it stays as its own live group for the next compaction), and the
    tombstone clear is epoch-fenced (see tombstones.py).

    ``fail_before_commit`` is a crash-injection hook for tests: raises
    after the new group is fully written but before the manifest commit.
    """
    man = IndexManifest.load(index_dir)
    if man.status != "complete":
        raise ValueError("cannot compact an incomplete index")
    t0 = time.time()
    # epoch fence for the tombstone clear: snapshot the tombstone batch
    # dirs that are FULLY WRITTEN (Spark's _SUCCESS marker) right now —
    # only these are guaranteed visible to the decode below, and only
    # these are cleared after the commit. A delete racing this compaction
    # (written later, or mid-write without its _SUCCESS yet) survives the
    # clear and keeps excluding its docs (tests/test_tombstones.py);
    # if the decode happens to see it anyway, clearing is skipped and the
    # stale marker just re-excludes absent docs — harmless.
    from light_splade_spark.index.tombstones import (
        clear_tombstones,
        list_complete_tombstone_batches,
    )
    tombstone_snapshot = list_complete_tombstone_batches(index_dir)
    epoch = man.compact_epoch + 1
    group = f"compact-{epoch}"

    # the decode snapshot: the EXACT group list the decode reads (passed
    # explicitly so decode cannot re-load a fresher manifest and fold in
    # a group this commit would then double-count as a survivor)
    decoded_groups = man.live_groups

    from light_splade_spark.index.join_scorer import decode_postings
    decoded = decode_postings(spark, index_dir, live_groups=decoded_groups)

    # doc count and max id in one aggregate: the count (appends included)
    # bounds every df in the terms dim, which is what the writer's fuse
    # rule needs; max(doc_id) spans the salt's doc-id range
    n_docs, max_doc = spark.read.parquet(
        os.path.join(index_dir, "doc_stats")
    ).agg(F.count(F.lit(1)), F.max("doc_id")).collect()[0]
    # the terms dim's df is build-time (stale under appends/deletes) but it
    # only sizes the salt, and any salt is CORRECT — phase 2 merges the
    # runs; left join + coalesce(df, 1) so a term missing from the dim
    # (cannot normally happen) still keeps its postings
    tdf = F.broadcast(read_terms(spark, index_dir).select("term_id", "df"))
    posts = decoded.join(tdf, "term_id", "left").select(
        "doc_id", "term_id", "w", F.coalesce("df", F.lit(1)).alias("df"))
    write_posting_group(posts, index_dir, group, man, n_docs=n_docs,
                        max_doc=max_doc, t0=t0, compacted_from=decoded_groups)

    # terms-dim rewrite: appends accumulate one small parquet file per
    # batch on the terms dir; fold them into one coalesced dir (content
    # IDENTICAL — frozen-stats contract — only file count changes) and
    # flip the manifest pointer in the same commit as liveness
    old_terms = man.terms_dir
    new_terms = f"terms_v{epoch}"
    (spark.read.parquet(os.path.join(index_dir, old_terms))
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(index_dir, new_terms)))

    if _pre_commit_hook is not None:
        # test seam: runs with the new group fully written but the commit
        # not yet taken — where a racing delete/append would land
        _pre_commit_hook()
    if fail_before_commit:
        raise RuntimeError("simulated crash before compaction commit")

    # COMMIT: one atomic manifest replace flips liveness + terms pointer.
    # Re-load first: an append that (against the single-writer contract)
    # committed mid-compaction added a live group this decode never saw —
    # keep it live (it is NOT in the compacted group) and refresh the
    # terms coalesce so its appended term rows reach the new terms dir.
    man = IndexManifest.load(index_dir)
    decoded_set = set(decoded_groups)
    survivors = [g for g in man.live_groups
                 if g not in decoded_set and g != group]
    if survivors:
        (spark.read.parquet(os.path.join(index_dir, old_terms))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(index_dir, new_terms)))
    man.live_groups = [group, *survivors]
    man.compact_epoch = epoch
    man.terms_dir = new_terms
    # record the folded groups so a crashed append's foreachBatch retry
    # can detect its group was already absorbed (re-registering it would
    # double-count the batch's postings). Cumulative, capped — a genuine
    # retry can only concern a recent batch.
    man.retired_groups = [
        *[g for g in man.retired_groups
          if g not in decoded_set],
        *sorted(decoded_set)][-10000:]
    man.save(index_dir)
    # the compacted group was decoded through decode_postings, which drops
    # tombstoned docs — those deletes are now physical, clear their markers
    # (idempotent; a crash here leaves stale tombstones excluding docs
    # that no longer exist — a no-op). Fenced: only the batches complete at
    # the pre-decode snapshot are cleared, so a delete racing this
    # compaction is never silently un-applied.
    clear_tombstones(index_dir, batches=tombstone_snapshot)
    if gc:
        gc_postings(index_dir, man, dead=decoded_set)
    return man


def gc_postings(index_dir: str, man: IndexManifest | None = None,
                dead: set[str] | None = None,
                grace_sec: float = 3600.0) -> list[str]:
    """Delete posting group directories that are not live, plus stale
    terms-dim versions the manifest no longer points at. Returns removed
    names.

    Removal rule: groups in ``dead`` (the compactor's decoded set — known
    superseded) go immediately; any OTHER non-live dir is removed only
    once its mtime is older than ``grace_sec``. The grace window protects
    an append's group dir in the write→register gap (it exists on disk
    before it appears in live_groups; an ungraced sweep racing that gap
    would delete postings the append is about to commit). Crashed-append
    orphans — never registered — are swept once they age past the grace.
    An unfinished build is left alone: its group being written is not yet
    live, and a resume overwrites it."""
    if man is None:
        man = IndexManifest.load(index_dir)
    if man.status != "complete":
        return []
    live = set(man.live_groups)
    dead = dead or set()
    now = time.time()
    removed = []
    def _rm(path: str, name: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):  # only report deletions that happened
            removed.append(name)
    for name in physical_groups(index_dir):
        if name in live:
            continue
        path = group_dir(index_dir, name)
        try:
            fresh = (now - os.path.getmtime(path)) < grace_sec
        except OSError:
            fresh = False
        if name in dead or not fresh:
            _rm(path, name)
    # stale terms-dim dirs get the SAME grace window as posting groups:
    # an in-flight append resolved its terms path from the pre-compaction
    # manifest, and an immediate sweep here would delete that dir out from
    # under its lazy reads (the exact write-gap race the posting grace
    # closes). Superseded dirs are small; they age out on a later sweep.
    cur_terms = man.terms_dir
    for d in sorted(os.listdir(index_dir)):
        if (d == "terms" or d.startswith("terms_v")) and d != cur_terms:
            path = os.path.join(index_dir, d)
            try:
                fresh = (now - os.path.getmtime(path)) < grace_sec
            except OSError:
                fresh = False
            if not fresh:
                _rm(path, d)
    return removed
