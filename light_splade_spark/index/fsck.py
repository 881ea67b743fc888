"""Index integrity verification (fsck) — operational completeness for the
LSM lifecycle.

An index directory mutates over its life (build → appends → deletes →
compactions → GC), each step committing through one atomic manifest
write. ``fsck_index`` verifies, read-only, that the on-disk state a
reader would consume is internally consistent, and reports findings as
structured rows instead of failing at query time with a decode error.

Checks (each a finding with severity ``error`` | ``warn`` and a stable
``check`` key):

* manifest — loads, schema-compatible, status ``complete``. The snapshot
  loaded here PINS the whole run: live_groups and terms_dir from this
  one manifest are passed explicitly to every reader below, so a
  compaction committing mid-fsck cannot mix epochs into the checks;
* liveness — every live group's partition dir exists; no group is both
  live and retired; physical dirs not in live_groups are reported as
  GC backlog (``warn`` — invisible to readers by construction);
* terms dim — the pinned terms_dir exists, is readable, and holds no
  duplicate term_id / term (one aggregate job);
* postings — readable under the pinned schema; every posting term_id
  resolves in the terms dim (anti-join, distributed);
* decode — a deterministic sample of terms is VByte-decoded through the
  real read path (tombstones included, since stored df counts deleted
  docs until compaction purges them): per term, decoded postings must
  equal the stored df sum — including a ZERO-row decode, which a
  left join surfaces as n_dec=0 — and the decoded max weight must
  match max_w (exactly at weight_bits=32; bounded within one quantum
  at weight_bits=8). A doc id appearing more than once in a term's
  stream is reported as ``warn``: it is the documented zombie/re-append
  contract (tombstones.py, streaming/incremental.py — reference
  semantics, sparse_indexer.py:99-101) — worth surfacing, not
  corruption, and compaction folds it rather than deduping it.
  A decode-stage CRASH (truncated/corrupt blob) is caught and reported
  as an error finding rather than propagating a Spark job failure;
* doc_stats — present (a ``complete`` manifest without it is an
  ``error``: every build writes it before committing) and readable;
  duplicate doc_id rows are ``warn`` (the documented harmless residue of
  a crashed-then-retried append — compaction reads doc_stats only for
  max(doc_id));
* tombstones — readable when present; an unreadable/malformed tombstone
  dir is an error finding, not an exception.

Scale: everything distributed except the bounded finding list and the
term sample; nothing materializes corpus-sized data on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from light_splade_spark.index.build import read_postings
from light_splade_spark.index.manifest import (
    CorruptIndexError,
    IndexManifest,
    physical_groups,
)


def _finding(sev: str, check: str, detail: str) -> dict:
    return {"severity": sev, "check": check, "detail": detail}


def fsck_index(spark: SparkSession, index_dir: str,
               sample_terms: int = 64) -> dict:
    """-> {"ok": bool, "findings": [...], "stats": {...}}.

    ``ok`` is True iff no ``error``-severity finding. Read-only; safe to
    run concurrently with readers and maintenance (the manifest loaded
    at entry pins one liveness/terms snapshot for the whole run)."""
    findings: list[dict] = []
    stats: dict = {}

    try:
        man = IndexManifest.load(index_dir)
    except (FileNotFoundError, CorruptIndexError) as e:
        return {"ok": False, "stats": {},
                "findings": [_finding("error", "manifest", str(e))]}
    stats["status"] = man.status
    stats["scoring"] = man.scoring
    if man.status != "complete":
        findings.append(_finding(
            "error", "manifest",
            f"status is {man.status!r} (an interrupted build/append — "
            f"resume it or rebuild)"))

    # -- liveness bookkeeping ------------------------------------------------
    physical = physical_groups(index_dir)
    live = man.live_groups
    stats["live_groups"] = len(live)
    stats["physical_groups"] = len(physical)
    for g in live:
        if g not in physical:
            findings.append(_finding(
                "error", "liveness",
                f"live group {g!r} has no partition dir under postings/ "
                f"(lost data or a foreign manifest)"))
    both = sorted(set(live) & set(man.retired_groups))
    if both:
        findings.append(_finding(
            "error", "liveness",
            f"groups both live and retired: {both} (double-count risk)"))
    backlog = sorted(set(physical) - set(live))
    if backlog:
        findings.append(_finding(
            "warn", "liveness",
            f"{len(backlog)} non-live physical group dir(s) (GC backlog; "
            f"invisible to readers): {backlog[:8]}"))

    # -- terms dim (pinned to THIS manifest's pointer) ------------------------
    tpath = os.path.join(index_dir, man.terms_dir)
    if not os.path.isdir(tpath):
        findings.append(_finding(
            "error", "terms",
            f"terms dir {man.terms_dir!r} missing at {tpath}"))
        return {"ok": False, "findings": findings, "stats": stats}
    try:
        terms = spark.read.parquet(tpath)
        trow = terms.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("term_id").alias("n_tid"),
            F.count_distinct("term").alias("n_term")).collect()[0]
    except Exception as e:  # unreadable terms dim -> structured finding
        findings.append(_finding(
            "error", "terms",
            f"terms dim unreadable: {type(e).__name__}: {str(e)[:300]}"))
        return {"ok": False, "findings": findings, "stats": stats}
    stats["n_terms"] = int(trow["n"])
    if trow["n_tid"] != trow["n"]:
        findings.append(_finding(
            "error", "terms", "duplicate term_id values in terms dim"))
    if trow["n_term"] != trow["n"]:
        findings.append(_finding(
            "error", "terms", "duplicate term values in terms dim"))

    # -- postings (pinned to THIS manifest's live set) -------------------------
    posts = read_postings(spark, index_dir, live_groups=live)
    try:
        agg = posts.agg(F.count(F.lit(1)).alias("lists"),
                        F.sum("df").alias("postings")).collect()[0]
    except Exception as e:  # unreadable parquet -> structured finding
        findings.append(_finding(
            "error", "postings",
            f"posting files unreadable: {type(e).__name__}: "
            f"{str(e)[:300]}"))
        return {"ok": False, "findings": findings, "stats": stats}
    stats["posting_lists"] = int(agg["lists"] or 0)
    stats["postings"] = int(agg["postings"] or 0)
    orphan = (posts.select("term_id").distinct()
              .join(terms.select("term_id"), "term_id", "left_anti")
              .limit(1).count())
    if orphan:
        findings.append(_finding(
            "error", "postings",
            "posting term_id(s) missing from the terms dim "
            "(terms/postings committed from different epochs)"))

    # -- decode sample (the real read path) ----------------------------------
    if stats["posting_lists"]:
        sample = [int(r["term_id"]) for r in
                  posts.select("term_id").distinct()
                  .orderBy(F.pmod(F.xxhash64("term_id"), F.lit(10 ** 9)))
                  .limit(sample_terms).collect()]
        from light_splade_spark.index.join_scorer import decode_postings
        # include_tombstoned: stored df counts deleted docs until a
        # compaction purges them, so the raw stream is what must match
        dec = (decode_postings(spark, index_dir, term_ids=sample,
                               live_groups=live, include_tombstoned=True)
               .groupBy("term_id")
               .agg(F.count(F.lit(1)).alias("n_dec"),
                    F.max("w").alias("w_max"),
                    (F.count(F.lit(1))
                     == F.count_distinct("doc_id")).alias("ids_unique")))
        meta = (posts.where(F.col("term_id").isin(sample))
                .groupBy("term_id")
                .agg(F.sum("df").alias("df"), F.max("max_w").alias("max_w")))
        # weight_bits=8 stores block-relative quantized weights, so the
        # decoded max only bounds max_w from below within one quantum;
        # exact equality is a weight_bits=32 invariant
        if man.weight_bits == 32:
            w_bad = F.abs(F.col("w_max") - F.col("max_w")) > 1e-6
        else:
            w_bad = F.col("w_max") > F.col("max_w") + F.lit(1e-6)
        # LEFT join from meta: a posting list that decodes to ZERO rows
        # (truncated/empty blob with df > 0) has no dec row — exactly the
        # total-loss case the check exists for
        joined = (meta.join(dec, "term_id", "left")
                  .select("term_id", "df", "max_w",
                          F.coalesce("n_dec", F.lit(0)).alias("n_dec"),
                          "w_max",
                          F.coalesce("ids_unique", F.lit(True))
                          .alias("ids_unique")))
        stats["decoded_sample_terms"] = len(sample)
        try:
            bad = (joined.where((F.col("n_dec") != F.col("df")) | w_bad)
                   .limit(5).collect())
            zombies = (joined.where(~F.col("ids_unique")
                                    & (F.col("n_dec") == F.col("df")))
                       .limit(3).collect())
        except Exception as e:  # corrupt blob -> structured finding
            findings.append(_finding(
                "error", "decode",
                f"decode stage failed on the sampled terms (corrupt "
                f"posting blob?): {type(e).__name__}: {str(e)[:300]}"))
            bad, zombies = [], []
        for r in bad:
            findings.append(_finding(
                "error", "decode",
                f"term_id {r['term_id']}: decoded {r['n_dec']} vs df "
                f"{r['df']}, max w {r['w_max']} vs stored {r['max_w']}"))
        for r in zombies:
            findings.append(_finding(
                "warn", "decode",
                f"term_id {r['term_id']}: a doc id appears more than once "
                f"(re-append/zombie contract — reference semantics: old "
                f"postings score alongside the new ones until the doc is "
                f"deleted; compaction folds, it does not dedup)"))

    # -- doc_stats -----------------------------------------------------------
    ds_path = os.path.join(index_dir, "doc_stats")
    if os.path.isdir(ds_path):
        ds = spark.read.parquet(ds_path)
        dsrow = ds.agg(F.count(F.lit(1)).alias("n"),
                       F.count_distinct("doc_id").alias("n_ids")).collect()[0]
        stats["doc_stats_rows"] = int(dsrow["n"])
        if dsrow["n_ids"] != dsrow["n"]:
            # documented harmless residue of a crashed-then-retried append
            # (scoring unaffected; compaction reads only max(doc_id))
            findings.append(_finding(
                "warn", "doc_stats",
                "duplicate doc_id rows in doc_stats (crashed-append "
                "audit residue)"))
    else:
        # every build writes doc_stats before it commits "complete"
        findings.append(_finding(
            "error" if man.status == "complete" else "warn", "doc_stats",
            "no doc_stats dir (target-restriction and compaction need it)"))

    # -- tombstones ----------------------------------------------------------
    try:
        from light_splade_spark.index.tombstones import tombstones_df
        tombs = tombstones_df(spark, index_dir)
        if tombs is not None:
            stats["tombstoned"] = tombs.count()
    except Exception as e:
        findings.append(_finding(
            "error", "tombstones",
            f"tombstone dir unreadable/malformed: "
            f"{type(e).__name__}: {str(e)[:300]}"))

    ok = not any(f["severity"] == "error" for f in findings)
    return {"ok": ok, "findings": findings, "stats": stats}
