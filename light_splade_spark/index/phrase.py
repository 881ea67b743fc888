"""Phrase retrieval over the compressed index — retrieve-then-verify.

Exact phrase search ("terms adjacent, in order") is the classic fulltext
feature the posting layout alone cannot answer: the index stores per-term
impact postings (index/build.py), not positions. Rather than inflating
every posting with positions (2-4x index bytes, paid by every non-phrase
query), this module uses the standard two-stage serving shape:

1. RETRIEVE — conjunctive candidate generation on the per-shard kernel,
   not the join route (index/wand._score_shard in its AND mode, run by
   wand.shard_hits over the phrase terms' pruned posting rows): per
   shard, the decoded lists of a phrase's distinct terms are intersected,
   so only documents containing ALL of them survive, already carrying
   their BM25 score (sum qtf * w over the stored float32 impacts — the
   WAND routes' scores).
2. VERIFY — token-adjacency checked ONLY on the candidates: the
   candidate rows are joined to the docs DataFrame's text FIRST (one
   join, so the stage-1 kernel runs once), then only the joined rows (a
   tiny fraction of the corpus — the conjunction of several terms) are
   re-tokenized with the index's pinned analyzer and kept iff the phrase
   token array occurs as a contiguous subsequence. The adjacency
   predicate is a pure JVM higher-order function
   (exists/sequence/slice), no Python.

At 100 TB this is the right plan: stage 1 touches only the phrase terms'
posting bytes (parquet bucket pruning + min/max pushdown) and moves no
per-posting row out of the kernel, only each shard's matches; stage 2
tokenizes text for candidate doc_ids only, joined by broadcast when the
candidate set is small (phrase conjunctions almost always are; a phrase
of ONE term degenerates to term retrieval with verify = membership,
still correct).

Reference parity: the reference engine has no phrase search (its sparse
retriever scores bags of terms, sparse_retriever.py); this is a
beyond-reference capability of the fulltext_index tier. Scores for the
verified docs are byte-identical to the OR-route join scorer on the same
phrase terms (same rounding, same tie-break) — asserted in
tests/test_phrase.py and oracle-checked in Q:index_join_topk.

``conjunctive_topk`` (boolean AND / NOT) is stage 1 alone, ranked, routed
like ``wand_topk``: driver-local for a point batch, else distributed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import Analyzer, resolve_analyzer
from light_splade_spark.index.manifest import IndexManifest
from light_splade_spark.index.wand import (
    build_query_plan,
    rank_hits,
    resolve_term_ids,
    shard_hits,
    shard_topk,
)
from light_splade_spark.session import local_frame


def _and_plan(spark: SparkSession, index_dir: str,
              queries: list[tuple[int, str]], ana: Analyzer
              ) -> dict[int, list[tuple[int, float]]]:
    """The WAND query plan (qid -> [(term_id, qtf)]) restricted to queries
    whose every distinct analyzed term is in the index: a term ABSENT from
    the index makes a full match impossible, so its query has no
    candidates (build_query_plan drops absent terms, so compare against
    the analyzer's distinct-term count)."""
    qplan = build_query_plan(spark, index_dir, queries)
    need = {qid: len(set(ana.py_tokenize(text))) for qid, text in queries}
    return {qid: lst for qid, lst in qplan.items()
            if len(lst) == need.get(qid)}


def conjunctive_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    top_k: int = 10,
    exclude: str | None = None,
) -> DataFrame:
    """-> (qid, rank, doc_id, score): BM25 top-k among documents
    containing ALL the query's distinct terms (boolean-AND retrieval —
    the standard strict fulltext mode the reference's bag-of-terms
    scorer cannot express). Scores equal the disjunctive routes' scores
    for the same (query, doc) pairs: same stored impacts, same rounding,
    same doc_id tie-break. ``top_k=0`` returns every full match ranked.

    ``exclude`` completes the boolean algebra with NOT: a text whose
    analyzed terms BAN documents — any doc containing ANY excluded term
    is dropped (for every query in the batch) BEFORE ranking, so ranks
    stay dense. The excluded terms' posting rows are read beside the
    query terms' (same bucket pruning + min/max pushdown) and each shard
    drops the docs they list before it cuts its top-k; an excluded term
    absent from the index bans nothing. Exclusion does not change
    surviving docs' scores (BM25 has no negative-term contribution).

    Runs the shard kernel's AND mode through ``wand_topk``'s route rule
    (index/wand.shard_topk): driver-local for a point batch with a
    finite ``top_k``, else the distributed shard plan. A batch in which
    no query can fully match runs no Spark job. Sized like ``wand_topk``
    (the plan ships in the kernel closure: up to ~10^5 queries).
    """
    man = IndexManifest.load(index_dir)
    ana = resolve_analyzer(man.analyzer_version, index_dir)
    qplan = _and_plan(spark, index_dir, queries, ana)
    banned = None
    if qplan and exclude:
        banned = sorted(resolve_term_ids(
            spark, index_dir, sorted(set(ana.py_tokenize(exclude))),
            man=man).values())
    return shard_topk(spark, index_dir, qplan, top_k=top_k, mode="and",
                      banned_tids=banned)


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    phrases: list[tuple[int, str]],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (pid, rank, doc_id, score): BM25 top-k among documents containing
    each phrase as an exact token-adjacent run.

    ``phrases``: literal (pid, text) pairs (a phrase workload is
    interactive-sized; a DataFrame-sized phrase workload would compose the
    same stages with query_terms_df). ``docs`` must be the corpus the index
    was built over — it supplies the text for the verify stage only; no
    score is computed from it.

    A phrase with a term absent from the index matches nothing (correct:
    no document can contain it). Multiplicity counts: "window window"
    scores 'window' with qtf=2 and verifies two adjacent occurrences.
    """
    man = IndexManifest.load(index_dir)
    ana = resolve_analyzer(man.analyzer_version, index_dir)
    qplan = _and_plan(spark, index_dir, phrases, ana)
    if not qplan:
        return local_frame(
            spark, None, "pid BIGINT, rank INT, doc_id BIGINT, score DOUBLE")
    ptoks = local_frame(spark, pd.DataFrame(
        [(pid, ana.py_tokenize(text)) for pid, text in phrases
         if pid in qplan], columns=["qid", "ptoks"]),
        "qid BIGINT, ptoks ARRAY<STRING>")
    # RETRIEVE: every full match is a candidate (top_k=0), which the route
    # rule never serves driver-side, so this is the distributed route
    cand = shard_hits(spark, index_dir, qplan, top_k=0, mode="and")

    # VERIFY: join the candidates to the corpus text (AQE broadcasts the
    # candidate side when it is small — the common multi-term-phrase case
    # — and falls back to a shuffled join when a single-token or
    # stop-word phrase makes candidates corpus-scale, where a forced
    # broadcast would OOM the driver), then tokenize only the joined rows
    # and test contiguous-subsequence with a JVM higher-order function.
    # One join consumes ``cand``, so the kernel runs once. The size guard
    # keeps sequence() well-formed for docs shorter than the phrase.
    text = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("_text"))
    verified = (
        cand.join(text, "doc_id")
        .select("qid", "doc_id", "score",
                ana.spark_tokens("_text").alias("toks"))
        .join(F.broadcast(ptoks), "qid")
        .where(
            (F.size("toks") >= F.size("ptoks"))
            & F.expr("exists(sequence(1, size(toks) - size(ptoks) + 1), "
                     "i -> slice(toks, i, size(ptoks)) == ptoks)")
        )
    )

    return rank_hits(verified, top_k).withColumnRenamed("qid", "pid")
