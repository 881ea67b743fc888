"""Index-backed JOIN scoring — the corpus-scale query-workload route.

``wand_topk`` ships the query plan inside a kernel closure, which is right
for interactive/batch workloads up to ~10^5 queries. Mining MILLIONS of
queries against the index is a different shape: the query set itself is a
DataFrame that must shuffle, not broadcast. This module makes that route
real over the ALREADY-BUILT compressed index (previously the join path,
``plans/bm25_sql.score_bm25``, re-tokenized the raw corpus — a full
bandwidth-bound text pass that the index exists to avoid):

1. ``decode_postings`` — mapInPandas over the VByte posting blobs ->
   (term_id, doc_id, w) rows, dequantizing per the manifest's weight_bits.
   One Arrow-batched decode pass over only the requested term_ids'
   row groups (parquet min/max pruning via the optional semi-join).
2. ``score_index_join`` — (qid, term_id, qtf) ⨝ decoded postings on
   term_id -> partial+final hash agg per (qid, doc_id) -> per-query window
   top-k. Every stage is a plain shuffle that scales with the cluster; no
   driver-side state grows with the query count.
3. ``score_query_frame`` — the one wand-or-join rule for a query DataFrame
   of unknown size (streaming micro-batches, ``jobs/query_job.py --route
   auto``): up to ``JOIN_ROUTE_THRESHOLD`` queries take ``wand_topk``,
   larger frames take ``score_index_join``.

Scores are Σ qtf * w with w the float32 impact stored at build time,
decoded by the same index/build.decode_posting_list the WAND kernel uses —
identical semantics to index/wand._score_shard (asserted rank-identical in
tests/test_join_scorer.py), reference ``sparse_retriever.py:78-96``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.index.build import (
    decode_posting_list,
    read_terms,
    scan_term_postings,
)
from light_splade_spark.index.manifest import IndexManifest
from light_splade_spark.index.wand import rank_hits
from light_splade_spark.plans.bm25_sql import SCORE_DECIMALS

# Query frames above this size route to the distributed join scorer instead
# of collecting to the driver for the WAND kernel (the join route's
# advantage is flat driver memory — BENCH/BASELINE.md §0-r5).
JOIN_ROUTE_THRESHOLD = 50_000


def decode_postings(
    spark: SparkSession,
    index_dir: str,
    term_ids: list[int] | DataFrame | None = None,
    live_groups: list[str] | None = None,
    include_tombstoned: bool = False,
) -> DataFrame:
    """-> DataFrame(term_id BIGINT, doc_id BIGINT, w FLOAT).

    Decodes the compressed posting blobs back to exploded rows (the shape a
    shuffle join wants), restricted to ``term_ids`` when given: a literal
    list (bucket-pruned, see index/build.scan_term_postings) or a DataFrame
    with a ``term_id`` column (broadcast semi-join — the million-query case
    where the distinct query-term set is itself large). Dequantization
    matches the WAND kernel bit-for-bit (same decode_posting_list).
    ``live_groups`` pins the exact shard-group set to read (compactor's
    decode snapshot) instead of re-loading the manifest.
    ``include_tombstoned=True`` skips the tombstone anti-join and returns
    the raw stored postings — for integrity checks (index/fsck.py) that
    compare decoded lengths against stored df, which counts deleted docs
    until a compaction purges them. Scoring callers must keep the default.
    """
    man = IndexManifest.load(index_dir)
    wb = man.weight_bits
    posts = scan_term_postings(
        spark, index_dir, term_ids, man.n_buckets, live_groups=live_groups,
    ).select("term_id", "postings", "bm_last", "bm_max")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tids_out, docs_out, ws_out = [], [], []
            for r in pdf.itertuples(index=False):
                docs, ws = decode_posting_list(r.postings, r.bm_last,
                                               r.bm_max, wb)
                tids_out.append(np.full(docs.size, r.term_id, dtype=np.int64))
                docs_out.append(docs)
                ws_out.append(ws)
            if not tids_out:
                yield pd.DataFrame({"term_id": pd.Series(dtype="int64"),
                                    "doc_id": pd.Series(dtype="int64"),
                                    "w": pd.Series(dtype="float32")})
                continue
            yield pd.DataFrame({
                "term_id": np.concatenate(tids_out),
                "doc_id": np.concatenate(docs_out),
                "w": np.concatenate(ws_out),
            })

    out = posts.mapInPandas(run, "term_id BIGINT, doc_id BIGINT, w FLOAT")
    # tombstone deletes (index/tombstones.py): excluded with a distributed
    # anti-join — no driver-size bound on the delete set. Because
    # compact_index decodes through here, compaction also purges them.
    from light_splade_spark.index.tombstones import tombstones_df
    tomb = None if include_tombstoned else tombstones_df(spark, index_dir)
    if tomb is not None:
        out = out.join(tomb, "doc_id", "left_anti")
    return out


def query_terms_df(spark: SparkSession, index_dir: str,
                   queries: DataFrame) -> DataFrame:
    """(qid, text) DataFrame -> (qid, term_id, qtf), tokenized with the
    index's pinned analyzer and resolved against the terms dim (inner join
    drops terms absent from the index — they can't contribute to any score).
    For the v1/v2 analyzers tokenization is a fully JVM-side column
    (codegen'd — a billion-query set never routes through Python); a
    wordpiece-v4-pinned index tokenizes through the analyzer's
    Arrow-vectorized pandas UDF instead (greedy vocab matching is not a SQL
    expression — the reference itself tokenizes in a heavy UDF, SURVEY
    §2.8), still batch-parallel and driver-state-free."""
    from light_splade_spark.functions.analyzers import resolve_analyzer

    man = IndexManifest.load(index_dir)
    ana = resolve_analyzer(man.analyzer_version, index_dir)
    qt = (queries.select("qid",
                         F.explode(ana.spark_tokens("text")).alias("term"))
          .groupBy("qid", "term").agg(F.count(F.lit(1)).alias("qtf")))
    terms = read_terms(spark, index_dir).select("term", "term_id")
    return qt.join(terms, "term").select("qid", "term_id", "qtf")


def score_index_join(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = 10,
    threshold: float = 0.0,
) -> DataFrame:
    """-> (qid, rank, doc_id, score), rank-identical to ``wand_topk`` on the
    same index (same float32 impacts, same rounding + tie-break).

    ``queries``: DataFrame(qid BIGINT, text STRING) — arbitrarily large.
    Plan shape at scale: decoded postings shuffle once on term_id; the
    (qid, term_id, qtf) side shuffles on term_id (NOT broadcast — the
    million-query case); Zipf head-term skew on the join key is absorbed by
    AQE skew-join splitting (enabled in session.py). The (qid, doc_id) SUM
    is a partial+final hash agg, the window sees only aggregated rows.
    """
    qt = query_terms_df(spark, index_dir, queries)
    decoded = decode_postings(spark, index_dir, term_ids=qt)
    contrib = qt.join(decoded, "term_id").select(
        "qid", "doc_id",
        (F.col("qtf") * F.col("w").cast("double")).alias("c"))
    scored = (contrib.groupBy("qid", "doc_id")
              .agg(F.round(F.sum("c"), SCORE_DECIMALS).alias("score"))
              .where(F.col("score") >= F.lit(threshold)))
    return rank_hits(scored, top_k)


def score_query_frame(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    *,
    top_k: int,
    threshold: float,
) -> tuple[str, DataFrame]:
    """(qid, text) DataFrame of any size -> (route, (qid, rank, doc_id,
    score)). One bounded action decides the route: ``take`` of
    ``JOIN_ROUTE_THRESHOLD + 1`` rows either proves the frame is big, and
    it then flows UNCOLLECTED into ``score_index_join`` ("join"), or it IS
    the whole batch, which ``wand_topk`` scores ("wand"). The frame is
    never counted, and a small one is read once. Both routes return the
    same ranks (tests/test_join_scorer.py)."""
    from light_splade_spark.index.wand import wand_topk

    head = queries.take(JOIN_ROUTE_THRESHOLD + 1)
    if len(head) > JOIN_ROUTE_THRESHOLD:
        return "join", score_index_join(spark, index_dir,
                                        queries.select("qid", "text"),
                                        top_k=top_k, threshold=threshold)
    return "wand", wand_topk(spark, index_dir,
                             [(int(r["qid"]), r["text"]) for r in head],
                             top_k=top_k, threshold=threshold)
