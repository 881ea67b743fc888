"""Engine facade — the reference's user-facing API surface, Spark-native.

Maps 1:1 onto the reference objects a light-splade user touches:

* ``SparseIndexer`` (build/load/save, stats) -> ``Engine.build`` /
  ``Engine.open`` / ``Engine.stats`` (index lives as parquet + manifest,
  replacing the gzip pickle of ``sparse_indexer.py:200-217``).
* ``SparseRetriever.retrieve(queries, target_doc_ids, top_k, threshold,
  return_score)`` (``sparse_retriever.py:43-98``) -> ``Engine.retrieve``:
  same semantics — top_k=0 means all, threshold post-filter, multi-query +
  target_doc_ids rejected exactly like the reference's assertion
  (``sparse_retriever.py:69-72``), deterministic (score DESC, doc_id ASC)
  tie-break.
* ``Evaluator.evaluate`` (``evaluator.py:141-199``) -> ``Engine.evaluate``:
  retrieval at max metric cutoff + Spark-SQL ranking metrics + index stats.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.index.build import build_index, read_postings, read_terms
from light_splade_spark.index.manifest import (
    IndexManifest,
    physical_groups,
    read_lineage,
)
from light_splade_spark.index.wand import wand_topk
from light_splade_spark.operators.metrics import ranking_metrics


class Engine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = IndexManifest.load(index_dir)

    # -- build / open --------------------------------------------------------

    @classmethod
    def build(cls, spark: SparkSession, docs: DataFrame, index_dir: str,
              **kwargs) -> "Engine":
        build_index(spark, docs, index_dir, **kwargs)
        return cls(spark, index_dir)

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "Engine":
        eng = cls(spark, index_dir)
        if eng.manifest.status != "complete":
            raise ValueError(
                f"index at {index_dir} is incomplete "
                f"(status={eng.manifest.status}); resume the build first")
        return eng

    def __len__(self) -> int:
        """Row count, reference ``sparse_indexer.py:170-171``."""
        return self.manifest.n_docs

    def info(self) -> dict:
        """Operational snapshot of the index's LSM state: manifest scalars,
        live posting groups (and any orphan dirs awaiting GC), terms-dim
        pointer, pending tombstone count. Valid on an incomplete index too
        (status says so; live groups are the committed ones)."""
        from light_splade_spark.index.tombstones import load_tombstone_ids

        man = IndexManifest.load(self.index_dir)
        tombs = load_tombstone_ids(self.index_dir)
        return {
            "status": man.status, "n_docs": man.n_docs,
            "analyzer_version": man.analyzer_version,
            "scoring": man.scoring, "weight_bits": man.weight_bits,
            "live_groups": man.live_groups,
            "orphan_groups": [g for g in physical_groups(self.index_dir)
                              if g not in man.live_groups],
            "terms_dir": man.terms_dir,
            "compact_epoch": man.compact_epoch,
            "pending_tombstones": int(tombs.size) if tombs is not None else 0,
        }

    # -- mutate (LSM lifecycle; beyond the append-only reference) ------------

    def delete(self, doc_ids: list[int]) -> int:
        """Tombstone docs (index/tombstones.py): excluded from every query
        route immediately, physically purged by the next ``compact()``.
        Corpus stats stay frozen, same contract as appends."""
        from light_splade_spark.index.tombstones import delete_docs
        return delete_docs(self.spark, self.index_dir, doc_ids)

    def compact(self, gc: bool = True):
        """Fold appended groups + purge tombstones (index/compact.py);
        atomic liveness commit, results preserved (bit-exact at
        weight_bits=32)."""
        from light_splade_spark.index.compact import compact_index
        self.manifest = compact_index(self.spark, self.index_dir, gc=gc)
        return self.manifest

    # -- retrieve ------------------------------------------------------------

    def retrieve(
        self,
        queries: list[tuple[int, str]] | None = None,
        target_doc_ids: list[int] | None = None,
        top_k: int = 10,
        threshold: float = 0.0,
        return_score: bool = True,
        query_weights: list[tuple[int, dict[str, float]]] | None = None,
    ) -> DataFrame:
        """-> (qid, rank, doc_id[, score]).

        Reference semantics (``sparse_retriever.py:43-98``): ``top_k=0``
        returns every doc above threshold; ``target_doc_ids`` restricts
        scoring to a doc subset and is only legal with a single query.
        ``query_weights`` = (qid, {term: weight}) pairs for impact-scored
        retrieval (the encoder seam's query side — the reference's
        query-CSR dot product with model weights). Like the reference it
        has no algorithm option: the kernel chooses (``wand_topk``).
        """
        n_queries = len(queries if queries is not None else query_weights or [])
        if target_doc_ids is not None and n_queries > 1:
            # mirrors the reference's assertion at sparse_retriever.py:69-72
            raise AssertionError(
                "multi-queries with target_doc_ids is not supported")
        out = wand_topk(self.spark, self.index_dir, queries, top_k=top_k,
                        threshold=threshold, target_doc_ids=target_doc_ids,
                        query_weights=query_weights)
        if not return_score:
            out = out.drop("score")
        return out

    def phrase(
        self,
        docs: DataFrame,
        phrases: list[tuple[int, str]],
        top_k: int = 10,
    ) -> DataFrame:
        """-> (pid, rank, doc_id, score): exact token-adjacent phrase
        search (index/phrase.py, beyond the reference — its sparse
        retriever scores bags of terms only). Conjunctive candidates come
        from this index's postings through the per-shard kernel's AND mode
        (not the join route); ``docs`` (the corpus the index was built
        over) supplies text for the adjacency verify stage only."""
        from light_splade_spark.index.phrase import phrase_topk
        return phrase_topk(self.spark, self.index_dir, docs, phrases,
                           top_k=top_k)

    def conjunctive(
        self,
        queries: list[tuple[int, str]],
        top_k: int = 10,
        exclude: str | None = None,
    ) -> DataFrame:
        """-> (qid, rank, doc_id, score): boolean-AND retrieval — BM25
        top-k among documents containing ALL the query's terms
        (index/phrase.py conjunctive stage, no adjacency verify), scored
        by the per-shard kernel's AND mode on retrieve()'s routes. Scores
        are identical to retrieve()'s for the same (query, doc) pairs.
        ``exclude`` adds the NOT arm: docs containing ANY of its analyzed
        terms are banned for every query in the batch."""
        from light_splade_spark.index.phrase import conjunctive_topk
        return conjunctive_topk(self.spark, self.index_dir, queries,
                                top_k=top_k, exclude=exclude)

    def resolve_urls(self, results: DataFrame) -> DataFrame:
        """results columns + ``url``: join retrieval output (which carries
        the dense ids) back to source urls through the ``docid_map``
        parquet that jobs/build_index_job.py persists next to the index
        when it assigns ids. Loud error when the index has no map (ids
        were caller-provided, so the caller owns the mapping). Left join:
        every result row survives; an id absent from the map (never
        possible for a map written by the build that produced the ids)
        would surface as url NULL rather than a dropped hit."""
        mp_dir = os.path.join(self.index_dir, "docid_map")
        if not os.path.isdir(mp_dir):
            raise FileNotFoundError(
                f"{mp_dir} does not exist: this index was built from "
                f"caller-provided doc ids (no docid_map was persisted); "
                f"join your own id mapping instead")
        mp = self.spark.read.parquet(mp_dir).select("doc_id", "url")
        return results.join(mp, "doc_id", "left")

    def fsck(self, sample_terms: int = 64) -> dict:
        """Read-only integrity verification of the on-disk index state
        (index/fsck.py): manifest/liveness/terms/postings referential
        checks plus a sampled decode through the real read path.
        -> {"ok": bool, "findings": [...], "stats": {...}}."""
        from light_splade_spark.index.fsck import fsck_index
        return fsck_index(self.spark, self.index_dir,
                          sample_terms=sample_terms)

    # -- stats / lineage -----------------------------------------------------

    def terms(self) -> DataFrame:
        return read_terms(self.spark, self.index_dir)

    def postings(self) -> DataFrame:
        return read_postings(self.spark, self.index_dir)

    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doc_stats"))

    def stats(self, top_n: int = 20) -> dict:
        """Index statistics, reference ``sparse_indexer.py:173-198``:
        avg nonzero per doc, sparsity vs vocab, top-N terms by df ratio,
        subword-token count — computed from the dims, no postings decode.

        ``num_subword_tokens`` counts the reference's ``##``-prefixed
        wordpiece continuations (``sparse_indexer.py:192``) — real on a
        wordpiece-v4 index (functions/wordpiece.py). The deterministic v1/v2
        analyzers have no ``##`` marker, so for them the tokenizer-internal
        unit counted is the CJK character bigram the v2 analyzer emits
        (0 on a pure-ASCII v1 index, by construction)."""
        from light_splade_spark.functions.analyzers import CJK_RANGE

        n = self.manifest.n_docs
        t = self.terms()
        row = t.agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("df").alias("s"),
            F.count(F.when(
                F.col("term").startswith("##")
                | F.col("term").rlike(f"^[{CJK_RANGE}]"), 1))
            .alias("subword"),
        ).collect()[0]
        vocab, tot, n_subword = row["vocab"], row["s"], row["subword"]
        top = (t.orderBy(F.desc("df"), F.asc("term")).limit(top_n)
               .select("term", F.round(F.col("df") / n, 2).alias("ratio"))
               .collect())
        avg_nnz = tot / n if n else 0.0
        return {
            "num_docs": n,
            "avgdl": self.manifest.avgdl,
            "vocab_size": vocab,
            "avg_nonzero_count": round(avg_nnz, 4),
            "avg_sparsity": round(1.0 - avg_nnz / vocab, 6) if vocab else 0.0,
            "num_subword_tokens": int(n_subword or 0),
            "most_common_tokens": [(r["term"], float(r["ratio"])) for r in top],
        }

    def lineage(self) -> list[dict]:
        return [p for g in read_lineage(self.index_dir) for p in g["partitions"]]

    # -- evaluate ------------------------------------------------------------

    def evaluate(
        self,
        queries: list[tuple[int, str]],
        qrels: DataFrame,  # (qid, doc_id)
        k_values: list[int] = (10,),
    ) -> dict:
        """Reference ``Evaluator.evaluate``: ``retrieve`` at max(k), compute
        MRR/NDCG/MAP/recall/precision per cutoff, merge index stats."""
        max_k = max(k_values)
        res = self.retrieve(queries, top_k=max_k, threshold=0.0)
        m = ranking_metrics(res.select("qid", "rank", "doc_id"), qrels,
                            k_values=list(k_values))
        out: dict = {}
        for r in m.collect():
            k = r["k"]
            out.update({
                f"mrr@{k}": r["mrr"], f"ndcg@{k}": r["ndcg"],
                f"map@{k}": r["ap"], f"recall@{k}": r["recall"],
                f"precision@{k}": r["prec"],
            })
        out.update(self.stats())
        return out
