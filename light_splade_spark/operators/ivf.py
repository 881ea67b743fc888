"""IVF ANN as a persisted index artifact (build once, query many).

Round-2's ``similarity.ivf_topk`` recomputed the full-corpus centroid
assignment on every call — one corpus-wide Arrow GEMM pass per query batch.
This module gives IVF the same lifecycle as the inverted index
(index/build.py): ``build_ivf`` writes

    <ivf_dir>/
      manifest.json              # n_centroids, mode, dim, n_vectors, version
      centroids/   (parquet)     # cid BIGINT, centroid ARRAY<DOUBLE>
      lists/list_id=<cid>/...    # nid BIGINT, nv ARRAY<FLOAT> — the corpus
                                 #   shuffled ONCE onto its inverted lists

and ``ivf_search`` reads only the probed lists back: ``list_id`` is a
parquet partition column, so non-probed lists are pruned at file-listing
time (asserted in tests/test_ivf_artifact.py). Query-side probing is
driver-side numpy over the (nlist-bounded) centroid table — no corpus scan
of any kind at query time.

Determinism: centroids come from similarity.kmeans_centroids (seeded
hash-ordered sample, fixed Lloyd iterations) or the 'head' mode (first
n_centroids vectors — the DuckDB-mirrorable configuration), pinned in the
manifest.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from light_splade_spark.operators.similarity import (
    SCORE_DECIMALS,
    _probe_lists_udf,
    cosine_col,
    kmeans_centroids,
)
from light_splade_spark.session import local_frame

IVF_FORMAT_VERSION = 1


def build_ivf(
    emb: DataFrame,
    ivf_dir: str,
    n_centroids: int = 64,
    centroids: str = "kmeans",
    kmeans_iters: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build the IVF artifact; returns the manifest dict.

    One corpus pass: the Arrow GEMM assignment (closure-broadcast centroid
    matrix) runs exactly once, and the partitioned write IS the one shuffle
    that co-locates each inverted list — every later query touches only its
    probed ~n_probe/n_centroids fraction of the data.
    """
    spark = emb.sparkSession
    if centroids == "head":
        rows = (emb.select(id_col, vec_col).orderBy(id_col)
                .limit(n_centroids).collect())
        if len(rows) < n_centroids:
            raise ValueError(
                f"build_ivf: corpus has {len(rows)} vectors but "
                f"n_centroids={n_centroids}")
        C = np.asarray([r[1] for r in rows], dtype=np.float64)
        cids = np.asarray([int(r[0]) for r in rows], dtype=np.int64)
    elif centroids == "kmeans":
        C = kmeans_centroids(emb, n_centroids, iters=kmeans_iters,
                             sample_size=sample_size,
                             id_col=id_col, vec_col=vec_col)
        cids = np.arange(C.shape[0], dtype=np.int64)
    else:
        raise ValueError(f"unknown centroids mode {centroids!r}")

    os.makedirs(ivf_dir, exist_ok=True)
    cent_df = spark.createDataFrame(
        [(int(c), row.tolist()) for c, row in zip(cids, C)],
        "cid BIGINT, centroid ARRAY<DOUBLE>")
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(ivf_dir, "centroids"))

    assign1 = _probe_lists_udf(C, cids, 1)
    assigned = emb.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"),
    ).withColumn("list_id", assign1("nv")[0])
    # repartition on list_id before the partitioned write: one shuffle that
    # both balances writers and keeps each list's files contiguous
    (assigned.repartition(min(n_centroids, 64), "list_id")
     .write.mode("overwrite").partitionBy("list_id")
     .parquet(os.path.join(ivf_dir, "lists")))

    n_vectors = spark.read.parquet(os.path.join(ivf_dir, "lists")).count()
    man = {
        "format_version": IVF_FORMAT_VERSION,
        "n_centroids": int(n_centroids),
        "centroids_mode": centroids,
        "kmeans_iters": int(kmeans_iters),
        "dim": int(C.shape[1]),
        "n_vectors": int(n_vectors),
        "created_unix": time.time(),
    }
    tmp = os.path.join(ivf_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(ivf_dir, "manifest.json"))
    return man


def read_ivf_centroids(spark: SparkSession, ivf_dir: str
                       ) -> tuple[np.ndarray, np.ndarray]:
    rows = (spark.read.parquet(os.path.join(ivf_dir, "centroids"))
            .orderBy("cid").collect())
    C = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    cids = np.asarray([int(r["cid"]) for r in rows], dtype=np.int64)
    return C, cids


def probe_lists(C: np.ndarray, cids: np.ndarray, qv: np.ndarray,
                n_probe: int) -> list[list[int]]:
    """Driver-side probe selection (mirrors _probe_lists_udf semantics:
    cosine rounded to 6 decimals, tie-break cid ASC)."""
    # exact mirror of _probe_lists_udf: raw centroid norms, eps'd query norms
    Cnorm = np.linalg.norm(C, axis=1)
    qn = np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    cos = (qv @ C.T) / (qn * Cnorm)
    r = np.round(cos, 6)
    order = np.lexsort((np.broadcast_to(cids, r.shape), -r), axis=1)
    return cids[order[:, :n_probe]].tolist()


def ivf_search(
    spark: SparkSession,
    ivf_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """-> (qid, rank, nid, cos) over the persisted artifact.

    ``queries`` = (qid, vector) pairs (a bounded batch — broadcast).
    Plan shape: the lists scan carries ``list_id IN (probed)`` on the
    partition column (file-level pruning; no corpus-wide compute), then a
    broadcast join against the probe table and an exact cosine re-rank.
    ``exclude_self`` drops nid == qid matches (corpus-internal queries),
    matching similarity.ivf_topk.
    """
    C, cids = read_ivf_centroids(spark, ivf_dir)
    qv = np.asarray([v for _, v in queries], dtype=np.float64)
    if qv.size == 0:
        return local_frame(
            spark, None, "qid BIGINT, rank INT, nid BIGINT, cos DOUBLE")
    probes = probe_lists(C, cids, qv, n_probe)
    q_rows = [(int(qid), list(map(float, vec)), [int(p) for p in ps])
              for (qid, vec), ps in zip(queries, probes)]
    qdf = spark.createDataFrame(
        q_rows, "qid BIGINT, qv ARRAY<DOUBLE>, probes ARRAY<BIGINT>"
    ).select("qid", "qv", F.explode("probes").alias("list_id"))
    all_probed = sorted({int(p) for ps in probes for p in ps})
    lists = (spark.read.parquet(os.path.join(ivf_dir, "lists"))
             .where(F.col("list_id").isin(all_probed)))
    scored = lists.join(F.broadcast(qdf), "list_id")
    if exclude_self:
        scored = scored.where(F.col("qid") != F.col("nid"))
    scored = (scored.select(
        "qid", "nid",
        F.round(cosine_col(F.col("qv"), F.col("nv")), SCORE_DECIMALS)
        .alias("cos"))
        .distinct())
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k).select("qid", "rank", "nid", "cos"))
