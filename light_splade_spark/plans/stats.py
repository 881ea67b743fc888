"""Corpus statistics + dims — the BM25 inputs and the `terms` dimension.

Re-expresses the reference's index statistics (``sparse_indexer.py:173-198``)
and id-mapping state (``docid2index``/``term2index``, ``sparse_indexer.py:61-89``)
as DataFrames. Dense ids are assigned with a deterministic sort +
zipWithIndex (scales: no single-partition window; two narrow jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def with_dense_id(df: DataFrame, order_cols: list, id_name: str) -> DataFrame:
    """Assign consecutive 0-based ids in the order of ``order_cols``.

    Deterministic and scalable zipWithIndex, Arrow-native: range-partition +
    sort on the key, one lightweight pass to count rows per partition, then a
    mapInPandas pass adds ``offset[pid] + local_index``. No global window
    (single-reducer bottleneck) and no Python-pickled RDD round-trip; works at
    10^9+ rows. Requires ``order_cols`` to be a total order (callers pass a
    unique tie-break column) so the assignment is reproducible.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    ordered = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    ordered = ordered.cache()

    def count_parts(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame({"pid": [pid], "cnt": [n]})

    counts = ordered.mapInPandas(count_parts, "pid INT, cnt BIGINT").collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["pid"]):
        offsets[r["pid"]] = acc
        acc += r["cnt"]
    bc = spark.sparkContext.broadcast(offsets)
    schema = StructType(df.schema.fields + [StructField(id_name, LongType(), False)])

    def attach(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        pos = bc.value.get(pid, 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[id_name] = np.arange(pos, pos + len(pdf), dtype=np.int64)
            pos += len(pdf)
            yield pdf

    return ordered.mapInPandas(attach, schema)


def term_stats(doc_terms_df: DataFrame) -> DataFrame:
    """terms dim: (term, df, cf, term_id) — document + collection frequency.

    df here is COUNT(*) over the already-unique (doc_id, term) rows, i.e.
    document frequency (reference: Counter over per-doc token sets,
    ``sparse_indexer.py:186-196``). term_id ordered by (df DESC, term ASC) so
    head terms get small ids (cache-friendly in the WAND kernel).
    """
    ts = doc_terms_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )
    return with_dense_id(ts, [F.desc("df"), F.asc("term")], "term_id")


def index_stats(doc_terms_df: DataFrame, sample_docs: int = 20000,
                top_n: int = 20) -> dict:
    """Reference index statistics (``sparse_indexer.py:173-198``):
    avg nnz/doc, distinct terms, top-N terms by document-frequency ratio.
    Sampling bound mirrors MAX_DOC_ON_STATS=20000 (``sparse_indexer.py:29``).
    """
    n_docs = doc_terms_df.select("doc_id").distinct().count()
    frac = min(1.0, sample_docs / max(n_docs, 1))
    sampled = (doc_terms_df.select("doc_id").distinct()
               .sample(fraction=frac, seed=42))
    dt = doc_terms_df.join(F.broadcast(sampled), "doc_id")
    n_sampled = sampled.count()
    agg = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nnz"))
    avg_nnz = agg.agg(F.avg("nnz")).collect()[0][0]
    n_terms = dt.select("term").distinct().count()
    top = (dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
           .orderBy(F.desc("df"), F.asc("term")).limit(top_n)
           .withColumn("ratio", F.round(F.col("df") / F.lit(n_sampled), 2))
           .collect())
    return {
        "n_docs_sampled": n_sampled,
        "avg_nonzero_count": float(avg_nnz) if avg_nnz is not None else 0.0,
        "distinct_terms": n_terms,
        "top_terms": [(r["term"], float(r["ratio"])) for r in top],
    }
