"""Input-parallelism guard for per-document compute stages.

The failure mode (optimization guide §2.5, "input skew"): a corpus that
arrives as one unsplittable scan split — a single parquet row group, one
gzip member, a small file under ``spark.sql.files.maxPartitionBytes`` —
runs EVERY narrow stage up to the first shuffle on that one task, leaving
the rest of the cluster idle. For this engine that single-task span is
exactly the expensive part: tokenization, shingling, per-doc metric
arrays, hash signatures.

``spread_input`` applies the standard remedy (repartition right after the
read) *conditionally*: only when the physical scan yields fewer partitions
than the session's default parallelism. A well-partitioned input — the
100 TB case, thousands of splits — is returned unchanged, so no shuffle is
added at scale. The repartition is an explicit-width round-robin exchange:

* explicit ``n`` so AQE's partition coalescing (which targets
  ``advisoryPartitionSizeInBytes`` and would fold a few MB straight back
  into one partition) leaves it alone;
* round-robin (no key), which is deterministic under Spark's
  sort-before-repartition default (SPARK-23207) — rerun tasks reproduce
  the same row placement, and no downstream result in this engine depends
  on row order anyway (every consumer aggregates or sorts on explicit
  keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its
    current plan yields fewer partitions; identity otherwise.

    The partition probe (``df.rdd.getNumPartitions()``) plans the query but
    executes nothing for the scan-shaped inputs this guards — driver-side
    milliseconds. On a plan that already holds an exchange the probe would
    run the stages below it (AQE materializes them to plan the rest), so
    such an input is returned unchanged without probing: its width is the
    shuffle's business.
    """
    sc = df.sparkSession.sparkContext
    target = int(min_parts or sc.defaultParallelism)
    if target <= 1:
        return df
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans; fail open
        return df
    return df.repartition(target) if n < target else df
