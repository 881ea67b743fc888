"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every config here is
also the right default for a 1000-executor deployment except master/memory,
which callers override via spark-submit.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Defaults chosen for the sandbox (single JVM, 32 threads, 128 GiB). On a real
# cluster these come from spark-submit; nothing below hard-codes local paths.
_DEFAULTS = {
    # AQE: runtime coalescing + skew-join splitting — load-bearing at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-optimize (coalesce/skew-split) INSIDE cached plans too:
    # default false pins every .cache()'d subplan (e.g. the scoring paths'
    # doc_terms cache) at the static shuffle width — dozens of near-empty
    # tasks per stage on small inputs, and no skew handling at scale
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Shuffle width sized to local cores; a cluster run sets this to
    # ~2-3x total executor cores (or relies on AQE initialPartitionNum).
    "spark.sql.shuffle.partitions": "32",
    # Arrow transfer for every pandas UDF (VByte pack, WAND kernel).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # Keep parquet scans splittable at ~128 MiB — the 100 TB default.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # shuffle/spill on tmpfs when available: the sandbox's /tmp is disk-backed
    # (~700 MB/s); a real cluster sets this per-node via spark-env
    "spark.local.dir": (
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"
    ),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(
    app_name: str = "light_splade_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same entry point runs under spark-submit on a real cluster (where master is
    supplied externally and this arg stays None *after* a session exists).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, pdf: pd.DataFrame | None,
                schema: str) -> DataFrame:
    """Driver-side pandas frame (None: empty) -> DataFrame with DDL
    ``schema`` (same column names) via Arrow: a ``LocalTableScan`` that runs
    no Spark job, even when empty. ``createDataFrame`` on a list or an EMPTY
    pandas frame runs a pickled Python-RDD job instead."""
    import pyarrow as pa

    struct = StructType.fromDDL(schema)
    if pdf is None:
        pdf = pd.DataFrame(columns=struct.fieldNames())
    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), struct)
