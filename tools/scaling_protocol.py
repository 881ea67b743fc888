"""Median-of-N alternating scaling protocol — the statistically defensible
measurement of the north rule's N->4N (2 vs 8 cores here) criterion.

Round 2 established two facts this protocol is built on (BENCH/BASELINE.md
§0): (a) single-run efficiencies on this shared-host VM carry ±0.2 of
noise, so no single run can settle a ≥0.8 threshold; (b) engine-free Spark
controls only clear 0.8 when a stage runs ≳40 s — shorter jobs are bound by
Spark's per-job constants at any code quality. Protocol therefore:

* every measurement runs in a FRESH subprocess (no JVM/heap carryover);
* levels ALTERNATE (2, 8, 2, 8, ...) so slow host drift hits both levels
  equally rather than biasing one;
* ≥5 repetitions per level; the reported efficiency uses MEDIANS, with
  min/max disclosed;
* the SAME protocol runs an engine-free JVM shuffle control sized to the
  same duration class, so "the engine fails 0.8" and "nothing on this box
  reaches 0.8" are distinguishable.

Stages measured:
  control     — pure-JVM shuffle (groupBy over xxhash64 keys), no engine code
  control_cpu — pure-JVM sha2 chain, NO shuffle: the box's best case
  control_py  — Arrow/numpy mapInPandas, NO shuffle: the Python-worker class
  build       — full index build at SPARK_GRAFT_SCALE_DOCS docs
  query       — warm 30k-query batch over one shared prebuilt index

Ladder levels default to 2->8 cores; pass `--levels 1,4` for the
unsaturated ladder (at 4 of 32 cores the shared memory bus is not
saturated, which is the closer analogue of adding executor NODES — each
node on a real cluster brings its own memory channels).

Usage:
  python tools/scaling_protocol.py <stage> [--reps 5] [--docs N] [--queries N]
                                   [--levels 1,4] [--control-rows N]
  python tools/scaling_protocol.py one <stage> <cores>   # single subprocess run

Run EXCLUSIVELY (no concurrent jobs — even a pytest run distorts local[8]
times by 50%+). Results append to BENCH/scaling_protocol.jsonl.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_PATH = os.path.join(REPO, "BENCH", "scaling_protocol.jsonl")


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _get_spark(cores: str, app: str):
    """SPARK_GRAFT_LC=1 runs the level as `cores` SEPARATE single-core
    executor JVMs (local-cluster) — each with its own heap/GC/shuffle
    server, the honest sandbox emulation of "N executors vs 4N executors";
    plain local[cores] threads share one JVM and conflate executor scaling
    with intra-JVM heap/GC contention."""
    from light_splade_spark.session import get_spark

    extra = {"spark.sql.shuffle.partitions": "64",
             "spark.sql.execution.arrow.maxRecordsPerBatch": "65536"}
    if os.path.isdir("/dev/shm"):
        d = tempfile.mkdtemp(prefix="lss_proto_", dir="/dev/shm")
        extra["spark.local.dir"] = d
        os.environ.setdefault("SPARK_LOCAL_DIRS", d)
    if os.environ.get("SPARK_GRAFT_LC", "0") == "1":
        mem = os.environ.get("SPARK_GRAFT_LC_MEM_MB", "8192")
        extra["spark.executorEnv.PYTHONPATH"] = REPO
        master = f"local-cluster[{cores},1,{mem}]"
    else:
        master = f"local[{cores}]"
    return get_spark(app_name=app, master=master, extra_conf=extra)


# --- single-run stage bodies (executed in a fresh subprocess) ---------------

def run_control(cores: str) -> dict:
    """Engine-free JVM shuffle control: groupBy over hashed keys, sized by
    SPARK_GRAFT_CONTROL_ROWS (default 60M -> ~40+ s at 2 cores)."""
    from pyspark.sql import functions as F

    n = int(os.environ.get("SPARK_GRAFT_CONTROL_ROWS", "60000000"))
    spark = _get_spark(cores, f"control-{cores}")
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(20_000_000)).alias("k"),
        (F.col("id") % 97).alias("v"))

    def work():
        (df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
         .agg(F.sum("s"), F.sum("c")).collect())

    sec = _timed(work)
    spark.stop()
    return {"sec": round(sec, 2)}


def run_control_cpu(cores: str) -> dict:
    """Best-case engine-free control: embarrassingly-parallel pure-JVM CPU
    work (sha2 chains over a range), NO shuffle, no Python — the most
    scalable job expressible on this box. Whatever efficiency THIS reaches
    is the measured ceiling for any Spark job here."""
    from pyspark.sql import functions as F

    n = int(os.environ.get("SPARK_GRAFT_CPU_ROWS", "40000000"))
    spark = _get_spark(cores, f"controlcpu-{cores}")
    df = spark.range(0, n, 1, 64)
    expr = F.col("id").cast("string")
    for _ in range(4):
        expr = F.sha2(expr, 256)
    sec = _timed(lambda: df.select(
        F.length(expr).alias("l")).agg(F.sum("l")).collect())
    spark.stop()
    return {"sec": round(sec, 2)}


def run_control_py(cores: str) -> dict:
    """Python-worker control: Arrow-batched numpy work (mapInPandas), NO
    shuffle, no engine code — the execution class of the WAND kernel. Its
    measured efficiency is the box ceiling for any Arrow-UDF-bound stage
    (concurrent Python workers share the memory system the same way)."""
    import numpy as _np
    import pandas as _pd

    n = int(os.environ.get("SPARK_GRAFT_PY_ROWS", "64"))
    spark = _get_spark(cores, f"controlpy-{cores}")
    df = spark.range(0, n, 1, 64)

    def work(batches):
        for pdf in batches:
            acc = 0.0
            for _seed in pdf["id"]:
                rng = _np.random.default_rng(int(_seed))
                x = rng.random(2_000_000)
                # scatter-add into a small accumulator: the WAND kernel's
                # memory access pattern (random index, fits-in-L2 target)
                idx = (x * 25000).astype(_np.int64)
                a = _np.zeros(25000)
                _np.add.at(a, idx, x)
                acc += float(a.sum())
            yield _pd.DataFrame({"s": [acc]})

    sec = _timed(lambda: df.mapInPandas(work, "s DOUBLE")
                 .agg({"s": "sum"}).collect())
    spark.stop()
    return {"sec": round(sec, 2)}


def run_build(cores: str) -> dict:
    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index

    n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "1600000"))
    wbits = int(os.environ.get("SPARK_GRAFT_WBITS", "8"))
    spark = _get_spark(cores, f"build-{cores}")
    corpus_path = f"/tmp/lss_scaling_corpus_{n_docs}"
    if not os.path.exists(corpus_path):
        make_corpus_df(spark, n_docs).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    idx = tempfile.mkdtemp(prefix="lss_proto_idx_")
    try:
        sec = _timed(lambda: build_index(
            spark, docs, idx, n_shards=None, n_buckets=16, n_salts=8,
            n_shard_groups=1, run_size=4096, weight_bits=wbits))
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    spark.stop()
    return {"sec": round(sec, 2), "docs_per_sec": round(n_docs / sec, 1)}


def run_query(cores: str) -> dict:
    """Warm batch query over the SHARED prebuilt index (built once by the
    orchestrator): one warm-up batch (steady state of a query service),
    then the measured batch."""
    from light_splade_spark.index.wand import wand_topk

    n_q = int(os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "30000"))
    # warm-up exists to reach the steady state of a query service (JVM
    # codegen, Python workers, terms-dim read) — that state is size-
    # independent, so large ladders cap it at 10k instead of doubling
    # every repetition (disclosed in the output as warmup_queries)
    warm_q = int(os.environ.get("SPARK_GRAFT_WARMUP_QUERIES",
                                str(min(n_q, 10_000))))
    idx = os.environ["SPARK_GRAFT_PROTO_IDX"]
    spark = _get_spark(cores, f"query-{cores}")

    def batch(tag: int, nq: int):
        qs = [(tag * 10 ** 6 + i,
               f"t{(7 * i) % 30000:05d} t{(13 * i) % 30000:05d} "
               f"t{(29 * i) % 30000:05d} t{(41 * i) % 30000:05d}")
              for i in range(nq)]
        wand_topk(spark, idx, qs, top_k=10) \
            .write.format("noop").mode("overwrite").save()

    batch(0, warm_q)
    sec = _timed(lambda: batch(1, n_q))
    spark.stop()
    return {"sec": round(sec, 2), "qps": round(n_q / sec, 1),
            "warmup_queries": warm_q}


STAGES = {"control": run_control, "control_cpu": run_control_cpu,
          "control_py": run_control_py,
          "build": run_build, "query": run_query}


# --- orchestrator ------------------------------------------------------------

def _subprocess_run(stage: str, cores: str, env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "one", stage, cores],
        capture_output=True, text=True, check=True, env={**os.environ, **env})
    return json.loads(out.stdout.strip().splitlines()[-1])


def _ensure_query_index(env: dict) -> str:
    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index

    n_docs = int(env.get("SPARK_GRAFT_SCALE_DOCS",
                         os.environ.get("SPARK_GRAFT_SCALE_DOCS", "800000")))
    wbits = int(os.environ.get("SPARK_GRAFT_WBITS", "8"))
    idx = f"/tmp/lss_proto_qidx_{n_docs}_w{wbits}"
    man_path = os.path.join(idx, "manifest.json")
    ok = False
    if os.path.exists(man_path):
        with open(man_path) as f:
            ok = json.load(f).get("status") == "complete"
    if not ok:
        shutil.rmtree(idx, ignore_errors=True)
        spark = _get_spark("8", "proto-qidx-build")
        corpus_path = f"/tmp/lss_scaling_corpus_{n_docs}"
        if not os.path.exists(corpus_path):
            make_corpus_df(spark, n_docs).write.mode("overwrite") \
                .parquet(corpus_path)
        build_index(spark, spark.read.parquet(corpus_path), idx,
                    n_shards=None, n_buckets=16, n_salts=8, n_shard_groups=1,
                    run_size=4096, weight_bits=wbits)
        spark.stop()
    return idx


def orchestrate(stage: str, reps: int, extra_env: dict,
                levels: tuple[str, str] = ("2", "8")) -> dict:
    """Run `stage` at two parallelism levels (lo, hi), alternating, in fresh
    subprocesses; report median-of-reps efficiency = (med_lo/med_hi)/(hi/lo).

    The default 2->8 ladder shares one memory bus at the hi level; a 1->4
    ladder leaves the hi level unsaturated on this 32-core box and is the
    closer analogue of N->4N *executors* (each executor on a real cluster
    brings its own memory bandwidth — cores on one socket do not).
    """
    lo, hi = levels
    factor = int(hi) / int(lo)
    env = dict(extra_env)
    if stage == "query":
        env["SPARK_GRAFT_PROTO_IDX"] = _ensure_query_index(env)
    runs: dict[str, list[dict]] = {lo: [], hi: []}
    for rep in range(reps):
        for cores in (lo, hi):  # alternate levels every repetition
            r = _subprocess_run(stage, cores, env)
            r["rep"] = rep
            runs[cores].append(r)
            print(json.dumps({"stage": stage, "cores": cores, **r}),
                  flush=True)
    med = {c: statistics.median(x["sec"] for x in runs[c]) for c in runs}
    summary = {
        "stage": stage,
        "reps": reps,
        "levels": [int(lo), int(hi)],
        "protocol": "fresh-process, alternating levels, median-of-reps",
        "env": {k: v for k, v in {**os.environ, **env}.items()
                if k.startswith("SPARK_GRAFT_")},
        f"sec_{lo}": {"median": round(med[lo], 2),
                      "min": round(min(x["sec"] for x in runs[lo]), 2),
                      "max": round(max(x["sec"] for x in runs[lo]), 2)},
        f"sec_{hi}": {"median": round(med[hi], 2),
                      "min": round(min(x["sec"] for x in runs[hi]), 2),
                      "max": round(max(x["sec"] for x in runs[hi]), 2)},
        "efficiency_median": round((med[lo] / med[hi]) / factor, 3),
        "runs": runs,
        "ts": time.time(),
    }
    os.makedirs(os.path.dirname(OUT_PATH), exist_ok=True)
    with open(OUT_PATH, "a") as f:
        f.write(json.dumps(summary) + "\n")
    return summary


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "one":
        print(json.dumps(STAGES[sys.argv[2]](sys.argv[3])))
        return
    stage = sys.argv[1]
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) \
        if "--reps" in sys.argv else 5
    env = {}
    if "--docs" in sys.argv:
        env["SPARK_GRAFT_SCALE_DOCS"] = sys.argv[sys.argv.index("--docs") + 1]
    if "--queries" in sys.argv:
        env["SPARK_GRAFT_SCALE_QUERIES"] = \
            sys.argv[sys.argv.index("--queries") + 1]
    if "--control-rows" in sys.argv:
        env["SPARK_GRAFT_CONTROL_ROWS"] = \
            sys.argv[sys.argv.index("--control-rows") + 1]
    levels = ("2", "8")
    if "--levels" in sys.argv:
        levels = tuple(sys.argv[sys.argv.index("--levels") + 1].split(","))
    summary = orchestrate(stage, reps, env, levels=levels)
    print(json.dumps({k: v for k, v in summary.items() if k != "runs"}))


if __name__ == "__main__":
    main()
