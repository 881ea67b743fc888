"""Run one seeded benchmark workload against light_splade_spark.

    python3 perfbench/run.py --workload read --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts a ``local[4]`` Spark session with
the library's session defaults (driver heap, shuffle width and scratch pinned
per run), makes the workload's inputs from ``--seed``, repeats the
workload's pass for ``--seconds`` seconds (at least once), checks the
outputs, and prints as its last line one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (units in BENCHMARK.json);
``--trace 1`` repeats the same workload with spans and the Spark event log
on and reports the per-layer metrics instead. The line before it is the
run's environment record (``# env {...}``): host, versions, effective Spark
conf, seed, input sizes, source hash and a host-speed canary. Both, and the
spans of a traced run, are also written to ``.perfbench/out/``. All scratch
state lives in ``.perfbench/run-*`` and is removed at exit.

Exits non-zero, without a result line, if the engine cannot be imported or
an engine call raises; exits non-zero after the result line when an output
check fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

import proctree

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
DRIVER_MEMORY = "3g"     # inputs are small; leaves room on a 15 GB host
DEADLINE_S = 170         # a run must end within 180 s
# The end-to-end metrics the result line reports. Work is counted in CPU
# seconds of the whole process tree: on a shared host, time the hypervisor
# steals spread the read workload's wall-clock pass time, throughput and
# latency by 0.16-0.33 (quartile distance over median, ten seeds) against
# 0.08-0.18 for CPU time. Wall-clock figures are in the run record beside
# them.
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "throughput_per_cpu_s": "1/s",
             "latency_cpu_p50_ms": "ms", "peak_rss_mb": "MB"}


class RssSampler:
    """Peak proportional resident memory of this process tree (driver JVM
    and Python workers), sampled every 0.2 s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, proctree.pss_mb())
            if self._stop.wait(self.interval):
                return


def canary_s() -> float:
    """Engine-free host-speed canary: median of 3 timings of a numpy sort
    plus a pure-Python loop, seconds (lower is a faster host)."""
    import numpy as np

    xs = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(xs)
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "light_splade_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD commit when run from a git checkout, read without running git."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def environment(spark, args, run, canary: float) -> dict:
    import pandas
    import pyarrow
    import pyspark

    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.sql.", "spark.driver.memory",
                             "spark.master", "spark.default", "spark.local",
                             "spark.eventLog.enabled"))}
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "spark_conf": conf,
            "inputs": run.inputs, "passes": len(run.samples.get("pass", [])),
            "git_commit": git_commit(), "engine_source": source_hash(),
            "canary_s": canary, "checks": run.checks}


def start_spark(work: str, trace: bool):
    """``local[4]`` session with the library defaults, scratch in ``work``."""
    from light_splade_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.pop("SPARK_GRAFT_BUILD_TRACE", None)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files outside the run dir, from spark-submit's launcher
    # JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the library sizes shuffle width to local cores (32); same rule
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for _ in range(100):
        if not proctree.descendants():
            return
        time.sleep(0.1)


def end_to_end(run, headline: dict, peak_rss_mb: float) -> dict:
    """Every end-to-end figure of a run, medians over its samples; the
    result line reports those E2E_UNITS names."""
    med = statistics.median
    call, items = headline["throughput"]
    # one latency sample per operation: the summed calls it is made of
    lat = [sum(xs) for xs in zip(*(run.samples[c]
                                   for c in headline["latency"]))]
    lat_cpu = [sum(xs) for xs in zip(*(run.cpu_samples[c]
                                       for c in headline["latency"]))]
    return {"setup_s": run.setup_s,
            "pass_s": med(run.samples["pass"]),
            "pass_cpu_s": med(run.cpu_samples["pass"]),
            "throughput_per_s": items / med(run.samples[call]),
            "throughput_per_cpu_s": items / med(run.cpu_samples[call]),
            "latency_p50_ms": 1e3 * med(lat),
            "latency_cpu_p50_ms": 1e3 * med(lat_cpu),
            "peak_rss_mb": peak_rss_mb}


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import light_splade_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(143))
    signal.alarm(DEADLINE_S)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "run-" + run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        canary = canary_s()   # before Spark starts, so nothing else runs
        with RssSampler() as rss:
            spark = start_spark(work, bool(args.trace))
            spans = tracing.Spans(run_id, spark.sparkContext
                                  if args.trace else None)
            run = workloads.Run(spark, spans, work, args.seed, args.seconds)
            run.session_s = time.perf_counter() - T_START
            headline = workloads.WORKLOADS[args.workload](run)
            env = environment(spark, args, run, canary)
        stop_spark(spark)
        spark = None
        e2e = end_to_end(run, headline, rss.peak_mb)
        if args.trace:
            counters = tracing.span_counters(
                spans, os.path.join(work, "events"))
            values = layers.per_layer(run, args.workload, counters)
            units = layers.UNITS
        else:
            values, units = e2e, E2E_UNITS
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in units.items()}
        out = os.path.join(base, "out")
        os.makedirs(out, exist_ok=True)
        record = {"env": env, "metrics": metrics, "end_to_end": e2e,
                  "samples": run.samples, "cpu_samples": run.cpu_samples,
                  "setup_steps": run.setup_steps, "spans": spans.records,
                  "span_counters": counters if args.trace else {}}
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}"
                               f"-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
    ok = run.failed == 0 and all(run.checks.values())
    print("# env " + json.dumps(env, sort_keys=True))
    print(json.dumps({"correct": ok, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
