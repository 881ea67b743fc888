"""Spans around public engine calls, and the Spark event log joined to them.

A ``Spans`` recorder times every call a workload makes. With tracing on it
also keeps each call as a span (id, name, parent, run id, start, end) and
sets a Spark job group named after the span, so every job, stage and task in
the event log joins back to the span that caused it. Spans stay in memory
until the run writes them out at exit.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metrics Spark 4.1 attaches to tasks of Python-UDF operators (values in
# bytes and milliseconds).
PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"


class Spans:
    """Times calls; records them as spans only when ``sc`` is given.

    ``sc`` is the SparkContext of a traced run. Each span sets the job group
    ``<run_id>:<span id>`` for the calls inside it and restores the parent's
    group when it ends, so nested spans attribute jobs to the innermost one.
    """

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.records: list[dict] = []
        self._open: list[dict] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    @contextmanager
    def __call__(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.records) + 1, "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        if self.traced:
            self.records.append(rec)
            self._open.append(rec)
            self.sc.setJobGroup(self.group(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.traced:
                self._open.pop()
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent["name"])
                else:   # jobs outside every span belong to no span
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, rec: dict) -> str:
        return f"{self.run_id}:{rec['id']}"


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(records: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of it its children cover.

    Children of one span run one after another on the single client thread,
    so their intervals do not overlap and the covered part is their sum."""
    child_s: dict[int, float] = defaultdict(float)
    for r in records:
        if r["parent"] is not None:
            child_s[r["parent"]] += duration(r)
    return {r["id"]: duration(r) - child_s[r["id"]] for r in records}


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Job group -> summed job, task and Python-boundary counters.

    Reads the (uncompressed, non-rolling) event log a traced session wrote.
    A stage's tasks are charged to the first job that lists the stage; later
    jobs that list it again (adaptive execution re-uses finished stages) ran
    none of its tasks."""
    group_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    paths = sorted(glob.glob(os.path.join(event_dir, "*")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    group_of_job[ev["Job ID"]] = grp
                    for sid in ev.get("Stage IDs", []):
                        job_of_stage.setdefault(sid, ev["Job ID"])
                    out[grp]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    grp = group_of_job.get(job_of_stage.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    acc = {a.get("Name"): a.get("Update") or 0
                           for a in ev["Task Info"].get("Accumulables", [])}
                    o = out[grp]
                    o["tasks"] += 1
                    o["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["input_mb"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0) / 1e6
                    o["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    o["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
                    o["python_mb_sent"] += float(acc.get(PY_SENT, 0)) / 1e6
                    o["python_run_s"] += float(acc.get(PY_RUN, 0)) / 1e3
    return {g: dict(v) for g, v in out.items()}


def span_counters(spans: Spans, event_dir: str) -> dict[int, dict]:
    """span id -> event-log counters of the jobs that ran inside it."""
    by_group = read_event_log(event_dir)
    return {r["id"]: by_group.get(spans.group(r), {}) for r in spans.records}
