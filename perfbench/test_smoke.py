"""Smoke test of the benchmark: every workload, one second, both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Each run is a real ``local[4]`` Spark run of about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "out",
                           f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        record = json.load(f)
    return result, record


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def runs(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def _check_metrics(result: dict, specs: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_end_to_end_metrics_print_with_units(runs):
    _, (result, _), _ = runs
    _check_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_per_layer_metrics_print_with_units(runs):
    _, _, (result, _) = runs
    _check_metrics(result, SPEC["per_layer"])


def test_spans_nest(runs):
    workload, _, (_, record) = runs
    spans = {s["id"]: s for s in record["spans"]}
    assert spans and len({s["run"] for s in spans.values()}) == 1
    children: dict = {}
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
        children.setdefault(s["parent"], []).append(s)
    for sibs in children.values():
        sibs.sort(key=lambda s: s["start"])
        for a, b in zip(sibs, sibs[1:]):
            assert a["end"] <= b["start"]
    passes = [s for s in spans.values() if s["name"] == f"{workload}.pass"]
    assert passes and all(s["parent"] is None for s in passes)
    # every job of the pass ran inside some call's span
    for s in passes:
        assert not record["span_counters"].get(str(s["id"]), {}).get("jobs")


def test_pass_span_covered_by_calls_and_overhead(runs):
    workload, (untraced, _), (traced, _) = runs
    coverage = traced["metrics"]["trace.child_coverage"]["value"]
    assert coverage > 0.9
    overhead = (traced["metrics"]["trace.pass_cpu_s"]["value"]
                - untraced["metrics"]["pass_cpu_s"]["value"])
    print(f"{workload}: tracing overhead {overhead:+.2f} CPU s per pass, "
          f"child coverage {coverage:.3f}")
