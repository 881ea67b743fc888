"""Per-layer metrics of a traced run, named ``<module>.<measure>``.

Values come from three places: the spans of the engine calls (median self
time per call), the Spark event log joined to those spans (jobs, task time,
shuffle, spill and Python-boundary counters, per call), and index facts the
workload read outside the timed calls (``Run.layer``). A layer the workload
does not run reads 0. README.md maps each metric to the end-to-end metric
and workload it should move.
"""

from __future__ import annotations

from collections import defaultdict

from tracing import duration, self_times
from workloads import CURATE_OPS, median

UNITS = {
    "session.start_s": "s",
    "analyzers.tokenize_s": "s",
    "analyzers.tokens": "count",
    "build.dims_s": "s",
    "build.index_s": "s",
    "build.jobs": "count",
    "build.task_s": "s",
    "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB",
    "build.python_mb_sent": "MB",
    "build.python_run_s": "s",
    "build.partition_skew": "ratio",
    "vbyte.bytes_per_posting": "B",
    "vbyte.decode_mpostings_per_s": "M/s",
    "wand.plan_ms": "ms",
    "wand.point_p95_ms": "ms",
    "wand.batch_jobs": "count",
    "wand.batch_input_mb": "MB",
    "wand.batch_task_s": "s",
    "wand.batch_python_mb_sent": "MB",
    "wand.batch_python_run_s": "s",
    "phrase.conjunctive_s": "s",
    "phrase.jobs": "count",
    "phrase.shuffle_mb": "MB",
    "incremental.append_s": "s",
    "incremental.append_shuffle_mb": "MB",
    "incremental.append_python_mb_sent": "MB",
    "tombstones.delete_s": "s",
    "tombstones.pending": "count",
    "compact.compact_s": "s",
    "compact.rewritten_mb": "MB",
    "compact.shuffle_mb": "MB",
    "compact.python_mb_sent": "MB",
    "manifest.live_groups": "count",
    "manifest.posting_files": "count",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.minhash_shuffle_mb": "MB",
    "dedup.simhash_s": "s",
    "dedup.jaccard_small_s": "s",
    "text_quality.quality_s": "s",
    "text_quality.lang_id_s": "s",
    "partitioning.extra_jobs": "count",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.child_coverage": "ratio",
}


def per_layer(run, workload: str,
              counters: dict[int, dict]) -> dict[str, float]:
    records = run.spans.records
    by_name: dict[str, list[dict]] = defaultdict(list)
    for r in records:
        by_name[r["name"]].append(r)
    own = self_times(records)

    def secs(name: str) -> float:
        rs = by_name[name]
        return median([own[r["id"]] for r in rs]) if rs else 0.0

    def ev(name: str, key: str) -> float:
        rs = by_name[name]
        return (sum(counters[r["id"]].get(key, 0.0) for r in rs) / len(rs)
                if rs else 0.0)

    passes = by_name[f"{workload}.pass"]
    children: dict[int, float] = defaultdict(float)
    for r in records:
        children[r["parent"]] += duration(r)
    op_spans = [r for name in CURATE_OPS for r in by_name[name]]
    m = {
        "session.start_s": run.session_s,
        "analyzers.tokenize_s": secs("analyzers.doc_terms"),
        "build.dims_s": secs("build.build_dims"),
        "build.index_s": secs("build.build_index"),
        "build.jobs": ev("build.build_index", "jobs"),
        "build.task_s": ev("build.build_index", "task_s"),
        "build.shuffle_write_mb": ev("build.build_index", "shuffle_write_mb"),
        "build.spill_mb": ev("build.build_index", "spill_mb"),
        "build.python_mb_sent": ev("build.build_index", "python_mb_sent"),
        "build.python_run_s": ev("build.build_index", "python_run_s"),
        "wand.plan_ms": 1e3 * secs("wand.build_query_plan"),
        "wand.batch_jobs": ev("wand.batch", "jobs"),
        "wand.batch_input_mb": ev("wand.batch", "input_mb"),
        "wand.batch_task_s": ev("wand.batch", "task_s"),
        "wand.batch_python_mb_sent": ev("wand.batch", "python_mb_sent"),
        "wand.batch_python_run_s": ev("wand.batch", "python_run_s"),
        "phrase.conjunctive_s": secs("phrase.conjunctive_topk"),
        "phrase.jobs": ev("phrase.conjunctive_topk", "jobs"),
        "phrase.shuffle_mb": ev("phrase.conjunctive_topk", "shuffle_write_mb"),
        "incremental.append_s": secs("incremental.append_batch"),
        "incremental.append_shuffle_mb": ev("incremental.append_batch",
                                            "shuffle_write_mb"),
        "incremental.append_python_mb_sent": ev("incremental.append_batch",
                                                "python_mb_sent"),
        "tombstones.delete_s": secs("tombstones.delete_docs"),
        "compact.compact_s": secs("compact.compact_index"),
        "compact.shuffle_mb": ev("compact.compact_index", "shuffle_write_mb"),
        "compact.python_mb_sent": ev("compact.compact_index",
                                     "python_mb_sent"),
        "dedup.exact_s": secs("dedup.exact_dedup"),
        "dedup.minhash_s": secs("dedup.minhash_lsh_pairs"),
        "dedup.minhash_shuffle_mb": ev("dedup.minhash_lsh_pairs",
                                       "shuffle_write_mb"),
        "dedup.simhash_s": secs("dedup.simhash"),
        "dedup.jaccard_small_s": secs("dedup.ngram_jaccard_pairs"),
        "text_quality.quality_s": secs("text_quality.all_quality_metrics"),
        "text_quality.lang_id_s": secs("text_quality.lang_id"),
        # each curation op is one action; jobs beyond it come from planning
        # probes and adaptive stages, summed over one call of each op
        "partitioning.extra_jobs": sum(
            counters[r["id"]].get("jobs", 0.0) - 1 for r in op_spans),
        "trace.pass_s": median(run.samples["pass"]),
        "trace.pass_cpu_s": median(run.cpu_samples["pass"]),
        "trace.child_coverage": median(
            [children[r["id"]] / duration(r) for r in passes]),
    }
    for name in UNITS:
        m.setdefault(name, float(run.layer.get(name, 0.0)))
    return m
