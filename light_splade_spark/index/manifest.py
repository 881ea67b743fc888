"""Index manifest: lineage + metrics per partition, checkpoint resume state.

The reference persists its whole index as one gzip pickle
(``sparse_indexer.py:200-217``) with no resume. At 10^12 docs the index build
is a multi-hour job; the north rule requires per-partition lineage + metrics
and checkpoint resume. Design: the index lives in a directory

    <index_dir>/
      manifest.json                 # params, analyzer version, scalars, status
      terms/        (parquet)       # term, term_id, df, cf, idf
      doc_stats/    (parquet)       # doc_id, dl
      postings/shard_group=G/...    # bucket-partitioned parquet per group
      _lineage/group=G.json         # per-shard-group lineage + metrics rows

Shard groups are the resume unit and the read unit: a group becomes visible
only when its name is appended to ``live_groups``, after its parquet and
lineage are written. ``resume=True`` skips the live groups, so a killed build
continues where it stopped and produces a byte-identical index (tested in
tests/test_index_build), and until then readers see exactly the committed
groups, never a half-written one.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


class CorruptIndexError(Exception):
    """The on-disk index state is unreadable or structurally stale: manifest
    JSON undecodable, or its fields no longer match this engine's
    IndexManifest schema (an old-format cache directory). Callers that keep
    a rebuildable index cache catch exactly this (plus OSError for
    missing/partial files) — never broad builtin exception types, which
    would silently mask genuine kernel/validation bugs behind a rebuild."""


@dataclass
class IndexManifest:
    analyzer_version: str
    k1: float
    b: float
    n_docs: int
    avgdl: float
    n_shards: int
    n_buckets: int
    run_size: int
    block_size: int
    n_shard_groups: int
    n_salts: int = 8
    weight_bits: int = 32
    # "bm25": impacts = idf * saturated tf; "impact": impacts are encoder
    # weights passed via build_index(weights_df=...) (SPLADE-style scoring)
    scoring: str = "bm25"
    status: str = "building"
    created_unix: float = 0.0
    # LSM liveness (index/compact.py): the shard_group partition values
    # readers may see. Appended to as each build group commits and by
    # append_batch; replacing it is the compactor's atomic commit.
    live_groups: list[str] = field(default_factory=list)
    compact_epoch: int = 0
    # groups a compaction has folded into its compact group (cumulative,
    # capped). A foreachBatch RETRY of an append that registered and then
    # crashed must not re-register a group a concurrent compaction already
    # absorbed — that would double every doc's postings (live in both the
    # compact group and the resurrected append group). append_batch checks
    # this set before writing (early exit) and again before registering.
    retired_groups: list[str] = field(default_factory=list)
    # terms-dim directory name (relative to index_dir). Compaction rewrites
    # the append-accumulated small files into terms_v<epoch> and flips this
    # pointer in the same atomic manifest save as live_groups.
    terms_dir: str = "terms"
    # tokenizer backend the build resolved ON THE DRIVER ("py" | "hf";
    # None for non-wordpiece analyzers / legacy manifests). Recorded so the
    # index declares which implementation produced its token stream; the
    # driver also asserts hf/py parity at build time (functions/wordpiece).
    wordpiece_backend: str | None = None


    def save(self, index_dir: str) -> None:
        tmp = os.path.join(index_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(index_dir, "manifest.json"))

    @classmethod
    def load(cls, index_dir: str) -> "IndexManifest":
        with open(os.path.join(index_dir, "manifest.json")) as f:
            try:
                payload = json.load(f)
            except json.JSONDecodeError as e:
                raise CorruptIndexError(
                    f"manifest.json in {index_dir} is not valid JSON: {e}"
                ) from e
        try:
            return cls(**payload)
        except TypeError as e:
            # field mismatch = manifest written by a different engine version
            raise CorruptIndexError(
                f"manifest.json in {index_dir} does not match this engine's "
                f"manifest schema ({e}); rebuild the index") from e


def group_dir(index_dir: str, name: str) -> str:
    """Directory of the posting group ``name`` (a shard_group partition)."""
    return os.path.join(index_dir, "postings", f"shard_group={name}")


def physical_groups(index_dir: str) -> list[str]:
    """Names of every posting group directory on disk, live or not."""
    pdir = os.path.join(index_dir, "postings")
    if not os.path.isdir(pdir):
        return []
    return sorted(d.split("=", 1)[1] for d in os.listdir(pdir)
                  if d.startswith("shard_group="))


def write_lineage(index_dir: str, group: str, rows: list[dict]) -> None:
    """One lineage/metrics record per (shard, bucket) partition in the group:
    posting rows, postings bytes, docs covered, max df, wall seconds."""
    d = os.path.join(index_dir, "_lineage")
    os.makedirs(d, exist_ok=True)
    payload = {"group": group, "written_unix": time.time(), "partitions": rows}
    tmp = os.path.join(d, f"group={group}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(d, f"group={group}.json"))


def read_lineage(index_dir: str) -> list[dict]:
    d = os.path.join(index_dir, "_lineage")
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out
