"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

`--scaling` mode additionally runs index build + batch query at local[2] vs
local[8] (N vs 4N cores; this VM's 32 vCPUs only scale ~2.3x past 8 procs —
see BENCH/BASELINE.md) on identical input with a FIXED shuffle-partition
count, each level in a fresh process, and reports throughput scaling
efficiency — the sandbox stand-in for the north rule's N vs 4N executors.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def _timed_median(fn, reps: int):
    """Median of ``reps`` timings of ``fn`` within one process — used to pin
    the queries whose across-draw spread exceeded the round-over-round
    delta (VERDICT r4 item 4: bm25_sql, simhash), so per-query medians are
    interpretable against host noise. ``fn`` must rebuild its DataFrame on
    every call (Spark 4 caches same-instance results)."""
    ts = sorted(_timed(fn)[0] for _ in range(reps))
    return ts[len(ts) // 2], ts


def run_suite(master: str, shuffle_partitions: int = 32) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
    from light_splade_spark.index.build import build_index, read_postings
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.operators import dedup, similarity
    from light_splade_spark.plans import bm25_sql
    from light_splade_spark.session import get_spark

    spark = get_spark(app_name=f"lss-bench-{master}", master=master,
                      extra_conf={
                          "spark.sql.shuffle.partitions": str(shuffle_partitions)})
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_docs = docs.count()
    q: dict[str, float] = {}
    extras: dict = {"n_docs": n_docs}

    idx_dir = tempfile.mkdtemp(prefix="lss_bench_idx_")
    try:
        q["index_build"], _ = _timed(lambda: build_index(
            spark, docs, idx_dir, n_shards=None, n_buckets=16, n_salts=8,
            n_shard_groups=1, run_size=4096))
        extras["index_build_docs_per_sec"] = round(n_docs / q["index_build"], 1)
        pb = read_postings(spark, idx_dir).agg(
            F.sum(F.length("postings")).alias("b"),
            F.sum("df").alias("p")).collect()[0]
        extras["postings_bytes_per_posting"] = round(pb["b"] / pb["p"], 3)
        extras["raw_bytes_per_posting"] = 12.0  # int64 doc_id + float32 weight

        # batch query: the reference query set, per-query latency measured as
        # one batch (amortized) + loop for p50/p95
        q["wand_batch"], _ = _timed(lambda: _noop(
            wand_topk(spark, idx_dir, DOCUMENTS_QUERY_SET, top_k=10)))
        # one warm-up single query before the latency loop: the batch above
        # warms the DISTRIBUTED path; single queries take the driver-local
        # path, whose one-time costs (pyarrow dataset machinery, pandas->
        # Spark conversion init) belong to service startup, not to p50/p95
        # — with only 7 samples the p95 IS the max, so an unwarmed first
        # call would report startup, not steady-state latency
        _noop(wand_topk(spark, idx_dir, DOCUMENTS_QUERY_SET[:1], top_k=10))
        # 3 passes x 8 queries = 24 samples: with a single pass the p95 of
        # 7 samples IS the max, so any one-off (GC pause, episodic host
        # stall) reports as the tail; 24 samples put p95 at the 22nd
        lat = []
        for _ in range(3):
            for qid, text in DOCUMENTS_QUERY_SET:
                t, _ = _timed(lambda qq=[(qid, text)]: _noop(
                    wand_topk(spark, idx_dir, qq, top_k=10)))
                lat.append(t)
        lat.sort()
        extras["query_p50_sec"] = round(lat[len(lat) // 2], 3)
        extras["query_p95_sec"] = round(lat[min(len(lat) - 1, int(len(lat) * 0.95))], 3)
        extras["query_qps_batch"] = round(len(DOCUMENTS_QUERY_SET) / q["wand_batch"], 2)
        # round-6 serving modes over the same index: boolean-AND retrieval
        from light_splade_spark.index.phrase import conjunctive_topk
        q["conjunctive"], _ = _timed(lambda: _noop(
            conjunctive_topk(spark, idx_dir, DOCUMENTS_QUERY_SET, top_k=10)))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # the two noisiest suite queries get in-draw median-of-5 (their r3<->r4
    # across-draw spread covered the round delta; the medians pin them)
    q["bm25_sql"], bm_reps = _timed_median(lambda: _noop(
        bm25_sql.bm25_topk_docs(docs, DOCUMENTS_QUERY_SET, top_k=10)), 5)
    q["minhash_pairs"], _ = _timed(lambda: _noop(
        dedup.minhash_lsh_pairs(docs, k=16, band_size=4, shingle_n=3)))
    q["simhash"], sh_reps = _timed_median(
        lambda: _noop(dedup.simhash(docs)), 5)
    extras["bm25_sql_reps_sec"] = [round(t, 3) for t in bm_reps]
    extras["simhash_reps_sec"] = [round(t, 3) for t in sh_reps]
    q["jaccard_200"], _ = _timed(lambda: _noop(dedup.ngram_jaccard_pairs(
        docs.where(F.col("doc_id") < 200), n=1, threshold=0.8)))
    q["exact_dedup"], _ = _timed(lambda: _noop(dedup.exact_dedup(docs)))
    q["text_quality"], _ = _timed(lambda: _noop(
        entry.q_quality_score(spark, SF_DIR)))
    # the lang_id OPERATOR (map-only), not entry.q_lang_id — the gate query
    # additionally joins fingerprint + doc-length columns to fit the
    # 50-row driver gate, which is consolidation overhead, not operator cost
    from light_splade_spark.functions import text_quality as _tq
    q["lang_id"], _ = _timed(lambda: _noop(_tq.lang_id(docs)))
    q["cosine_topk"], _ = _timed(lambda: _noop(
        similarity.brute_force_topk(emb, list(range(10)), k=5)))
    q["ann_lsh"], _ = _timed(lambda: _noop(
        similarity.ann_lsh_topk(emb, list(range(10)), k=5, n_planes=6)))
    q["ivf"], _ = _timed(lambda: _noop(
        similarity.ivf_topk(emb, list(range(10)), k=5)))
    # ANN QUALITY next to ANN latency: recall@5 of each approximate path
    # against the exact brute-force neighbors on the same 10 queries
    # (latency without recall is meaningless for ANN)
    exact = {(r["qid"], r["nid"]) for r in
             similarity.brute_force_topk(emb, list(range(10)), k=5).collect()}
    for name, fn in (("ann_lsh", lambda: similarity.ann_lsh_topk(
            emb, list(range(10)), k=5, n_planes=6)),
            ("ann_lsh_mp2", lambda: similarity.ann_lsh_topk(
                emb, list(range(10)), k=5, n_planes=6, hamming_probes=2)),
            ("ivf", lambda: similarity.ivf_topk(emb, list(range(10)), k=5))):
        got = {(r["qid"], r["nid"]) for r in fn().collect()}
        extras[f"{name}_recall_at_5"] = round(len(got & exact) / len(exact), 3)
    q["ranking_metrics"], _ = _timed(lambda: _noop(
        entry.q_ranking_metrics(spark, SF_DIR)))
    # retrieval + snippet presentation end-to-end (operators/snippets.py).
    # The results pipeline is persisted per the operator's contract: its
    # row-preserving left join references results twice, and an
    # unpersisted subplan would run the retrieval TWICE — overstating the
    # snippet layer's cost. The persist is lazy, so the single retrieval
    # still executes inside the timed region (true e2e).
    from light_splade_spark.operators.snippets import snippets as _snips
    _res = bm25_sql.bm25_topk_docs(docs, DOCUMENTS_QUERY_SET,
                                   top_k=10).persist()
    q["snippets_e2e"], _ = _timed(lambda: _noop(_snips(
        _res, docs, DOCUMENTS_QUERY_SET)))
    _res.unpersist()

    # analyzer throughput extras: the JVM-codegen v1 tokenizer vs the
    # wordpiece-v4 Arrow UDF (vocab greedy matching is the one Python hot
    # path; this quantifies the UDF tax the docs discuss)
    from light_splade_spark.functions.analyzers import doc_tokens
    from light_splade_spark.functions.wordpiece import (
        SINGLE_CHAR_VOCAB,
        make_wordpiece_analyzer,
    )
    wp = make_wordpiece_analyzer(SINGLE_CHAR_VOCAB)
    sample = docs.limit(2000)
    n_sample = sample.count()
    t_v1, _ = _timed(lambda: _noop(
        doc_tokens(sample).select("doc_id", "dl")))
    t_wp, _ = _timed(lambda: _noop(
        doc_tokens(sample, analyzer=wp).select("doc_id", "dl")))
    extras["tokenize_v1_docs_per_sec"] = round(n_sample / t_v1, 1)
    extras["tokenize_wp4_docs_per_sec"] = round(n_sample / t_wp, 1)
    # the Spark-path numbers above are fixed-overhead-bound at a 2000-doc
    # sample (job scheduling + Arrow round trip dwarf the work); this is
    # the actual per-core kernel rate the build pays at scale — measured
    # driver-side on the same texts, warm tables
    texts = [r["text"] for r in sample.select("text").collect()]
    wp.py_tokenize("warmup")
    t_k, _ = _timed(lambda: [wp.py_tokenize(t) for t in texts])
    extras["tokenize_wp4_kernel_docs_per_sec"] = round(len(texts) / t_k, 1)
    # optional Rust fast path (public HF `tokenizers`): measured only when
    # the package is installed; the backend flag reaches Arrow workers via
    # the driver env (inherited at session start in local mode)
    from light_splade_spark.functions.wordpiece import hf_backend_available
    extras["wp4_backend"] = ("hf" if hf_backend_available() and
                             os.environ.get("LSS_WORDPIECE_BACKEND", "auto")
                             != "py" else "py")

    # html -> text extraction throughput (the input_hint invariant's cost):
    # Arrow-vectorized pandas UDF over the synthetic Common-Crawl-shaped
    # web_pages fixture (byte-identity is pytest-asserted; this measures it)
    from light_splade_spark.fixtures import make_web_pages
    from light_splade_spark.functions.analyzers import extract_text_udf
    wpages = make_web_pages(spark, n_docs=5000, vocab_size=5000,
                            n_partitions=32).select("url", "html")
    wpages.persist().count()  # isolate extraction from fixture synthesis
    t_ex, _ = _timed(lambda: _noop(
        wpages.select(F.length(extract_text_udf("html")).alias("n"))))
    extras["extract_html_docs_per_sec"] = round(5000 / t_ex, 1)
    wpages.unpersist()

    spark.stop()
    return {"queries": {k: round(v, 3) for k, v in q.items()}, "extras": extras}


SCALING_QUERIES = [
    (0, "t00001"),                       # single head term
    (1, "t00001 t00002 t00003"),         # head-only
    (2, "t19999 t25000 t28500"),         # tail-only
    (3, "t00004 t00380 t07777"),
    (4, "t00002 t00002 t01500"),         # duplicate term
    (5, "t00010 t00500 t05000 t15000"),
    (6, "zzz99999 qqq88888"),            # absent
    (7, "t00001 t00042 t00420 t04200 t24000"),
]


def run_scaling(master: str, n_docs: int, shuffle_partitions: int = 64) -> dict:
    """Index build + batch query on an identical deterministic synthetic
    corpus — only executor parallelism varies between calls.

    Tuned to minimize the bytes-streamed-per-core term that binds on a
    single shared memory bus (see BENCH/BASELINE.md §2): shuffle files on
    tmpfs (SPARK_GRAFT_TMPFS=0 opts out), 8-bit block-quantized impacts
    (SPARK_GRAFT_WBITS=32 opts out — quarters the weight bytes streamed and
    written while preserving WAND bounds), larger Arrow batches.
    """
    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.session import get_spark

    wbits = int(os.environ.get("SPARK_GRAFT_WBITS", "8"))
    extra = {"spark.sql.shuffle.partitions": str(shuffle_partitions),
             "spark.sql.execution.arrow.maxRecordsPerBatch": "65536"}
    tmp_local = None
    if os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0" and os.path.isdir("/dev/shm"):
        tmp_local = tempfile.mkdtemp(prefix="lss_shuffle_", dir="/dev/shm")
        extra["spark.local.dir"] = tmp_local
    spark = get_spark(app_name=f"lss-scale-{master}", master=master,
                      extra_conf=extra)
    corpus_path = f"/tmp/lss_scaling_corpus_{n_docs}"
    if not os.path.exists(corpus_path):
        make_corpus_df(spark, n_docs).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    idx_dir = tempfile.mkdtemp(prefix="lss_scale_idx_")
    try:
        t_build, _ = _timed(lambda: build_index(
            spark, docs, idx_dir, n_shards=None, n_buckets=16, n_salts=8,
            n_shard_groups=1, run_size=4096, weight_bits=wbits))
        t_query, _ = _timed(lambda: _noop(
            wand_topk(spark, idx_dir, SCALING_QUERIES, top_k=10)))
        t_query100, _ = _timed(lambda: _noop(wand_topk(
            spark, idx_dir,
            [(100 + i, f"t{(7 * i) % 30000:05d} t{(13 * i) % 30000:05d} "
                       f"t{(29 * i) % 30000:05d}") for i in range(100)],
            top_k=10)))
        # 1000-query batch: the CPU-bound regime of the query stage (kernel
        # scoring work dominates decode + scheduling overhead)
        t_query1000, _ = _timed(lambda: _noop(wand_topk(
            spark, idx_dir, _query_batch(1000), top_k=10)))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()
    if tmp_local:
        # only after stop(): Spark's shutdown still touches spark.local.dir
        shutil.rmtree(tmp_local, ignore_errors=True)
    return {"build_sec": round(t_build, 2), "query_sec": round(t_query, 2),
            "query100_sec": round(t_query100, 2),
            "query1000_sec": round(t_query1000, 2),
            "build_docs_per_sec": round(n_docs / t_build, 1)}


def run_lifecycle(n_docs: int = 800_000, batch_docs: int = 1_000,
                  group_points: tuple[int, ...] = (1, 8, 64)) -> dict:
    """LSM read-amplification protocol: query latency vs number of live
    posting groups, then compaction cost and the post-compact latency.

    Build a base index over ``n_docs`` synthetic docs (one group), then
    stream-append ``batch_docs``-sized batches (each an immutable
    ``append-*`` group) pausing at each ``group_points`` count to measure:
    a 100-query distributed WAND batch (median of 3), a single-point
    driver-local lookup (median of 5), posting file count and bytes. The
    appended docs total <=8% of the corpus, so latency deltas are
    attributable to group count, not corpus growth. Finally
    ``compact_index`` runs (timed -> re-encode docs/s) and the same
    measurements repeat over the single compacted group."""
    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.session import get_spark

    wbits = int(os.environ.get("SPARK_GRAFT_WBITS", "8"))
    spark = get_spark(app_name="lss-lifecycle", master=f"local[{CPUS}]",
                      extra_conf={"spark.sql.shuffle.partitions": "64"})
    max_groups = max(group_points)
    total = n_docs + (max_groups - 1) * batch_docs
    corpus_path = f"/tmp/lss_scaling_corpus_{total}"
    if not os.path.exists(corpus_path):
        make_corpus_df(spark, total).write.mode("overwrite") \
            .parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    idx = tempfile.mkdtemp(prefix="lss_lc_idx_")
    shutil.rmtree(idx)

    def _postings_stats() -> tuple[int, int]:
        n_files = n_bytes = 0
        for root, _, files in os.walk(os.path.join(idx, "postings")):
            pq = [f for f in files if f.endswith(".parquet")]
            n_files += len(pq)
            n_bytes += sum(os.path.getsize(os.path.join(root, f))
                           for f in pq)
        return n_files, n_bytes

    def _measure(state: str, n_groups: int) -> dict:
        # warm-up batch first: the state transition just ran a heavy job
        # (build / append / compact), and the FIRST query pays codegen +
        # Python-worker spin-up — not the read-amplification being measured
        _noop(wand_topk(spark, idx, _query_batch(100), top_k=10, local="never"))
        ts = sorted(_timed(lambda: _noop(wand_topk(
            spark, idx, _query_batch(100), top_k=10,
            local="never")))[0] for _ in range(5))
        pts = sorted(_timed(lambda: _noop(wand_topk(
            spark, idx, [SCALING_QUERIES[1]], top_k=10,
            local="force")))[0] for _ in range(7))
        n_files, n_bytes = _postings_stats()
        return {"state": state, "live_groups": n_groups,
                "query100_sec_median5": round(ts[2], 3),
                "query100_sec_runs": [round(t, 3) for t in ts],
                "point_query_sec_median7": round(pts[3], 4),
                "posting_files": n_files,
                "posting_mb": round(n_bytes / 1e6, 1)}

    rows = []
    try:
        t_build, _ = _timed(lambda: build_index(
            spark, docs.where(f"doc_id < {n_docs}"), idx, n_shards=None,
            n_buckets=16, n_salts=8, n_shard_groups=1, run_size=4096,
            weight_bits=wbits))
        rows.append(_measure("built", 1))
        from light_splade_spark.streaming.incremental import append_batch
        groups = 1
        t_appends = 0.0
        while groups < max_groups:
            lo = n_docs + (groups - 1) * batch_docs
            t_a, _ = _timed(lambda: append_batch(
                spark, idx,
                docs.where(f"doc_id >= {lo} AND doc_id < {lo + batch_docs}"),
                f"g{groups}"))
            t_appends += t_a
            groups += 1
            if groups in group_points:
                rows.append(_measure("appended", groups))
        t_compact, _ = _timed(lambda: compact_index(spark, idx))
        rows.append(_measure("compacted", 1))
    finally:
        spark.stop()
        shutil.rmtree(idx, ignore_errors=True)
    return {
        "n_docs_base": n_docs, "batch_docs": batch_docs,
        "n_appends": max_groups - 1,
        "build_sec": round(t_build, 2),
        "append_sec_total": round(t_appends, 2),
        "append_sec_mean": round(t_appends / (max_groups - 1), 2),
        "compact_sec": round(t_compact, 2),
        "compact_docs_per_sec": round(total / t_compact, 1),
        "states": rows,
    }


def _query_batch(n: int) -> list[tuple[int, str]]:
    return [(1000 + i, f"t{(7 * i) % 30000:05d} t{(13 * i) % 30000:05d} "
                       f"t{(29 * i) % 30000:05d} t{(41 * i) % 30000:05d}")
            for i in range(n)]


def _scale_master(cores: str) -> tuple[str, dict]:
    """Parallelism level -> (master, extra_conf). SPARK_GRAFT_LC=1 selects
    ``local-cluster[cores,1,mem]`` — one real executor JVM per core, each
    with its own heap/GC/shuffle server — the honest sandbox emulation of
    "N executors vs 4N executors" (a single shared local[N] JVM conflates
    executor scaling with intra-JVM contention)."""
    if os.environ.get("SPARK_GRAFT_LC", "0") == "1":
        mem = os.environ.get("SPARK_GRAFT_LC_MEM_MB", "4096")
        os.environ.setdefault("SPARK_LOCAL_DIRS",
                              "/dev/shm/spark-local"
                              if os.path.isdir("/dev/shm") else "/tmp")
        conf = {"spark.executorEnv.PYTHONPATH":
                os.path.dirname(os.path.abspath(__file__))}
        return f"local-cluster[{cores},1,{mem}]", conf
    return f"local[{cores}]", {}


def run_query_scaling_one(master: str, idx_dir: str, n_queries: int,
                          extra_conf: dict | None = None) -> dict:
    """Batch-query stage at one parallelism level over a SHARED prebuilt
    index — only executor parallelism varies between levels. One warm-up
    batch first so JVM/codegen/Python-worker startup and the terms-dim
    lookup (driver-side constants identical at every level) are excluded
    from the measured throughput, exactly as a long-running query service
    amortizes them."""
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.session import get_spark

    spark = get_spark(app_name=f"lss-qscale-{master}", master=master,
                      extra_conf={"spark.sql.shuffle.partitions": "64",
                                  **(extra_conf or {})})
    # warm-up: same batch once — fills the per-process term->id cache and
    # spawns JVM codegen + Python workers, i.e. the steady state of a
    # long-running query service; identical at every parallelism level
    _noop(wand_topk(spark, idx_dir, _query_batch(n_queries), top_k=10))
    t, _ = _timed(lambda: _noop(
        wand_topk(spark, idx_dir, _query_batch(n_queries), top_k=10)))
    spark.stop()
    return {"query_batch_sec": round(t, 2),
            "qps": round(n_queries / t, 1)}


def _ensure_scale_index(n_docs: int) -> str:
    """Build (once) and return the shared /tmp scale index over the
    deterministic synthetic corpus; reused by --query-scaling and
    --join-scale. A stale partial build (manifest not 'complete') is
    discarded and rebuilt."""
    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index
    from light_splade_spark.session import get_spark

    wbits = int(os.environ.get("SPARK_GRAFT_WBITS", "8"))
    idx_dir = f"/tmp/lss_qscale_idx_{n_docs}_w{wbits}"

    def _complete(d: str) -> bool:
        try:
            with open(os.path.join(d, "manifest.json")) as f:
                return json.load(f).get("status") == "complete"
        except OSError:
            return False

    if not _complete(idx_dir):
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark = get_spark(app_name="lss-qscale-build", master="local[8]",
                          extra_conf={"spark.sql.shuffle.partitions": "64"})
        corpus_path = f"/tmp/lss_scaling_corpus_{n_docs}"
        if not os.path.exists(corpus_path):
            make_corpus_df(spark, n_docs).write.mode("overwrite") \
                .parquet(corpus_path)
        build_index(spark, spark.read.parquet(corpus_path), idx_dir,
                    n_shards=None, n_buckets=16, n_salts=8,
                    n_shard_groups=1, run_size=4096, weight_bits=wbits)
        spark.stop()
    return idx_dir


def _median(xs: list[float]) -> float:
    import statistics
    return statistics.median(xs)


def run_suite_median(n_runs: int) -> dict:
    """Headline suite as the median of ``n_runs`` fresh-process draws.

    The repo's own scaling data (BENCH/scaling_protocol.jsonl) shows ~1 in
    5 runs on this host degrades ~1.8x episodically, so a single draw is
    not an interpretable benchmark; per-query and suite medians are, and
    min/max disclose the spread. Fresh process per draw — a reused driver
    JVM carries heap/GC/codegen state into later draws."""
    import subprocess

    draws = []
    for i in range(n_runs):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--suite-one"],
            capture_output=True, text=True, check=True, env=os.environ)
        draws.append(json.loads(out.stdout.strip().splitlines()[-1]))
    names = list(draws[0]["queries"])
    queries = {k: round(_median([d["queries"][k] for d in draws]), 3)
               for k in names}
    spread = {k: {"min": round(min(d["queries"][k] for d in draws), 3),
                  "max": round(max(d["queries"][k] for d in draws), 3)}
              for k in names}
    totals = [round(sum(d["queries"].values()), 3) for d in draws]
    extras = dict(draws[0]["extras"])
    for k, v in list(extras.items()):
        if isinstance(v, (int, float)) and k != "n_docs":
            vals = [d["extras"][k] for d in draws]
            extras[k] = round(_median(vals), 3)
    return {"queries": queries, "queries_spread": spread, "extras": extras,
            "suite": {"median": _median(totals), "min": min(totals),
                      "max": max(totals), "runs": totals}}


def main() -> None:
    if "--query-scaling-one" in sys.argv:
        cores = sys.argv[sys.argv.index("--query-scaling-one") + 1]
        idx_dir = sys.argv[sys.argv.index("--query-scaling-one") + 2]
        nq = int(os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "1000"))
        master, conf = _scale_master(cores)
        print(json.dumps(run_query_scaling_one(master, idx_dir, nq,
                                               extra_conf=conf)))
        return
    if "--join-scale-one" in sys.argv:
        # one (route, n_queries) measurement in ITS OWN process, so the
        # reported ru_maxrss is that route's own driver footprint — a
        # shared process would make every later reading a monotone floor
        # set by earlier stages (round-5 review finding)
        import resource

        from light_splade_spark.index.join_scorer import score_index_join
        from light_splade_spark.index.wand import wand_topk
        from light_splade_spark.session import get_spark

        i = sys.argv.index("--join-scale-one")
        route, nq = sys.argv[i + 1], int(sys.argv[i + 2])
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "800000"))
        idx_dir = _ensure_scale_index(n_docs)
        spark = get_spark(app_name=f"lss-join-scale-{route}-{nq}",
                          master=f"local[{CPUS}]",
                          extra_conf={"spark.sql.shuffle.partitions": "64"})
        if route == "join":
            qdf = spark.createDataFrame(_query_batch(nq),
                                        "qid BIGINT, text STRING")
            t, _ = _timed(lambda: _noop(
                score_index_join(spark, idx_dir, qdf, top_k=10)))
        else:
            t, _ = _timed(lambda: _noop(wand_topk(
                spark, idx_dir, _query_batch(nq), top_k=10)))
        rss = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)
        print(json.dumps({"route": route, "n_queries": nq,
                          "sec": round(t, 2), "qps": round(nq / t, 1),
                          "driver_peak_rss_mb": rss}))
        spark.stop()
        return
    if "--join-scale" in sys.argv:
        # the index-backed join route (score_index_join) at its DESIGN
        # scale: synthetic queries joined against the decoded index
        # (VERDICT r3 item 4; r4 item 5 extends to 10^5 and records the
        # wand-route time at the same count for the crossover statement,
        # plus peak driver RSS — the join route's reason to exist is that
        # its driver memory stays flat while wand ships the whole query
        # plan in a closure). Each (route, level) runs in a fresh process
        # so RSS readings are stage-local.
        import subprocess

        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "800000"))
        nqs = [int(x) for x in os.environ.get(
            "SPARK_GRAFT_JOIN_QUERIES", "10000,100000").split(",")]
        _ensure_scale_index(n_docs)
        routes = (["join", "wand"]
                  if os.environ.get("SPARK_GRAFT_JOIN_VS_WAND", "1") != "0"
                  else ["join"])
        out = {"metric": "join_route_qps", "n_docs": n_docs, "levels": {}}
        for nq in nqs:
            lvl = {}
            for route in routes:
                r = json.loads(subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--join-scale-one", route, str(nq)],
                    capture_output=True, text=True, check=True,
                    env=os.environ).stdout.strip().splitlines()[-1])
                lvl[f"{route}_sec"] = r["sec"]
                lvl[f"{route}_qps"] = r["qps"]
                lvl[f"{route}_driver_peak_rss_mb"] = r["driver_peak_rss_mb"]
            out["levels"][str(nq)] = lvl
        print(json.dumps(out))
        return
    if "--query-scaling" in sys.argv:
        import subprocess

        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "800000"))
        idx_dir = _ensure_scale_index(n_docs)
        res = {}
        for cores in ("2", "8"):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--query-scaling-one", cores, idx_dir],
                capture_output=True, text=True, check=True, env=os.environ)
            res[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        qn, q4n = res["2"]["query_batch_sec"], res["8"]["query_batch_sec"]
        print(json.dumps({
            "n_docs": n_docs, "cores_n": 2, "cores_4n": 8,
            "query_batch_sec_n": qn, "query_batch_sec_4n": q4n,
            "query_scaling_efficiency": round((qn / q4n) / 4.0, 3),
            "detail": res,
        }))
        return
    if "--scaling-one" in sys.argv:
        cores = sys.argv[sys.argv.index("--scaling-one") + 1]
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "100000"))
        print(json.dumps(run_scaling(f"local[{cores}]", n_docs)))
        return
    if "--scaling" in sys.argv:
        # each parallelism level runs in a FRESH process: a reused driver JVM
        # carries heap/GC state that contaminates the second measurement
        import subprocess
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "100000"))
        res = {}
        for cores in ("2", "8"):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--scaling-one", cores],
                capture_output=True, text=True, check=True,
                env={**os.environ, "SPARK_GRAFT_SCALE_DOCS": str(n_docs)},
            )
            res[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        tn, t4n = res["2"]["build_sec"], res["8"]["build_sec"]
        qn, q4n = res["2"]["query1000_sec"], res["8"]["query1000_sec"]
        out = {
            "n_docs": n_docs,
            "cores_n": 2, "cores_4n": 8,
            "build_sec_n": tn, "build_sec_4n": t4n,
            "build_scaling_efficiency": round((tn / t4n) / 4.0, 3),
            "query1000_sec_n": qn, "query1000_sec_4n": q4n,
            "query_scaling_efficiency": round((qn / q4n) / 4.0, 3),
            "detail": res,
        }
        print(json.dumps(out))
        return
    if "--lifecycle" in sys.argv:
        i = sys.argv.index("--lifecycle")
        n_docs = (int(sys.argv[i + 1])
                  if len(sys.argv) > i + 1 and sys.argv[i + 1].isdigit()
                  else 800_000)
        print(json.dumps(run_lifecycle(n_docs)))
        return
    if "--suite-one" in sys.argv:
        r = run_suite(f"local[{CPUS}]")
        print(json.dumps(r))
        return
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if n_runs <= 1:
        r = run_suite(f"local[{CPUS}]")
        total = round(sum(r["queries"].values()), 3)
        suite = {"median": total, "min": total, "max": total, "runs": [total]}
    else:
        r = run_suite_median(n_runs)
        suite = r["suite"]
    print(json.dumps({
        "metric": "headline_suite_sec",
        "value": suite["median"],          # driver-compatible single number
        "unit": "sec",
        "queries": r["queries"],           # per-query MEDIANS across runs
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "suite_median_sec": suite["median"],
        "suite_min_sec": suite["min"],
        "suite_max_sec": suite["max"],
        "suite_runs_sec": suite["runs"],
        **({"queries_spread": r["queries_spread"]}
           if "queries_spread" in r else {}),
        **r["extras"],
    }))


if __name__ == "__main__":
    main()
