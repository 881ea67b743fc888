"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file holds the guide-§1 instrumentation: per-operator noop-sink timings,
A/B micro-benchmarks, and build-phase traces). Usage:

    python bench_extra.py suite          # per-op timings, current code
    python bench_extra.py ab             # input-spread A/B per operator
    python bench_extra.py serve          # multi-process point-query ladder
    python bench_extra.py serve-worker IDX N  # one serving process

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] like bench.py.
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


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.time()
    fn()
    return time.time() - t0


def _serve_worker(idx: str, n_queries: int) -> None:
    """One serving process: ``build_query_plan`` (Spark-free term-id
    resolve through the per-process term cache), then ``score_local`` per
    query — the tested point-query path of ``wand_topk(local=...)`` with
    tombstones and the threshold applied, minus the Spark result wrap. No
    JVM at all: this is what a serving layer runs per query against an
    immutable index. Prints one JSON line (n, wall, qps, p50, p95)."""
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.index.tombstones import load_tombstone_ids
    from light_splade_spark.index.wand import build_query_plan, score_local

    man = IndexManifest.load(idx)
    excluded = load_tombstone_ids(idx)
    qs = [(i, "t%05d t%05d t%05d" % ((7 * i) % 30000, (13 * i) % 30000,
                                     (29 * i) % 30000)) for i in range(200)]

    def run(qid, text):
        qplan = build_query_plan(None, idx, [(qid, text)])
        return score_local(idx, qplan, man, top_k=10, threshold=0.0,
                           excluded_docs=excluded)

    for q in qs[:2]:  # warm: page cache, numpy, dataset machinery
        run(*q)
    lat = []
    t_all = time.time()
    for q in qs[2:n_queries + 2]:
        t0 = time.time()
        run(*q)
        lat.append(time.time() - t0)
    wall = time.time() - t_all
    lat.sort()
    print(json.dumps({"n": len(lat), "wall": round(wall, 3),
                      "qps": round(len(lat) / wall, 2),
                      "p50": round(lat[len(lat) // 2], 4),
                      "p95": round(lat[min(len(lat) - 1,
                                           int(len(lat) * 0.95))], 4)}))


def _serve_mode() -> None:
    """VERDICT r6 #3: MULTI-PROCESS point-query serving over one immutable
    index — the r6 thread ladder found the GIL ceiling (2 threads 20.4 qps,
    8 threads 9.2) and asserted (did not measure) that separate processes
    are the production shape. Spawn 1/2/4/8 ``serve-worker`` processes,
    each running ``index/wand.build_query_plan`` + ``score_local`` (pyarrow
    term resolve -> pyarrow pruned posting read -> _score_shard -> pandas
    rank; no JVM at all)
    against a shared 200k-doc wb=8 index; report aggregate qps and
    per-process p50/p95."""
    import subprocess

    from light_splade_spark.fixtures import make_corpus_df
    from light_splade_spark.index.build import build_index
    from light_splade_spark.session import get_spark

    corpus = os.path.join(tempfile.gettempdir(), "lss_corpus_200k")
    spark = get_spark(app_name="serve-build",
                      extra_conf={"spark.sql.shuffle.partitions": "64"})
    if not os.path.exists(corpus):
        make_corpus_df(spark, 200_000).write.mode("overwrite").parquet(corpus)
    idx = tempfile.mkdtemp(prefix="lss_serve_idx_")
    build_index(spark, spark.read.parquet(corpus), idx, n_shards=None,
                n_buckets=16, n_salts=8, n_shard_groups=1, run_size=4096,
                weight_bits=8)
    spark.stop()
    out = {"index_docs": 200_000, "weight_bits": 8, "levels": []}
    try:
        for n_proc in (1, 2, 4, 8):
            procs = [subprocess.Popen([sys.executable,
                                       os.path.abspath(__file__),
                                       "serve-worker", idx, "150"],
                                      stdout=subprocess.PIPE,
                                      stderr=subprocess.DEVNULL, text=True)
                     for _ in range(n_proc)]
            rows = [json.loads(p.communicate()[0].strip().splitlines()[-1])
                    for p in procs]
            level = {
                "processes": n_proc,
                "aggregate_qps": round(sum(r["qps"] for r in rows), 2),
                "p50_max": max(r["p50"] for r in rows),
                "p95_max": max(r["p95"] for r in rows),
                "per_proc": rows,
            }
            out["levels"].append(level)
            print(json.dumps({k: level[k] for k in
                              ("processes", "aggregate_qps", "p50_max",
                               "p95_max")}), flush=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    print(json.dumps(out))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "suite"
    if mode == "serve":
        _serve_mode()
        return
    if mode == "serve-worker":
        _serve_worker(sys.argv[2], int(sys.argv[3]))
        return
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
    from light_splade_spark.functions import text_quality as tq
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.phrase import conjunctive_topk
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.operators import dedup, similarity
    from light_splade_spark.operators.snippets import snippets
    from light_splade_spark.plans import bm25_sql
    from light_splade_spark.session import get_spark

    spark = get_spark(app_name="lss-bench-extra",
                      extra_conf={"spark.sql.shuffle.partitions": "32"})
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    if mode == "ab":
        # input-spread A/B (guide §2.5: single-row-group parquet = one scan
        # task; measure each op against a pre-spread copy of the input)
        sdocs = docs.repartition(32).cache()
        semb = emb.repartition(32).cache()
        sdocs.count(), semb.count()
        ops = {
            "text_quality": lambda d: tq.all_quality_metrics(d),
            "lang_id": lambda d: tq.lang_id(d),
            "simhash": lambda d: dedup.simhash(d),
            "minhash_pairs": lambda d: dedup.minhash_lsh_pairs(
                d, k=16, band_size=4, shingle_n=3),
            "exact_dedup": lambda d: dedup.exact_dedup(d),
            "bm25_sql": lambda d: bm25_sql.bm25_topk_docs(
                d, DOCUMENTS_QUERY_SET, top_k=10),
        }
        out = {}
        for name, fn in ops.items():
            # warm codegen with a spread run first, then measure both twice
            _noop(fn(sdocs))
            a = min(_timed(lambda: _noop(fn(docs))) for _ in range(2))
            b = min(_timed(lambda: _noop(fn(sdocs))) for _ in range(2))
            out[name] = {"base": round(a, 3), "spread": round(b, 3)}
            print(name, out[name], flush=True)
        vops = {
            "cosine_topk": lambda e: similarity.brute_force_topk(
                e, list(range(10)), k=5),
            "ann_lsh": lambda e: similarity.ann_lsh_topk(
                e, list(range(10)), k=5, n_planes=6),
            "ivf": lambda e: similarity.ivf_topk(e, list(range(10)), k=5),
        }
        for name, fn in vops.items():
            _noop(fn(semb))
            a = min(_timed(lambda: _noop(fn(emb))) for _ in range(2))
            b = min(_timed(lambda: _noop(fn(semb))) for _ in range(2))
            out[name] = {"base": round(a, 3), "spread": round(b, 3)}
            print(name, out[name], flush=True)
        print(json.dumps(out))
        return

    if mode == "suite":
        q = {}
        idx_dir = tempfile.mkdtemp(prefix="lss_bx_idx_")
        try:
            spark.sparkContext.setJobDescription("bx: index_build")
            q["index_build"] = _timed(lambda: build_index(
                spark, docs, idx_dir, n_shards=None, n_buckets=16,
                n_salts=8, n_shard_groups=1, run_size=4096))
            spark.sparkContext.setJobDescription("bx: wand_batch")
            q["wand_batch"] = _timed(lambda: _noop(wand_topk(
                spark, idx_dir, DOCUMENTS_QUERY_SET, top_k=10)))
            spark.sparkContext.setJobDescription("bx: conjunctive")
            q["conjunctive"] = _timed(lambda: _noop(conjunctive_topk(
                spark, idx_dir, DOCUMENTS_QUERY_SET, top_k=10)))
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
        spark.sparkContext.setJobDescription("bx: bm25_sql")
        q["bm25_sql"] = _timed(lambda: _noop(bm25_sql.bm25_topk_docs(
            docs, DOCUMENTS_QUERY_SET, top_k=10)))
        spark.sparkContext.setJobDescription("bx: minhash_pairs")
        q["minhash_pairs"] = _timed(lambda: _noop(dedup.minhash_lsh_pairs(
            docs, k=16, band_size=4, shingle_n=3)))
        spark.sparkContext.setJobDescription("bx: simhash")
        q["simhash"] = _timed(lambda: _noop(dedup.simhash(docs)))
        spark.sparkContext.setJobDescription("bx: jaccard_200")
        q["jaccard_200"] = _timed(lambda: _noop(dedup.ngram_jaccard_pairs(
            docs.where(F.col("doc_id") < 200), n=1, threshold=0.8)))
        spark.sparkContext.setJobDescription("bx: exact_dedup")
        q["exact_dedup"] = _timed(lambda: _noop(dedup.exact_dedup(docs)))
        spark.sparkContext.setJobDescription("bx: text_quality")
        q["text_quality"] = _timed(lambda: _noop(
            entry.q_quality_score(spark, SF_DIR)))
        spark.sparkContext.setJobDescription("bx: lang_id")
        q["lang_id"] = _timed(lambda: _noop(tq.lang_id(docs)))
        spark.sparkContext.setJobDescription("bx: cosine_topk")
        q["cosine_topk"] = _timed(lambda: _noop(
            similarity.brute_force_topk(emb, list(range(10)), k=5)))
        spark.sparkContext.setJobDescription("bx: ann_lsh")
        q["ann_lsh"] = _timed(lambda: _noop(
            similarity.ann_lsh_topk(emb, list(range(10)), k=5, n_planes=6)))
        spark.sparkContext.setJobDescription("bx: ivf")
        q["ivf"] = _timed(lambda: _noop(
            similarity.ivf_topk(emb, list(range(10)), k=5)))
        spark.sparkContext.setJobDescription("bx: ranking_metrics")
        q["ranking_metrics"] = _timed(lambda: _noop(
            entry.q_ranking_metrics(spark, SF_DIR)))
        spark.sparkContext.setJobDescription("bx: snippets_e2e")
        res = bm25_sql.bm25_topk_docs(docs, DOCUMENTS_QUERY_SET,
                                      top_k=10).persist()
        q["snippets_e2e"] = _timed(lambda: _noop(snippets(
            res, docs, DOCUMENTS_QUERY_SET)))
        res.unpersist()
        q["TOTAL"] = round(sum(q.values()), 3)
        print(json.dumps({k: round(v, 3) for k, v in q.items()}))
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
