"""Pure-numpy property tests: BMW interval pruning is EXACT — identical
results to the exhaustive scorer on randomized posting structures (no
Spark)."""

import string

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from light_splade_spark.index.build import _encode_groups, _merge_groups
from light_splade_spark.index.wand import (
    _TERMS_CACHE,
    _bmw,
    _score_shard,
    _taat_shared,
)


def _mk_term(rng, n_docs_universe: int, df: int, block: int = 16):
    docs = np.sort(rng.choice(n_docs_universe, size=df, replace=False)).astype(np.int64)
    ws = (rng.random(df).astype(np.float32) * 3).astype(np.float32)
    bstart = np.arange(0, df, block)
    bm_max = np.maximum.reduceat(ws, bstart).astype(np.float32)
    bm_last = docs[np.minimum(bstart + block - 1, df - 1)]
    qtf = int(rng.integers(1, 3))
    return (qtf, docs, ws, bm_last, bm_max)


def _exhaustive(terms):
    """``_taat_shared`` on a one-query plan over ``terms`` (term id = list
    position) -> (docs, scores)."""
    decoded = {tid: t[1:] for tid, t in enumerate(terms)}
    plan = {0: [(tid, t[0]) for tid, t in enumerate(terms)]}
    (_, docs, scores), = _taat_shared(decoded, plan)
    return docs, scores


@given(st.integers(0, 10_000), st.integers(1, 6), st.integers(1, 20))
@settings(max_examples=60, deadline=None)
def test_bmw_equals_taat_topk(seed, n_terms, top_k):
    rng = np.random.default_rng(seed)
    terms = [_mk_term(rng, 2000, int(rng.integers(1, 400))) for _ in range(n_terms)]
    d_t, s_t = _exhaustive(terms)
    d_b, s_b = _bmw(terms, top_k)
    # exhaustive maps for comparison
    full = dict(zip(d_t.tolist(), s_t.tolist()))
    got = dict(zip(d_b.tolist(), s_b.tolist()))
    # every BMW-scored doc has the exact exhaustive score
    for d, s in got.items():
        assert abs(full[d] - s) < 1e-9
    # the true top-k (score desc, doc asc) is contained in BMW's candidates
    order = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    guard = 1e-4
    for d, s in order:
        # candidates may legitimately omit docs only when a tie within the
        # rounding guard exists at the k-th score; require presence beyond it
        kth = order[-1][1]
        if s > kth - guard or d in got:
            assert d in got, (d, s, kth)


def test_bmw_topk_zero_means_exhaustive():
    """``top_k=0`` asks for every hit, which block-max pruning cannot cut:
    the kernel scores such a query exhaustively, every doc of the union
    with the exhaustive scorer's exact score."""
    rng = np.random.default_rng(1)
    terms = [_mk_term(rng, 500, 120), _mk_term(rng, 500, 60)]
    pdf = _merge_groups(pd.concat([_encode_groups(pd.DataFrame({
        "shard": 0, "bucket": 0, "salt": 0, "term_id": tid,
        "doc_id": t[1], "w": t[2]}), block_size=16)
        for tid, t in enumerate(terms)], ignore_index=True))
    plan = {0: [(tid, t[0]) for tid, t in enumerate(terms)]}
    out = _score_shard(pdf, qplan=plan, top_k=0, threshold=0.0,
                       block_size=16)
    d_t, s_t = _exhaustive(terms)
    assert dict(zip(out.doc_id.tolist(), out.score.tolist())) == \
        dict(zip(d_t.tolist(), s_t.tolist()))
    assert set(d_t.tolist()) == set(terms[0][1]) | set(terms[1][1])


def test_batch_shared_scorer_matches_per_query_route(spark, tmp_path):
    """Batches >=64 queries route through _taat_shared; results must be
    identical (qid, rank, doc_id, score) to the per-query kernel."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.wand import wand_topk

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    idx = str(tmp_path / "bidx")
    build_index(spark, docs, idx, n_shards=4, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    words = ["data", "search", "quality", "index", "model", "the", "learn",
             "train", "text", "web"]
    big = [(i, f"{words[i % 10]} {words[(i * 3) % 10]} {words[(i * 7) % 10]}")
           for i in range(80)]
    batch = {(r.qid, r.rank): (r.doc_id, r.score)
             for r in wand_topk(spark, idx, big, top_k=5).collect()}
    single = {}
    for i in range(0, 80, 8):  # 8-query slices -> per-query BMW route
        for r in wand_topk(spark, idx, big[i:i + 8], top_k=5).collect():
            single[(r.qid, r.rank)] = (r.doc_id, r.score)
    assert batch == single and len(batch) > 0


def test_local_point_path_identical_to_distributed(spark, spark_jobs,
                                                  tmp_path):
    """The driver-local point-query path (pyarrow filtered read + the same
    shard kernel, index/wand.py:score_local) must return byte-identical
    (qid, rank, doc_id, score) to the distributed plan — including the
    HALF_UP rounding F.round applies — across k (0 included, the
    exhaustive scorer), thresholds, and an appended shard group
    (multi-row-per-term merge)."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.streaming.incremental import append_batch

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    idx = str(tmp_path / "lidx")
    build_index(spark, docs, idx, n_shards=4, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    extra = spark.createDataFrame(
        [(990001, "data search appended index model")],
        "doc_id BIGINT, text STRING")
    append_batch(spark, idx, extra, "p1")
    qs = [(0, "data search quality"), (1, "the index model"),
          (2, "zzznonexistent"), (3, "train text web learn")]
    # top_k=0 scores every query exhaustively; the others prune
    for k, thr in ((5, 0.0), (3, 1.0), (0, 1.0)):
        dist = [(r.qid, r.rank, r.doc_id, r.score) for r in
                wand_topk(spark, idx, qs, top_k=k, threshold=thr,
                          local="never").orderBy("qid", "rank").collect()]
        loc = [(r.qid, r.rank, r.doc_id, r.score) for r in
               wand_topk(spark, idx, qs, top_k=k, threshold=thr,
                         local="force").orderBy("qid", "rank").collect()]
        assert dist == loc and len(loc) > 0, (k, thr)
    # auto: 4 queries with finite k -> local, on a cold term cache: no
    # Spark job runs (planning and scoring are both driver-side)
    _TERMS_CACHE.clear()
    df, jobs = spark_jobs(lambda: wand_topk(spark, idx, qs, top_k=5))
    assert jobs == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    # target_doc_ids restriction agrees across routes too
    tgt = [r.doc_id for r in
           wand_topk(spark, idx, qs[:1], top_k=5, target_doc_ids=[1, 2, 3],
                     local="force").collect()]
    tgt_d = [r.doc_id for r in
             wand_topk(spark, idx, qs[:1], top_k=5, target_doc_ids=[1, 2, 3],
                       local="never").collect()]
    assert tgt == tgt_d


def test_local_path_matrix_weights_target_tombstones(spark, tmp_path):
    """Serving-layer completeness: the driver-local route must stay
    byte-identical to the distributed plan for every combination of
    impact-scored lookups (query_weights), target-doc restriction, and
    tombstone exclusion — all three composed at once included — on both
    float32 and block-quantized (weight_bits=8) indexes."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.tombstones import delete_docs
    from light_splade_spark.index.wand import wand_topk

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .where("doc_id < 250")
    qs = [(0, "data search quality"), (1, "the index model")]
    qw = [(0, {"data": 1.5, "search": 0.25, "quality": 1.0}),
          (1, {"the": 0.1, "index": 2.0, "model": 1.0})]
    targets = [None, list(range(0, 120, 2))]

    def run(local, queries=None, query_weights=None, target=None):
        return [(r.qid, r.rank, r.doc_id, r.score) for r in
                wand_topk(spark, idx, queries, top_k=5,
                          query_weights=query_weights,
                          target_doc_ids=target, local=local)
                .orderBy("qid", "rank").collect()]

    for wb in (32, 8):
        idx = str(tmp_path / f"midx{wb}")
        build_index(spark, docs, idx, n_shards=4, n_buckets=4, n_salts=2,
                    n_shard_groups=1, weight_bits=wb)
        for tombstoned in (False, True):
            if tombstoned:
                # delete a doc every route would otherwise return
                victim = run("never", queries=qs)[0][2]
                delete_docs(spark, idx, [victim])
            for target in targets:
                for kw in ({"queries": qs}, {"query_weights": qw}):
                    loc = run("force", target=target, **kw)
                    dist = run("never", target=target, **kw)
                    assert loc == dist and loc, (wb, tombstoned, target,
                                                 kw.keys())
                    if tombstoned:
                        assert victim not in {d for _, _, d, _ in loc}


def test_local_path_thread_safe_concurrent_queries(spark, tmp_path):
    """Serving-layer property: the driver-local point path must be safe
    under concurrent callers (a serving layer answers many clients from
    one process). 4 threads x 6 distinct point queries each, every
    result byte-identical to the same query run sequentially."""
    from concurrent.futures import ThreadPoolExecutor

    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.wand import wand_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "cidx")
    build_index(spark, docs, idx, n_shards=4, n_buckets=4, n_salts=2,
                n_shard_groups=1)
    qs = [(i, t) for i, t in enumerate(
        ["data search", "the index model", "train text", "web learn",
         "spark hash", "query data key"])]

    def point(q):
        return sorted((r.qid, r.rank, r.doc_id, r.score) for r in
                      wand_topk(spark, idx, [q], top_k=5,
                                local="force").collect())

    sequential = {q[0]: point(q) for q in qs}
    with ThreadPoolExecutor(max_workers=4) as ex:
        futures = [(q[0], ex.submit(point, q)) for q in qs * 4]
        for qid, fut in futures:
            assert fut.result() == sequential[qid]


def _spark_terms(spark, idx):
    from light_splade_spark.index.build import read_terms
    return {r.term: int(r.term_id)
            for r in read_terms(spark, idx).select("term", "term_id").collect()}


# 300 letters-only terms no corpus holds: with them a miss set exceeds the
# 256 terms above which the old Spark lookup switched to a semi-join
_ABSENT = [f"zzq{a}{b}" for a in string.ascii_lowercase
           for b in string.ascii_lowercase][:300]


def test_resolve_term_ids_matches_spark_read_across_epochs(spark, tmp_path, sf_dir):
    """The driver-side pyarrow term resolve returns exactly what a Spark
    read of the terms dim holds, on a built index, after an append that
    adds a new term (new terms-dir mtime -> new cache key) and after a
    compaction (terms_v<epoch> pointer) — for small and > 256-term miss
    sets. Absent terms are omitted and cached as absent."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.wand import resolve_term_ids
    from light_splade_spark.streaming.incremental import append_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "tidx")
    build_index(spark, docs, idx, n_shards=2, n_buckets=4,
                n_shard_groups=1)

    def check(expect_new_term: bool):
        ref = _spark_terms(spark, idx)
        assert ref and ("qqqnewterm" in ref) == expect_new_term
        small = sorted(ref)[:5] + ["qqqnewterm"] + _ABSENT[:2]
        _TERMS_CACHE.clear()
        assert resolve_term_ids(spark, idx, small) == {
            t: ref[t] for t in small if t in ref}
        # > 256 missing terms at once; the terms of `small` are warm hits
        assert resolve_term_ids(spark, idx, sorted(ref) + _ABSENT) == ref
        (key, cached), = [kv for kv in _TERMS_CACHE.items()
                          if kv[0][0] == idx]
        assert all(cached[t] is None for t in _ABSENT)
        return key

    key0 = check(False)
    extra = spark.createDataFrame([(990001, "qqqnewterm data")],
                                  "doc_id BIGINT, text STRING")
    append_batch(spark, idx, extra, "p1")
    # the stale epoch's entry is evicted by the next lookup
    _TERMS_CACHE[key0] = {"data": -1}
    assert resolve_term_ids(spark, idx, ["data"]) == {
        "data": _spark_terms(spark, idx)["data"]}
    assert key0 not in _TERMS_CACHE
    check(True)
    compact_index(spark, idx)
    check(True)


def test_build_query_plan_runs_no_spark_job(spark, spark_jobs, tmp_path,
                                           sf_dir):
    """With a cold term cache, planning a query batch whose miss set holds
    present and absent terms (> 256 distinct) runs zero Spark jobs; the
    job-group probe itself sees a job when one runs."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.wand import build_query_plan, wand_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "pidx")
    build_index(spark, docs, idx, n_shards=2, n_buckets=4,
                n_shard_groups=1)
    vocab = sorted(_spark_terms(spark, idx))
    queries = [(i, " ".join([vocab[i % len(vocab)]] + _ABSENT[i::30]))
               for i in range(30)]
    _TERMS_CACHE.clear()
    qplan, jobs = spark_jobs(lambda: build_query_plan(spark, idx, queries))
    assert jobs == []
    tids = {tid for lst in qplan.values() for tid, _ in lst}
    assert len(qplan) == 30 and len(tids) == min(30, len(vocab))
    assert sum(len(c) for c in _TERMS_CACHE.values()) > 256
    _, jobs = spark_jobs(lambda: spark.range(3).collect())
    assert jobs
    # an unknown route is refused even when the plan is empty
    with pytest.raises(ValueError, match="unknown local"):
        wand_topk(spark, idx, [(0, _ABSENT[0])], local="bogus")
