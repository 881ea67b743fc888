"""Pure-numpy property tests: BMW interval pruning is EXACT — identical
results to exhaustive TAAT on randomized posting structures (no Spark)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from light_splade_spark.index.wand import _bmw, _taat


def _mk_term(rng, n_docs_universe: int, df: int, block: int = 16):
    docs = np.sort(rng.choice(n_docs_universe, size=df, replace=False)).astype(np.int64)
    ws = (rng.random(df).astype(np.float32) * 3).astype(np.float32)
    bstart = np.arange(0, df, block)
    bm_max = np.maximum.reduceat(ws, bstart).astype(np.float32)
    bm_last = docs[np.minimum(bstart + block - 1, df - 1)]
    qtf = int(rng.integers(1, 3))
    return (qtf, docs, ws, bm_last, bm_max)


@given(st.integers(0, 10_000), st.integers(1, 6), st.integers(1, 20))
@settings(max_examples=60, deadline=None)
def test_bmw_equals_taat_topk(seed, n_terms, top_k):
    rng = np.random.default_rng(seed)
    terms = [_mk_term(rng, 2000, int(rng.integers(1, 400))) for _ in range(n_terms)]
    d_t, s_t = _taat(terms)
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
    rng = np.random.default_rng(1)
    terms = [_mk_term(rng, 500, 120), _mk_term(rng, 500, 60)]
    d_t, s_t = _taat(terms)
    d_b, s_b = _bmw(terms, 0)
    assert dict(zip(d_b.tolist(), s_b.tolist())) == dict(zip(d_t.tolist(), s_t.tolist()))


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


def test_local_point_path_identical_to_distributed(spark, tmp_path):
    """The driver-local point-query path (pyarrow filtered read + the same
    shard kernel, index/wand.py:score_local) must return byte-identical
    (qid, rank, doc_id, score) to the distributed plan — including the
    HALF_UP rounding F.round applies — across k, thresholds, modes, and an
    appended shard group (multi-row-per-term merge)."""
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
    for k, thr, mode in ((5, 0.0, "bmw"), (3, 1.0, "bmw"), (7, 0.0, "taat")):
        dist = [(r.qid, r.rank, r.doc_id, r.score) for r in
                wand_topk(spark, idx, qs, top_k=k, threshold=thr, mode=mode,
                          local="never").orderBy("qid", "rank").collect()]
        loc = [(r.qid, r.rank, r.doc_id, r.score) for r in
               wand_topk(spark, idx, qs, top_k=k, threshold=thr, mode=mode,
                         local="force").orderBy("qid", "rank").collect()]
        assert dist == loc and len(loc) > 0, (k, thr, mode)
    # auto: 4 queries with finite k -> local; assert no Spark job ran by
    # checking the plan is a LocalTableScan (createDataFrame of a local pdf)
    df = wand_topk(spark, idx, qs, top_k=5)
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
