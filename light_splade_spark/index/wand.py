"""Block-max WAND top-k query engine over the sharded VByte index.

Query flow (SURVEY.md §3.3 performance path):

1. Tokenize the query batch driver-side (a query batch is tiny by nature).
2. Resolve term -> term_id from the `terms` dim with one driver-side
   pyarrow read filtered to the query terms — never a Spark job.
3. Scan `postings` with ``bucket IN (query buckets) AND term_id IN (query
   term ids)`` — bucket is a parquet partition column, so non-query buckets
   are pruned at the file-listing level; term_id hits parquet min/max.
4. ``groupBy(shard).applyInPandas(kernel)`` — each shard holds a complete
   mini-index over its documents, so per-shard scoring is exact and shards
   are embarrassingly parallel (the 1000-executor story).
5. Global top-k merge: per-qid window over (rounded score DESC, doc_id ASC) —
   at most shards * k rows per query reach the final merge.

The kernel is **document-at-a-time with block-max pruning**, vectorized:
block boundaries of all query terms partition doc-id space into elementary
intervals; each interval's score upper bound is the sum of covering blocks'
max impacts * qtf. Intervals are processed in descending upper-bound order,
scoring is exact numpy (unique + bincount), and iteration stops once the
bound falls below the running k-th best score minus the rounding guard —
identical results to exhaustive scoring (reference semantics,
``sparse_retriever.py:78-96``), without decoding cold blocks.

No caller picks the algorithm: block-max pruning runs only where it can
skip work (``top_k > 0`` and >= 2 live terms); every other query, and any
untargeted batch of >= 64, takes the one exhaustive scorer, ``_taat_shared``.

The same kernel serves boolean-AND retrieval (``mode="and"``,
index/phrase.py): per shard it intersects the query terms' decoded lists
instead of pruning, through the same routes (``shard_topk``).

Scores: Σ qtf * w  with w the float32 impact stored at build time; rounded to
SCORE_DECIMALS with deterministic (score DESC, doc_id ASC) tie-break, matching
plans/bm25_sql.py.
"""

from __future__ import annotations

import heapq
import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import resolve_analyzer
from light_splade_spark.index.build import (
    _block_meta,
    decode_posting_list,
    scan_term_postings,
)
from light_splade_spark.index.manifest import IndexManifest
from light_splade_spark.index.tombstones import load_tombstone_ids
from light_splade_spark.plans.bm25_sql import SCORE_DECIMALS
from light_splade_spark.session import local_frame

_GUARD = 10.0 ** (-SCORE_DECIMALS)  # rounding guard for the prune bound


def _score_shard(
    pdf: pd.DataFrame,
    qplan: dict[int, list[tuple[int, float]]],
    top_k: int,
    threshold: float,
    mode: str = "or",
    target_docs: np.ndarray | None = None,
    weight_bits: int = 32,
    block_size: int = 128,
    excluded_docs: np.ndarray | None = None,
    banned_tids: list[int] | None = None,
) -> pd.DataFrame:
    """Exact per-shard top-k for every query. pdf: posting rows of ONE shard
    restricted to query terms. ``target_docs`` (sorted int64) restricts
    scoring to a doc subset at decode time — the reference's row-gather
    (sparse_indexer.py:163-168) pushed into the kernel instead of filtering
    a full-corpus result. ``excluded_docs`` (sorted int64) removes docs at
    decode time — the tombstone-delete read path (index/tombstones.py).

    ``mode="or"`` (default) is disjunctive BM25: ``_bmw`` for a query with
    ``top_k > 0`` and >= 2 live terms, ``_taat_shared`` otherwise and for
    batches of >= 64 queries without ``target_docs``. ``mode="and"`` is
    boolean-AND retrieval (index/phrase.py): a query matches only docs
    holding ALL its plan terms, minus docs holding any ``banned_tids`` term
    (whose rows pdf must also carry)."""
    rows: dict[int, list] = {}
    for r in pdf.itertuples(index=False):
        rows.setdefault(int(r.term_id), []).append(r)
    decoded: dict[int, tuple] = {}
    for tid, rs in rows.items():
        lists = [decode_posting_list(r.postings, r.bm_last, r.bm_max,
                                     weight_bits) for r in rs]
        docs, ws = lists[0]
        if len(lists) > 1:
            # appended shard groups (streaming/incremental) hold one row
            # each for the term: merge-sort them by doc id
            docs = np.concatenate([d for d, _ in lists])
            ws = np.concatenate([w for _, w in lists])
            order = np.argsort(docs, kind="mergesort")
            docs, ws = docs[order], ws[order]
        keep = None
        if target_docs is not None:
            keep = np.isin(docs, target_docs)
        if excluded_docs is not None and excluded_docs.size:
            drop = np.isin(docs, excluded_docs)
            if drop.any():
                keep = ~drop if keep is None else (keep & ~drop)
        if keep is not None:
            docs, ws = docs[keep], ws[keep]
        if docs.size == 0:
            continue
        # a re-appended (zombie) doc id is listed once per live copy: sum
        # the copies so every scorer reads a sorted, unique list
        folded = bool((docs[1:] == docs[:-1]).any())
        if folded:
            docs, inv = np.unique(docs, return_inverse=True)
            ws = np.bincount(inv, weights=ws.astype(np.float64))
        if mode == "and":
            bm_last = bm_max = None  # the AND scorer reads no block maxima
        elif len(lists) > 1 or keep is not None or folded:
            # stored block meta no longer matches the list; rebuild
            _, bm_last, bm_max, _, _ = _block_meta(
                docs, ws, np.array([0]), np.array([docs.size]), block_size)
        else:
            bm_last = np.asarray(rs[0].bm_last, dtype=np.int64)
            bm_max = np.asarray(rs[0].bm_max, dtype=np.float32)
        decoded[tid] = (docs, ws, bm_last, bm_max)
    if mode == "and":
        return _cut_rounded_topk(_and_scores(decoded, qplan, banned_tids),
                                 top_k, threshold)
    if len(qplan) >= 64 and target_docs is None:
        # large batches: per-query block-max pruning stops paying (the
        # batch touches most postings anyway) while per-query concat+unique
        # dominates. Switch to the shared-structure exact scorer: one
        # local-index precompute per term, one scatter-add per (query,term).
        return _cut_rounded_topk(_taat_shared(decoded, qplan), top_k,
                                 threshold)

    def per_query():
        for qid, tlist in qplan.items():
            live = [(tid, qtf) for tid, qtf in tlist if tid in decoded]
            if top_k and top_k > 0 and len(live) >= 2:
                # a cut exists and more than one list: blocks can be pruned
                yield (qid, *_bmw([(qtf, *decoded[tid]) for tid, qtf in live],
                                  top_k))
            else:
                yield from _taat_shared({tid: decoded[tid] for tid, _ in live},
                                        {qid: live})

    return _cut_rounded_topk(per_query(), top_k, threshold)


def _cut_rounded_topk(scored, top_k: int, threshold: float) -> pd.DataFrame:
    """(qid, docs, scores) per query -> one shard's (qid, doc_id, score)
    candidates for the global merge.

    Pre-filters with the rounding guard; the exact (rounded) threshold is
    enforced after the global round. The per-shard cut must agree with the
    GLOBAL order, which ranks on round(score, SCORE_DECIMALS) with doc_id
    tie-break. Cutting on raw scores could drop a lower-doc_id doc whose
    raw score is a hair below a same-rounded higher-id doc. So: keep every
    doc whose ROUNDED score ties or beats the k-th largest rounded score
    (ties kept; the global window resolves them by doc_id)."""
    out_q, out_d, out_s = [], [], []
    for qid, docs, scores in scored:
        keep = scores >= threshold - _GUARD
        docs, scores = docs[keep], scores[keep]
        k = top_k if top_k and top_k > 0 else docs.size
        if docs.size > k:
            r = np.round(scores, SCORE_DECIMALS)
            kth = np.partition(r, r.size - k)[r.size - k]
            keep = r >= kth
            docs, scores = docs[keep], scores[keep]
        out_q.extend([qid] * docs.size)
        out_d.extend(docs.tolist())
        out_s.extend(scores.tolist())
    return pd.DataFrame({"qid": out_q, "doc_id": out_d, "score": out_s})


def _taat_shared(decoded, qplan):
    """The exhaustive scorer: every doc holding a query term, exactly
    scored (checked against ``_bmw`` in tests/test_wand_kernel.py).
    Yields (qid, docs, scores). Scores are Σ qtf * w summed in plan-term
    order from 0.0.

    Per shard: map every decoded posting's doc id to a local dense index
    ONCE per term (searchsorted against the union doc list), then each
    query is a scatter-add into a reusable accumulator + a gather of its
    touched slots — O(matched postings) per query with no per-query
    concat/unique over raw ids. This is what makes 10^3-10^4-query batches
    CPU-cheap; a single query is the same call with a one-query plan."""
    if not decoded:
        return
    all_docs = np.unique(np.concatenate([d[0] for d in decoded.values()]))
    local: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for tid, (docs, ws, _, _) in decoded.items():
        local[tid] = (np.searchsorted(all_docs, docs),
                      ws.astype(np.float64))
    acc = np.zeros(all_docs.size, dtype=np.float64)
    for qid, tlist in qplan.items():
        idxs = []
        for tid, qtf in tlist:
            ent = local.get(tid)
            if ent is None:
                continue
            idx, w = ent
            acc[idx] += w * float(qtf)  # idx unique per term -> safe
            idxs.append(idx)
        if not idxs:
            continue
        touched = (np.unique(np.concatenate(idxs)) if len(idxs) > 1
                   else idxs[0])
        scores = acc[touched].copy()
        acc[touched] = 0.0  # O(touched) reset, accumulator reused
        yield qid, all_docs[touched], scores


def _and_scores(decoded, qplan, banned_tids):
    """Boolean-AND scorer. Yields (qid, docs, scores) for the docs of the
    shard that hold every plan term of the query and no banned term.
    Scores are Σ qtf * w summed in plan-term order from 0.0, the order
    _taat_shared adds in, so an AND score equals the disjunctive routes'
    score for the same (query, doc) bit for bit."""
    banned = [decoded[t][0] for t in banned_tids or () if t in decoded]
    banned = np.concatenate(banned) if banned else None
    for qid, tlist in qplan.items():
        if any(tid not in decoded for tid, _ in tlist):
            continue  # a term with no live posting here: no full match
        # decoded doc lists are sorted and unique (_score_shard folds
        # re-appended ids); intersect from the shortest one up
        lists = sorted((decoded[tid][0] for tid, _ in tlist), key=len)
        docs = lists[0]
        for d in lists[1:]:
            docs = np.intersect1d(docs, d, assume_unique=True)
        if banned is not None:
            docs = docs[~np.isin(docs, banned)]
        if docs.size == 0:
            continue
        scores = np.zeros(docs.size, dtype=np.float64)
        for tid, qtf in tlist:
            d, w = decoded[tid][:2]
            scores += (w[np.searchsorted(d, docs)].astype(np.float64)
                       * float(qtf))
        yield qid, docs, scores


def _bmw(terms, top_k: int) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned document-at-a-time scoring over elementary intervals.

    Exact: intervals partition doc-id space; a doc's full score lives in one
    interval. Pruning skips intervals whose summed block-max bound cannot
    reach the current k-th best score (minus the rounding guard), so it
    needs ``top_k > 0``; ``_score_shard`` sends ``top_k=0`` elsewhere."""
    # elementary interval boundaries = union of all terms' block last-docs
    uppers = np.unique(np.concatenate([t[3] for t in terms]))  # sorted
    n_int = uppers.size
    ub = np.zeros(n_int, dtype=np.float64)
    per_term_block = []
    for qtf, docs, ws, bm_last, bm_max in terms:
        # which block of this term covers each interval (by interval upper)
        blk = np.searchsorted(bm_last, uppers, side="left")
        valid = blk < bm_last.size
        contrib = np.zeros(n_int, dtype=np.float64)
        # interval must start after previous block's last doc to overlap blk;
        # conservative bound: use the covering block's max (0 beyond list end)
        contrib[valid] = bm_max[blk[valid]].astype(np.float64) * float(qtf)
        ub += contrib
        per_term_block.append(blk)
    order = np.argsort(-ub, kind="stable")
    cand_docs: list[np.ndarray] = []
    cand_scores: list[np.ndarray] = []
    heap: list[float] = []  # min-heap of top_k scores seen
    kth = -np.inf
    lowers = np.concatenate(([np.int64(-1)], uppers[:-1]))
    for ii in order:
        if len(heap) >= top_k and ub[ii] < kth - _GUARD:
            break
        lo, hi = int(lowers[ii]), int(uppers[ii])
        seg_docs = []
        seg_w = []
        for (qtf, docs, ws, _, _), _blk in zip(terms, per_term_block):
            a = np.searchsorted(docs, lo, side="right")
            b = np.searchsorted(docs, hi, side="right")
            if b > a:
                seg_docs.append(docs[a:b])
                seg_w.append(ws[a:b].astype(np.float64) * float(qtf))
        if not seg_docs:
            continue
        d = np.concatenate(seg_docs)
        w = np.concatenate(seg_w)
        u, inv = np.unique(d, return_inverse=True)
        s = np.bincount(inv, weights=w)
        cand_docs.append(u)
        cand_scores.append(s)
        for val in s:
            if len(heap) < top_k:
                heapq.heappush(heap, float(val))
            elif val > heap[0]:
                heapq.heapreplace(heap, float(val))
        if len(heap) >= top_k:
            kth = heap[0]
    if not cand_docs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return np.concatenate(cand_docs), np.concatenate(cand_scores)


# per-process cache of term -> term_id lookups, keyed by index identity
# (terms dir mtime changes when incremental append adds new term files);
# only ever holds terms that queries actually asked for
_TERMS_CACHE: dict[tuple[str, float], dict[str, int | None]] = {}


def build_query_plan(
    spark: SparkSession | None, index_dir: str,
    queries: list[tuple[int, str]] | None = None,
    query_weights: list[tuple[int, dict[str, float]]] | None = None,
) -> dict[int, list[tuple[int, float]]]:
    """-> qid -> [(term_id, qweight)]. Runs no Spark job (``spark`` is
    unused, kept for API compatibility).

    ``queries`` = (qid, text) pairs tokenized with the index's pinned
    analyzer, weight = term frequency (BM25 scoring). ``query_weights`` =
    (qid, {term: weight}) — the encoder seam's query side: weights come from
    a model (e.g. ``splade_expansion(encoder=...)`` on the query text) and
    are used verbatim, matching the reference's query-CSR dot product
    (``sparse_retriever.py:78``)."""
    if (queries is None) == (query_weights is None):
        raise ValueError("pass exactly one of queries / query_weights")
    man = IndexManifest.load(index_dir)
    # resolve the analyzer the index was built with (raises on unknown
    # versions — tokenization must be identical on both sides)
    ana = resolve_analyzer(man.analyzer_version, index_dir)
    if query_weights is not None:
        qmaps: list[tuple[int, dict[str, float]]] = [
            (qid, dict(m)) for qid, m in query_weights]
        for qid, m in qmaps:
            neg = [t for t, w in m.items() if w < 0]
            if neg:
                # block-max pruning bounds assume non-negative query
                # weights (as SPLADE's log1p∘relu guarantees); a negative
                # weight would silently void the _bmw upper bound
                raise ValueError(
                    f"query {qid} has negative weights for terms {neg[:3]}; "
                    "query weights must be >= 0 (WAND bounds require it)")
    else:
        qmaps = [(qid, dict(Counter(ana.py_tokenize(text))))
                 for qid, text in queries]
    vocab_needed = sorted({t for _, m in qmaps for t in m})
    tmap = resolve_term_ids(spark, index_dir, vocab_needed, man=man)
    qplan: dict[int, list[tuple[int, float]]] = {}
    for qid, counts in qmaps:
        lst = [(tmap[t], c) for t, c in sorted(counts.items()) if t in tmap]
        if lst:
            qplan[qid] = lst
    return qplan


def resolve_term_ids(
    spark: SparkSession | None, index_dir: str, terms: list[str],
    man: IndexManifest | None = None,
) -> dict[str, int]:
    """term -> term_id for the given ALREADY-ANALYZED terms, through the
    per-process ``_TERMS_CACHE`` (absent terms are cached as absent and
    omitted from the result). Each cache miss set is one driver-side
    pyarrow read of the terms dim filtered to the missing terms — never a
    Spark job (``spark`` is unused, kept for API compatibility). Shared by
    the WAND query planner and the conjunctive/NOT routes
    (index/phrase.py), which need literal ids to keep posting-scan
    pruning."""
    import pyarrow.dataset as pds

    if man is None:
        man = IndexManifest.load(index_dir)
    # resolve the terms dir from the manifest directly (terms_path() would
    # re-read manifest.json on every call)
    tdir = os.path.join(index_dir, man.terms_dir)
    key = (index_dir, os.path.getmtime(tdir))
    # evict keys of superseded terms-dir versions for this index: each
    # append/compaction changes the key, and a long-running server would
    # otherwise strand one dead vocab dict per epoch. pop, not del: two
    # threads may see the new epoch at once and evict the same key
    for k in [k for k in _TERMS_CACHE if k[0] == index_dir and k != key]:
        _TERMS_CACHE.pop(k, None)
    cached = _TERMS_CACHE.setdefault(key, {})
    missing = [t for t in terms if t not in cached]
    if missing:
        # pyarrow skips _SUCCESS/_temporary/.crc entries (default
        # ignore_prefixes) like Spark's reader; isin is a hash set, so a
        # big query batch costs no more than a small one per term
        tab = pds.dataset(tdir, format="parquet").to_table(
            columns=["term", "term_id"],
            filter=pds.field("term").isin(missing)).to_pydict()
        found = dict(zip(tab["term"], tab["term_id"]))
        for t in missing:
            cached[t] = found.get(t)  # None = known-absent, cached too
    return {t: cached[t] for t in terms if cached[t] is not None}


# interactive point queries skip Spark job scheduling entirely (see
# score_local); batches above this go through the distributed plan
LOCAL_PATH_MAX_QUERIES = 4

_RESULT_SCHEMA = "qid BIGINT, rank INT, doc_id BIGINT, score DOUBLE"


def _round_half_up(x: float, decimals: int = SCORE_DECIMALS) -> float:
    """Replicates Spark's F.round on DOUBLE: java BigDecimal.valueOf(d)
    (shortest decimal repr, same as Python repr) + HALF_UP."""
    import decimal
    q = decimal.Decimal(1).scaleb(-decimals)
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def score_local(
    index_dir: str,
    qplan: dict[int, list[tuple[int, float]]],
    man: IndexManifest,
    *,
    top_k: int,
    threshold: float,
    mode: str = "or",
    target_docs: np.ndarray | None = None,
    excluded_docs: np.ndarray | None = None,
    banned_tids: list[int] | None = None,
) -> pd.DataFrame:
    """Spark-free execution of the SAME shard kernel -> pandas
    (qid, rank, doc_id, score): the point-query serving path.

    A 1-4 query lookup against a built index is dominated by Spark job
    scheduling (two stages + a Python-worker round trip ≈ 0.6 s at sf0.1),
    not by work: the posting rows it touches are a few MB. This path reads
    exactly those rows with a pyarrow dataset filter (hive partition
    pruning on bucket + parquet row-group stats on term_id — the same
    pruning the distributed scan does), runs ``_score_shard`` per shard
    in-process, and applies the identical round/threshold/rank semantics
    (HALF_UP like F.round, score DESC / doc_id ASC). Rank-identity with
    the distributed plan is asserted in tests/test_wand_kernel.py and
    gate-checked by Q:wand_point. Scale story: cost ∝ query-term posting
    bytes, independent of corpus partitions — the same reason a serving
    layer reads an index directly instead of launching a job. No
    SparkSession is needed, so a serving process runs it without a JVM
    (bench_extra.py serve). ``mode``: ``"or"``/``"and"``, as in
    ``_score_shard``."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    tids = _plan_term_ids(qplan, banned_tids)
    buckets = sorted({tid % man.n_buckets for tid in tids})
    # explicit string-typed shard_group: hive inference would type an
    # all-numeric group set as int, breaking the liveness isin below
    part = pds.partitioning(
        pa.schema([("shard_group", pa.string()), ("bucket", pa.int32())]),
        flavor="hive")
    data = pds.dataset(os.path.join(index_dir, "postings"),
                       partitioning=part)
    parts = []
    # a fully-tombstoned index compacted to an empty group has no parquet
    # fragments at all -> empty result, not a schema error
    if data.files:
        # LSM liveness (index/compact.py) — same allow-list the
        # distributed read_postings applies
        flt = (pds.field("shard_group").isin(man.live_groups)
               & pds.field("bucket").isin(buckets)
               & pds.field("term_id").isin(tids))
        pdf = data.to_table(
            filter=flt,
            columns=["shard", "term_id", "postings", "bm_last", "bm_max"],
        ).to_pandas()
        for _, g in pdf.groupby("shard", sort=False):
            parts.append(_score_shard(g, qplan=qplan, top_k=top_k,
                                      threshold=threshold, mode=mode,
                                      target_docs=target_docs,
                                      weight_bits=man.weight_bits,
                                      block_size=man.block_size,
                                      excluded_docs=excluded_docs,
                                      banned_tids=banned_tids))
    hits = (pd.concat(parts, ignore_index=True) if parts
            else pd.DataFrame({"qid": [], "doc_id": [], "score": []}))
    hits["score"] = hits["score"].map(_round_half_up)
    hits = hits[hits["score"] >= threshold].sort_values(
        ["qid", "score", "doc_id"], ascending=[True, False, True],
        kind="mergesort")
    hits["rank"] = hits.groupby("qid").cumcount() + 1
    if top_k and top_k > 0:
        hits = hits[hits["rank"] <= top_k]
    return pd.DataFrame({
        "qid": hits["qid"].astype("int64"),
        "rank": hits["rank"].astype("int32"),
        "doc_id": hits["doc_id"].astype("int64"),
        "score": hits["score"].astype("float64"),
    })


def _plan_term_ids(qplan, banned_tids=None) -> list[int]:
    """Sorted term ids a kernel run reads: the plan's plus the banned."""
    return sorted({tid for lst in qplan.values() for tid, _ in lst}
                  | set(banned_tids or ()))


def shard_topk(
    spark: SparkSession,
    index_dir: str,
    qplan: dict[int, list[tuple[int, float]]],
    *,
    top_k: int,
    threshold: float = 0.0,
    mode: str = "or",
    local: str = "auto",
    target_docs: np.ndarray | None = None,
    banned_tids: list[int] | None = None,
) -> DataFrame:
    """Route one planned batch through the shard kernel -> DataFrame
    (qid, rank, doc_id, score); the one route rule of ``wand_topk`` and
    ``phrase.conjunctive_topk`` (see ``wand_topk`` for ``local``). The
    local route scores in-process (``score_local``); the distributed one
    is ``shard_hits`` + ``rank_hits``. An empty plan, and the local
    route's result, come back as Arrow local relations: no Spark job."""
    if local not in ("auto", "never", "force"):
        raise ValueError(f"unknown local={local!r} (auto/never/force)")
    if not qplan:
        return local_frame(spark, None, _RESULT_SCHEMA)
    is_local = os.path.isdir(os.path.join(index_dir, "postings"))
    if local == "force" and not is_local:
        raise ValueError(
            f"local='force' but {index_dir} is not a local filesystem index")
    if local == "force" or (local == "auto" and is_local
                            and len(qplan) <= LOCAL_PATH_MAX_QUERIES
                            and top_k and top_k > 0):
        return local_frame(spark, score_local(
            index_dir, qplan, IndexManifest.load(index_dir), top_k=top_k,
            threshold=threshold, mode=mode, target_docs=target_docs,
            excluded_docs=load_tombstone_ids(index_dir),
            banned_tids=banned_tids), _RESULT_SCHEMA)
    return rank_hits(shard_hits(
        spark, index_dir, qplan, top_k=top_k, threshold=threshold, mode=mode,
        target_docs=target_docs, banned_tids=banned_tids), top_k)


def shard_hits(
    spark: SparkSession,
    index_dir: str,
    qplan: dict[int, list[tuple[int, float]]],
    *,
    top_k: int,
    threshold: float = 0.0,
    mode: str = "or",
    target_docs: np.ndarray | None = None,
    banned_tids: list[int] | None = None,
) -> DataFrame:
    """The distributed kernel route, unranked -> (qid, doc_id, score >=
    ``threshold``, rounded like plans/bm25_sql): pruned scan of the plan's
    and banned terms, ``groupBy(shard).applyInPandas(_score_shard)``. Keeps
    each shard's rounded top-k ties (every hit for ``top_k=0``) minus
    tombstoned docs; ``rank_hits`` makes the global cut."""
    man = IndexManifest.load(index_dir)
    excluded = load_tombstone_ids(index_dir)
    posts = scan_term_postings(spark, index_dir,
                               _plan_term_ids(qplan, banned_tids),
                               man.n_buckets)
    posts = posts.select("shard", "term_id", "postings", "bm_last", "bm_max")
    wb, bs = man.weight_bits, man.block_size

    # a NAMED function (not functools.partial): applyInPandas infers the
    # eval type from the callable and warns on partials — noise in every
    # driver log at scale
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_shard(pdf, qplan=qplan, top_k=top_k,
                            threshold=threshold, mode=mode,
                            target_docs=target_docs, weight_bits=wb,
                            block_size=bs, excluded_docs=excluded,
                            banned_tids=banned_tids)

    hits = posts.groupBy("shard").applyInPandas(
        kernel, "qid BIGINT, doc_id BIGINT, score DOUBLE"
    )
    return hits.select(
        "qid", "doc_id", F.round("score", SCORE_DECIMALS).alias("score")
    ).where(F.col("score") >= F.lit(threshold))


def rank_hits(scored: DataFrame, top_k: int) -> DataFrame:
    """(qid, doc_id, score) -> (qid, rank, doc_id, score): per-qid window
    over (score DESC, doc_id ASC), cut at ``top_k`` (0 keeps every row)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if top_k and top_k > 0:
        ranked = ranked.where(F.col("rank") <= top_k)
    return ranked.select("qid", "rank", "doc_id", "score")


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]] | None = None,
    top_k: int = 10,
    threshold: float = 0.0,
    target_doc_ids: list[int] | None = None,
    query_weights: list[tuple[int, dict[str, float]]] | None = None,
    local: str = "auto",
) -> DataFrame:
    """-> DataFrame(qid, rank, doc_id, score) — rank-identical to the exact
    SQL path (plans/bm25_sql.score_bm25) on the same corpus. The kernel
    chooses its own scorer (``_score_shard``); there is no algorithm option.

    Sizing note: the query plan (qid -> [(term_id, qtf)]) is shipped inside
    the kernel closure, so this path is for *interactive/batch* query sets up
    to ~10^5 queries. For corpus-scale query workloads (mining millions of
    queries against the index) use index/join_scorer.score_index_join — the
    same semantics (rank-identical, asserted in tests/test_join_scorer.py)
    expressed as a shuffle join over the decoded index, which scales with
    the cluster instead of the driver.

    ``local``: "auto" (default) serves point lookups (<= 4 queries with a
    finite top_k against a locally readable index) driver-side with the
    same kernel — no Spark job, ~10x lower latency; "never" forces the
    distributed plan; "force" demands the local path (raises if the index
    dir is not a local filesystem path)."""
    qplan = build_query_plan(spark, index_dir, queries, query_weights)
    target = (np.unique(np.asarray(target_doc_ids, dtype=np.int64))
              if target_doc_ids is not None else None)
    return shard_topk(spark, index_dir, qplan, top_k=top_k,
                      threshold=threshold, local=local, target_docs=target)
