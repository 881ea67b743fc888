"""Distributed inverted-index build: doc-sharded, salted two-phase, VByte.

Spark-first design (NOT a port of ``sparse_indexer.py``'s csr vstack):

* The corpus is **document-sharded**: ``shard = pmod(xxhash64(doc_id),
  n_shards)``. Each shard holds a complete mini inverted index over its docs —
  the layout that lets query-time WAND run document-at-a-time per shard with
  a cheap global top-k merge, and the layout that scales to 10^12 docs
  (a term's global posting list never has to exist in one task).
* Within a shard, posting construction is the **salted two-phase merge** the
  skewed head terms require (Zipf: `the` appears in ~every doc — a single
  collect_list per term would OOM one reducer):
    - phase 1: group by (shard, bucket, salt) where ``salt`` is a doc-id
      RANGE bin — each group sorts + delta-VByte-encodes per-term *runs*;
    - phase 2: group by (shard, bucket) — runs of a term are doc-range
      disjoint and ordered by salt, so the external multi-way merge is O(runs)
      concatenation with one delta patch per boundary (``_merge_groups``).
* Posting payload carries the **precomputed float32 BM25 impact** w =
  idf(t) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) (reference index dtype is
  float32, ``sparse_indexer.py:47``), so query scoring is Σ qtf·w — exactly
  the reference's sparse dot product (``sparse_retriever.py:78``) with BM25
  weights.
* **Block-max metadata** (last_doc, max_w per <=block_size postings) is
  computed during encoding and stored as parallel arrays for WAND pruning.
* Output parquet is partitioned by ``bucket`` (= term_id % n_buckets) for
  partition pruning at query time: only buckets containing query terms are
  read.
* **Checkpoint resume**: shards are processed in ``n_shard_groups`` batches;
  each batch commits postings parquet + a lineage JSON, then the manifest.
  The default count follows the corpus: 1 group when N <= ``run_size`` (one
  run, one fused posting job), else 4. A restarted build takes the count
  from the manifest and skips completed groups (see manifest.py).
* **One encode step, batch after batch** (as the reference's indexer,
  ``sparse_indexer.py:91-125``): an append (streaming/incremental.py)
  runs the build's own pieces on its batch — ``per_doc_expansion`` for
  tokens and doc_stats, ``terms_dim`` for new terms-dim rows and
  ``write_posting_group`` for the postings.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import (
    ANALYZER_V1,
    Analyzer,
    resolve_analyzer,
)
from light_splade_spark.functions.vbyte import (
    _write_varint_scalar,
    decode_run,
    vbyte_encode,
)
from light_splade_spark.index.manifest import (
    IndexManifest,
    group_dir,
    write_lineage,
)
from light_splade_spark.partitioning import spread_input
from light_splade_spark.plans.bm25_sql import B, K1, bm25_impact_col, idf_col

# bump when the on-disk posting blob layout changes (callers may key cache
# directories on it)
INDEX_FORMAT_VERSION = 2

RUN_SCHEMA = (
    "shard INT, bucket INT, term_id BIGINT, salt INT, first_doc BIGINT, "
    "last_doc BIGINT, n BIGINT, dtail BINARY, wblob BINARY, "
    "bm_last ARRAY<BIGINT>, bm_max ARRAY<FLOAT>"
)
POSTING_SCHEMA = (
    "shard INT, bucket INT, term_id BIGINT, df BIGINT, max_w FLOAT, "
    "postings BINARY, bm_last ARRAY<BIGINT>, bm_max ARRAY<FLOAT>"
)


def _block_meta(docs: np.ndarray, ws: np.ndarray, starts: np.ndarray,
                ends: np.ndarray, block_size: int):
    """Vectorized per-segment block metadata: for each segment [s, e) emit
    blocks of <=block_size postings -> (nb_per_seg, bm_last_all, bm_max_all).
    One reduceat over the whole slice instead of a Python loop per block."""
    lens = ends - starts
    nb = (lens + block_size - 1) // block_size
    total = int(nb.sum())
    if total == 0:
        return (nb, np.empty(0, np.int64), np.empty(0, np.float32),
                np.empty(0, np.int64), np.empty(0, np.int64))
    seg_of_block = np.repeat(np.arange(starts.size), nb)
    first_block = np.concatenate(([0], np.cumsum(nb)[:-1]))
    within = (np.arange(total) - first_block[seg_of_block]) * block_size
    bstart = starts[seg_of_block] + within
    bend = np.minimum(bstart + block_size, ends[seg_of_block])
    bm_max = np.maximum.reduceat(ws, bstart)
    # reduceat quirk: if bstart[i] == len-1 boundary fine; segments are
    # contiguous so reduceat(ws, bstart)[i] reduces [bstart[i], bstart[i+1])
    # which equals [bstart[i], bend[i]) because blocks tile the segments.
    bm_last = docs[bend - 1]
    return nb, bm_last, bm_max.astype(np.float32), bstart, bend


def _encode_groups(pdf: pd.DataFrame, block_size: int,
                   weight_bits: int = 32) -> pd.DataFrame:
    """Phase-1 kernel: one (shard,bucket,salt) slice -> per-term encoded runs.

    Fully vectorized: one sort, one bulk VByte encode of every delta in the
    slice, per-term output assembled by buffer slicing. A run's blob is split
    into ``dtail`` (varints of deltas AFTER the first posting) + ``wblob``
    (raw float32 weights); the first doc id travels as a column so the
    phase-2 merge can patch run boundaries without decoding anything.
    """
    shard = int(pdf["shard"].iloc[0])
    bucket = int(pdf["bucket"].iloc[0])
    salt = int(pdf["salt"].iloc[0])
    order = np.lexsort((pdf["doc_id"].to_numpy(), pdf["term_id"].to_numpy()))
    tids = pdf["term_id"].to_numpy()[order]
    docs = pdf["doc_id"].to_numpy()[order]
    if docs.size and int(docs.min()) < 0:
        # negative ids would produce negative deltas that corrupt silently
        # through the uint64 cast; fail the build early and loudly instead
        raise ValueError(
            f"doc ids must be non-negative for delta+VByte encoding; "
            f"got min doc_id {int(docs.min())} (remap ids, e.g. "
            f"pmod(xxhash64(id), 2^62), before build_index)")
    ws = pdf["w"].to_numpy(dtype=np.float32)[order]
    m = tids.size
    bounds = np.flatnonzero(np.diff(tids)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [m]))
    # tail deltas (per-term diff; values at segment starts are dropped)
    deltas = np.empty(m, dtype=np.int64)
    deltas[1:] = np.diff(docs)
    deltas[starts] = 0  # placeholder, excluded from tails
    is_tail = np.ones(m, dtype=bool)
    is_tail[starts] = False
    tails = deltas[is_tail].astype(np.uint64)
    buf_bytes, sizes = vbyte_encode(tails)
    buf = memoryview(buf_bytes)
    # per-value end offsets in the tail buffer
    offs = np.concatenate(([0], np.cumsum(sizes)))
    # tail index range per term: tail positions are original positions minus
    # the number of segment starts before them
    tail_rank = np.cumsum(is_tail) - is_tail.astype(np.int64)  # rank at pos
    t_lo = tail_rank[starts]
    t_hi = t_lo + (ends - starts - 1)
    nb, bm_last_all, bm_max_all, bstart, bend = _block_meta(
        docs, ws, starts, ends, block_size)
    nb_off = np.concatenate(([0], np.cumsum(nb)))
    if weight_bits == 8:
        if ws.size and float(ws.min()) < 0:
            # quantization maps into [0, block_max]; a negative impact
            # (possible only via weights_df) would be clipped to 0 silently
            raise ValueError(
                "weight_bits=8 requires non-negative impacts; got "
                f"min weight {float(ws.min())} (impact-mode weights must "
                "be >= 0, as SPLADE's log1p(relu(.)) guarantees)")
        # block-relative quantization: q = round(w / block_max * 255);
        # dequant q*scale/255 <= block_max, so the WAND bound stays valid
        scale_pos = np.repeat(bm_max_all, bend - bstart)
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.where(scale_pos > 0, ws / scale_pos, 0.0) * 255.0
        wq = np.clip(np.rint(q), 0, 255).astype(np.uint8)
        wbytes = wq.tobytes()
        wwidth = 1
    else:
        wbytes = ws.tobytes()  # little-endian float32
        wwidth = 4
    o_lo, o_hi = offs[t_lo], offs[t_hi]
    # column-wise construction: no per-row tuple materialization
    return pd.DataFrame({
        "shard": np.full(starts.size, shard, dtype=np.int32),
        "bucket": np.full(starts.size, bucket, dtype=np.int32),
        "term_id": tids[starts],
        "salt": np.full(starts.size, salt, dtype=np.int32),
        "first_doc": docs[starts],
        "last_doc": docs[ends - 1],
        "n": (ends - starts).astype(np.int64),
        "dtail": [bytes(buf[a:b]) for a, b in zip(o_lo, o_hi)],
        "wblob": [wbytes[wwidth * s: wwidth * e] for s, e in zip(starts, ends)],
        "bm_last": [bm_last_all[a:b].tolist()
                    for a, b in zip(nb_off[:-1], nb_off[1:])],
        "bm_max": [bm_max_all[a:b].tolist()
                   for a, b in zip(nb_off[:-1], nb_off[1:])],
    })


def decode_posting_list(postings: bytes, bm_last, bm_max, weight_bits: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``_encode_groups`` for one stored posting row -> (doc_ids
    int64, weights float32). The single read-side decode site: the WAND
    kernel and the join route both call it. ``weight_bits=8`` codes are
    dequantized against the per-block maxima; block end positions are
    recoverable from ``bm_last`` because doc ids are strictly ascending."""
    docs, ws = decode_run(bytes(postings), weight_bits=weight_bits)
    if weight_bits == 8:
        ends = np.searchsorted(docs, np.asarray(bm_last, dtype=np.int64),
                               side="right")
        sizes = np.diff(np.concatenate(([0], ends)))
        scale = np.repeat(np.asarray(bm_max, dtype=np.float32), sizes)
        ws = (ws.astype(np.float32) / 255.0) * scale
    return docs, ws


def _merge_groups(pdf: pd.DataFrame) -> pd.DataFrame:
    """Phase-2 kernel: one (shard,bucket) slice -> final posting rows.

    The external multi-way merge of the salted runs (analog of the
    reference's two-phase cache merge, ``sparse_indexer.py:105-153``): runs of
    a term are doc-range disjoint and salt-ordered, so merging is pure byte
    concatenation — only the boundary delta between consecutive runs is
    (re)encoded. No decompression happens here at any scale."""
    order = np.lexsort((pdf["salt"].to_numpy(), pdf["term_id"].to_numpy()))
    tids = pdf["term_id"].to_numpy()[order]
    firsts = pdf["first_doc"].to_numpy()[order]
    lasts = pdf["last_doc"].to_numpy()[order]
    ns = pdf["n"].to_numpy()[order]
    dtails = pdf["dtail"].to_numpy()[order]
    wblobs = pdf["wblob"].to_numpy()[order]
    bls = pdf["bm_last"].to_numpy()[order]
    bms = pdf["bm_max"].to_numpy()[order]
    shard = int(pdf["shard"].iloc[0])
    bucket = int(pdf["bucket"].iloc[0])
    bounds = np.flatnonzero(np.diff(tids)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [tids.size]))
    # boundary deltas: first_doc of each run minus last_doc of its
    # predecessor within the term (-1 for the first run of a term)
    prev_last = np.empty(tids.size, dtype=np.int64)
    prev_last[0] = -1
    prev_last[1:] = lasts[:-1]
    prev_last[starts] = -1
    bdeltas = firsts - prev_last
    postings_col = []
    bm_last_col = []
    bm_max_col = []
    max_w_col = []
    totals = np.add.reduceat(ns, starts)
    for i, (s, e) in enumerate(zip(starts, ends)):
        if e - s == 1:
            blob = (_write_varint_scalar(int(totals[i]))
                    + _write_varint_scalar(int(bdeltas[s]))
                    + bytes(dtails[s]) + bytes(wblobs[s]))
            bm_l, bm_m = list(bls[s]), list(bms[s])
        else:
            parts = [_write_varint_scalar(int(totals[i]))]
            for j in range(s, e):
                parts.append(_write_varint_scalar(int(bdeltas[j])))
                parts.append(bytes(dtails[j]))
            parts.extend(bytes(w) for w in wblobs[s:e])
            blob = b"".join(parts)
            bm_l = [int(x) for j in range(s, e) for x in bls[j]]
            bm_m = [float(x) for j in range(s, e) for x in bms[j]]
        postings_col.append(blob)
        bm_last_col.append(bm_l)
        bm_max_col.append(bm_m)
        max_w_col.append(max(bm_m))
    return pd.DataFrame({
        "shard": np.full(starts.size, shard, dtype=np.int32),
        "bucket": np.full(starts.size, bucket, dtype=np.int32),
        "term_id": tids[starts],
        "df": totals.astype(np.int64),
        "max_w": np.asarray(max_w_col, dtype=np.float32),
        "postings": postings_col,
        "bm_last": bm_last_col,
        "bm_max": bm_max_col,
    })


def per_doc_expansion(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      analyzer: Analyzer = ANALYZER_V1) -> DataFrame:
    """(doc_id, dl, pairs ARRAY<STRUCT<term,tf>>) — per-doc term frequencies
    with ZERO shuffle.

    Every token of a document lives in its own row, so TF is a row-local
    computation: sort the token array, run-length-encode it with
    higher-order functions (filter/zip_with over element positions) — all
    inside whole-stage codegen. This replaces the explode + corpus-wide
    groupBy(doc_id, term) hash aggregation, whose exchange shuffled one row
    per distinct (doc, term) (~45M rows at 800k docs) and was the largest
    non-posting shuffle in the build. Zero/NULL-token docs keep a row with
    dl=0 and empty pairs (they count toward N and avgdl).

    Each heavy intermediate (token array, SORTED array, start positions)
    is materialized as a column in its own projection before any lambda
    references it — two reasons: a UDF-based analyzer (the wordpiece pandas
    UDF) may not appear inside higher-order-function lambdas at all, and an
    expression (rather than an attribute) referenced inside a lambda is
    re-evaluated PER ELEMENT — an inlined array_sort inside element_at
    turns O(dl log dl) into O(dl² log dl) per doc. CollapseProject keeps
    the stages separate because the aliased arrays are non-cheap and
    multiply referenced (asserted in tests/test_index_build.py)."""
    # tokenize + run-length encode is the build's big narrow span; guard
    # against an under-partitioned scan running it on one task (guide §2.5
    # input skew — no-op when the source is already well-partitioned)
    toked = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(analyzer.spark_tokens(text_col),
                   F.array().cast("array<string>")).alias("_toks"),
    )
    srt = toked.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.array_sort("_toks").alias("_st"),
    )
    t = F.col("_st")
    n = F.col("dl")
    idxs = F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.array().cast("array<int>"))
    started = srt.select(
        "doc_id", "dl", "_st",
        F.filter(idxs, lambda i: (i == F.lit(1))
                 | (F.element_at(t, i) != F.element_at(t, i - 1)))
        .alias("_starts"),
    )
    starts = F.col("_starts")
    nexts = F.concat(F.slice(starts, F.lit(2), F.size(starts)),
                     F.array(n + 1))
    pair_t = "array<struct<term:string,tf:bigint>>"
    pairs = F.when(n >= 1, F.zip_with(
        starts, nexts,
        lambda s, e: F.struct(F.element_at(t, s).alias("term"),
                              (e - s).cast("bigint").alias("tf")))) \
        .otherwise(F.array().cast(pair_t))
    return started.select("doc_id", "dl", pairs.alias("pairs"))


def _explode_expansion(per_doc: DataFrame) -> DataFrame:
    """Nested per-doc expansion -> (doc_id, dl, term, tf) rows (the shape
    the posting build and terms dim consume); zero-token docs drop out here
    exactly as the old explode+groupBy shape dropped them."""
    return (per_doc.select("doc_id", "dl", F.explode("pairs").alias("p"))
            .select("doc_id", "dl", F.col("p.term").alias("term"),
                    F.col("p.tf").alias("tf")))


def terms_dim(counts: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, cf) counts -> terms-dim rows (term, term_id, tid, df, cf,
    idf): the one row shape the build, the impact build and append write.

    term_id = xxhash64(term) — deterministic and pass-free, so an append
    assigns a new term the id any later build would; collision odds
    ~V^2/2^65 (negligible below 10^8 distinct terms, detectable via
    groupBy(term_id) where a deployment cares). ``tid`` repeats the hash:
    it is part of the on-disk terms schema."""
    tid = F.xxhash64("term")
    return counts.select("term", tid.alias("term_id"), tid.alias("tid"),
                         "df", "cf", idf_col(n_docs).alias("idf"))


def build_dims(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               analyzer: Analyzer = ANALYZER_V1, *, expansion_path: str):
    """-> (doc_terms_df, terms_df, scalars dict).

    One tokenize pass, ZERO wide shuffles: the per-doc expansion is computed
    row-locally (per_doc_expansion — sorted run-length encode, no
    explode+groupBy exchange) and materialized nested as
    (doc_id, dl, pairs) parquet at ``expansion_path`` (SURVEY S11: the only
    shape that exists at 10^12 docs — a corpus-sized expansion never fits
    storage memory, while parquet spills to the scratch tier). It is also
    ~30% smaller than the flat (doc, term, tf, dl) rows (doc_id/dl not
    repeated per term). N, max_doc and Σdl all ride that write via
    ``DataFrame.observe`` (the expansion keeps one row per doc, zero-token
    docs included), so no separate corpus scan is needed for the scalars.
    The only aggregation left is the vocab-sized terms dim (map-side
    combined to ~|V| rows). The build's one heavy shuffle is then the
    posting-phase (shard, bucket, salt) groupBy itself.
    """
    from pyspark.sql import Observation

    obs = Observation("corpus_scalars")
    per_doc_expansion(docs, id_col, text_col, analyzer) \
        .observe(obs, F.sum("dl").alias("sum_dl"),
                 F.count(F.lit(1)).alias("n"),
                 F.max("doc_id").alias("max_doc")) \
        .write.mode("overwrite").parquet(expansion_path)
    got = obs.get
    n_docs = int(got["n"] or 0)
    if n_docs == 0:
        raise ValueError("cannot build an index over an empty corpus")
    dt = _explode_expansion(docs.sparkSession.read.parquet(expansion_path))
    scalars = {"n_docs": n_docs, "avgdl": int(got["sum_dl"] or 0) / n_docs,
               "max_doc": int(got["max_doc"])}
    counts = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"),
                                    F.sum("tf").alias("cf"))
    return dt, terms_dim(counts, n_docs), scalars


def _impact_dims(weights_df: DataFrame, doc_stats_path: str):
    """Dims for an impact (encoder-weight) index: -> (dt, terms, scalars).

    dt = (doc_id, term, weight float32); dl here = nonzero terms per doc
    (recorded for stats/lineage — impact scoring never reads dl/avgdl).
    The scalars ride the ``doc_stats_path`` write through an Observation,
    like build_dims' one-job trick."""
    from pyspark.sql import Observation

    dt = weights_df.select(
        "doc_id", "term", F.col("weight").cast("float").alias("weight")
    ).cache()
    obs = Observation("impact_scalars")
    dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")) \
        .observe(obs, F.count(F.lit(1)).alias("n"),
                 F.avg("dl").alias("avgdl"),
                 F.max("doc_id").alias("max_doc")) \
        .write.mode("overwrite").parquet(doc_stats_path)
    got = obs.get
    if got["n"] is None or int(got["n"]) == 0:
        raise ValueError("cannot build an index over empty weights")
    scalars = {"n_docs": int(got["n"]), "avgdl": float(got["avgdl"]),
               "max_doc": int(got["max_doc"])}
    counts = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.lit(None).cast("bigint").alias("cf"))
    return dt, terms_dim(counts, scalars["n_docs"]), scalars


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int | None = None,
    n_buckets: int = 16,
    n_salts: int = 8,
    n_shard_groups: int | None = None,
    block_size: int = 128,
    run_size: int = 1 << 16,
    weight_bits: int = 32,
    resume: bool = False,
    analyzer: Analyzer = ANALYZER_V1,
    weights_df: DataFrame | None = None,
    fail_after_group: int | None = None,  # test hook: simulate a crash
) -> IndexManifest:
    """Build (or resume) the inverted index at ``index_dir``.

    ``analyzer`` picks the tokenizer (default ASCII v1; ANALYZER_V2_CJK for
    Japanese/CJK corpora, matching the reference's Japanese-first data). Its
    version is pinned in the manifest; a resumed build re-resolves the
    analyzer from the manifest so a resume can never mix tokenizations.

    ``n_shard_groups`` is the number of checkpoint groups the shards are
    written in. ``None`` resolves from N on a fresh build: 1 when
    ``n_docs <= run_size`` (the threshold at which ``write_posting_group``
    fuses its phases), else 4. An explicit int is used as given. The
    manifest records the resolved count, and a resume takes the count from
    the manifest, ignoring the argument, like the other layout knobs.

    ``weights_df`` (doc_id, term, weight) switches the index to IMPACT
    scoring (manifest ``scoring="impact"``): the stored float32 impact is
    the provided weight verbatim — the SPLADE deployment path, fed by
    ``splade_expansion(docs, encoder=...)`` with a real model behind the
    encoder seam (reference ``models/splade.py:196-269``). Query-side, pass
    ``query_weights`` to ``wand_topk``. All scale machinery (sharding,
    salting, two-phase merge, block-max, resume) is identical; a resumed
    impact build must be given the same ``weights_df`` again.
    """
    os.makedirs(index_dir, exist_ok=True)
    if resume and os.path.exists(os.path.join(index_dir, "manifest.json")):
        man = IndexManifest.load(index_dir)
        if man.status == "complete":
            return man
        # resolve_analyzer: also reconstructs a vocab-driven (wordpiece)
        # analyzer from the vocab file persisted in the index dir
        analyzer = resolve_analyzer(man.analyzer_version, index_dir)
        if (man.scoring == "impact") != (weights_df is not None):
            raise ValueError(
                f"resume scoring mismatch: manifest says {man.scoring!r} "
                f"but weights_df is {'set' if weights_df is not None else 'absent'}")
    else:
        man = None

    ds_pool = doc_stats_future = None
    if weights_df is None:
        expansion_path = os.path.join(index_dir, "_expansion")
        dt, terms, scalars = build_dims(docs, id_col, text_col, analyzer,
                                        expansion_path=expansion_path)
        scoring = "bm25"
        # doc_stats is an independent column-pruned projection of the
        # materialized expansion with its own output dir — submit it from a
        # driver thread so it back-fills executors behind the terms and
        # posting jobs instead of serializing before them (guide §2.6,
        # overlap independent jobs); joined before the manifest commits
        # "complete". A resume rewrites it too: build_dims just rebuilt the
        # expansion, and a killed run may have left doc_stats partial
        from concurrent.futures import ThreadPoolExecutor

        ds_pool = ThreadPoolExecutor(max_workers=1,
                                     thread_name_prefix="doc_stats")
        _spark_ref = docs.sparkSession

        def _write_doc_stats(path=os.path.join(index_dir, "doc_stats"),
                             src=expansion_path):
            (_spark_ref.read.parquet(src).select("doc_id", "dl")
             .write.mode("overwrite").parquet(path))

        doc_stats_future = ds_pool.submit(_write_doc_stats)
        ds_pool.shutdown(wait=False)
    else:
        dt, terms, scalars = _impact_dims(
            weights_df, os.path.join(index_dir, "doc_stats"))
        scoring = "impact"
    try:
        if man is None:
            if n_shards is None:
                # target ~25k docs per shard: shard count grows with the
                # corpus (constant per-shard memory), capped to keep tiny
                # corpora sane
                n_shards = max(4, min(scalars["n_docs"] // 25000, 4096))
            if n_shard_groups is None:
                # a corpus that fits one run is one group: the posting
                # write fuses its phases at the same threshold, so the
                # build is one posting job; larger corpora keep 4 groups
                n_shard_groups = 1 if scalars["n_docs"] <= run_size else 4
            man = IndexManifest(
                analyzer_version=analyzer.version, k1=K1, b=B,
                n_docs=scalars["n_docs"], avgdl=scalars["avgdl"],
                n_shards=n_shards, n_buckets=n_buckets, run_size=run_size,
                block_size=block_size, n_shard_groups=n_shard_groups,
                n_salts=n_salts, weight_bits=weight_bits, scoring=scoring,
            )
            man.created_unix = time.time()
            holder = getattr(analyzer.spark_tokens, "backend_holder", None)
            if holder is not None:
                # wp4 family only (the MeCab analyzer has no py/hf backend):
                # record the backend the tokenizer UDF actually PINNED when
                # its plan was built (functions/wordpiece.py ships the
                # driver's decision in the closure); fall back to a fresh
                # resolution only if no tokenization plan exists yet
                from light_splade_spark.functions.wordpiece import (
                    resolve_backend_name,
                )
                man.wordpiece_backend = (holder.get("backend")
                                         or resolve_backend_name())
            terms.write.mode("overwrite").parquet(
                os.path.join(index_dir, "terms"))
            man.save(index_dir)
            if getattr(analyzer, "vocab", None):
                # vocab-driven (wordpiece) analyzer: persist the vocab inside
                # the index so any process can resolve the tokenizer from
                # the index dir alone (functions/wordpiece.py)
                from light_splade_spark.functions.wordpiece import save_vocab
                save_vocab(index_dir, analyzer)

        terms_b = F.broadcast(
            spark.read.parquet(os.path.join(index_dir, "terms"))
            .select("term", "term_id", "idf", "df"))
        # impact: the encoder weight verbatim, or idf * saturated tf
        # (float32, the reference index dtype)
        w_col = (F.col("weight").cast("float") if scoring == "impact"
                 else bm25_impact_col(man.avgdl))
        posts = dt.join(terms_b, "term").select(
            "doc_id", "term_id", w_col.alias("w"), "df")
        # sized from the manifest, never the argument: a resume walks the
        # groups the crashed build committed to
        n_shards, n_groups = man.n_shards, man.n_shard_groups
        shard = _shard_col(n_shards)
        shards_per_group = (n_shards + n_groups - 1) // n_groups
        for group in range(n_groups):
            if str(group) in man.live_groups:
                continue  # committed before a crash: a resume skips it
            lo = group * shards_per_group
            hi = min((group + 1) * shards_per_group, n_shards)
            # a group past the last shard holds nothing and is never listed
            if lo < hi:
                write_posting_group(
                    posts.where((shard >= lo) & (shard < hi)),
                    index_dir, str(group), man, n_docs=scalars["n_docs"],
                    max_doc=scalars["max_doc"], t0=time.time())
                man.live_groups.append(str(group))
                man.save(index_dir)
            if fail_after_group is not None and group >= fail_after_group:
                raise RuntimeError(
                    f"simulated crash after shard group {group}")
    except BaseException:
        if ds_pool is not None:
            # no doc_stats writer may outlive a failed build: cancel it if
            # it never started, else join it. Its own error stays on the
            # future and never masks the exception re-raised here.
            ds_pool.shutdown(wait=True, cancel_futures=True)
        raise
    if doc_stats_future is not None:
        # doc_stats must be on disk before the manifest says "complete"
        # (target-restriction and compaction read it); propagate any write
        # failure as a build failure exactly as the serial form did
        doc_stats_future.result()
    man.status = "complete"
    man.save(index_dir)
    if weights_df is None:
        # the expansion parquet was a build-time intermediate only
        import shutil as _shutil
        _shutil.rmtree(os.path.join(index_dir, "_expansion"),
                       ignore_errors=True)
    else:
        dt.unpersist()
    return man


def _shard_col(n_shards: int):
    """Document sharding: shard = pmod(xxhash64(doc_id), n_shards)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")


def write_posting_group(posts: DataFrame, index_dir: str, group: str,
                        man: IndexManifest, *, n_docs: int, max_doc: int,
                        t0: float, **lineage_extra) -> None:
    """Encode ``posts`` (doc_id, term_id, w, df) into posting group
    ``group`` of the index at ``index_dir`` and record its
    per-(shard, bucket) lineage — the one posting writer that build, append
    and compact share, under the manifest's layout knobs.

    ``df`` sizes the df-aware doc-id RANGE salt: a term fans out into
    ceil(df / run_size) runs (capped at n_salts), so only head terms split
    and the run-row count stays ~vocab-sized. Runs within a (shard, term)
    are disjoint and salt-ordered, so phase 2 merges by concatenation.

    Fused vs staged is decided here from ``n_docs`` (the docs behind
    ``posts``, an upper bound on every df): at ``n_docs <= run_size`` every
    term has ONE salt, so a (shard, bucket, salt) group is a whole
    (shard, bucket) slice and phase 2 only wraps single runs. Then both
    kernels run in one ``applyInPandas`` over one shuffle, producing the
    same rows byte for byte. Larger inputs take the staged salted path —
    the skew guard for head terms."""
    n_salts_t = F.least(
        F.lit(man.n_salts),
        F.ceil(F.col("df") / F.lit(float(man.run_size))).cast("int"))
    keyed = posts.select(
        _shard_col(man.n_shards).alias("shard"),
        F.pmod(F.col("term_id"), F.lit(man.n_buckets)).cast("int")
        .alias("bucket"),
        "term_id", "doc_id", "w",
        F.floor(F.col("doc_id") * n_salts_t / F.lit(int(max_doc) + 1))
        .cast("int").alias("salt"),
    )
    bs, wb = man.block_size, man.weight_bits

    # named functions, not functools.partial: applyInPandas warns ("cannot
    # infer eval type") on partials, polluting every build log
    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_groups(pdf, block_size=bs, weight_bits=wb)

    def encode_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return _merge_groups(encode(pdf))

    if n_docs <= man.run_size:  # every salt is 0
        final = keyed.groupBy("shard", "bucket").applyInPandas(
            encode_merge, POSTING_SCHEMA)
    else:
        final = keyed.groupBy("shard", "bucket", "salt").applyInPandas(
            encode, RUN_SCHEMA,
        ).groupBy("shard", "bucket").applyInPandas(_merge_groups,
                                                    POSTING_SCHEMA)
    # one writer task per bucket dir (without the repartition every shuffle
    # task writes every bucket -> O(tasks * buckets) tiny files), rows
    # sorted by term id so each bucket file's row groups cluster by term and
    # parquet min/max pruning skips most of them on the isin query route;
    # (term_id, shard) is a total order, so the bytes are stable. The sort
    # must LEAD with the partitionBy column: the write requires an ordering
    # on bucket, and a local sort that does not start with it is replaced
    # by a plain sort on bucket, losing the term order
    out_dir = group_dir(index_dir, group)
    (final.repartition(man.n_buckets, "bucket")
     .sortWithinPartitions("bucket", "term_id", "shard")
     .write.mode("overwrite").partitionBy("bucket").parquet(out_dir))
    # explicit schema: a group whose doc range holds no postings (tiny
    # corpora, sparse tails, fully tombstoned compactions) writes zero data
    # files, and schema inference would fail on the empty directory
    written = posts.sparkSession.read.schema(POSTING_SCHEMA).parquet(out_dir)
    lineage = collect_partition_lineage(written, t0, man.analyzer_version,
                                        **lineage_extra)
    write_lineage(index_dir, group, lineage)


def collect_partition_lineage(written: DataFrame, t0: float,
                              analyzer_version: str, **extra) -> list[dict]:
    """Per-(shard, bucket) lineage/metrics rows for a just-written posting
    group — the one aggregation shape shared by build, append, and compact
    (manifest.write_lineage consumers)."""
    # driver-side sort instead of .orderBy(): the result is at most
    # shards x buckets rows, and a distributed orderBy adds a range-
    # partitioner sampling pass + an extra exchange to every group commit
    rows = sorted(
        (r.asDict() for r in written.groupBy("shard", "bucket").agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum(F.length("postings")).alias("postings_bytes"),
            F.max("df").alias("max_df"),
        ).collect()),
        key=lambda r: (r["shard"], r["bucket"]))
    for r in rows:
        r["wall_sec"] = round(time.time() - t0, 3)
        r["analyzer_version"] = analyzer_version
        r.update(extra)
    return rows


def read_postings(spark: SparkSession, index_dir: str,
                  live_groups: list[str] | None = None) -> DataFrame:
    # explicit schema (data columns + partition columns): an index whose
    # every doc was tombstoned compacts to a group with zero parquet part
    # files, and schema inference would fail on it — the correct behavior
    # is empty results, not a bricked index (tests/test_compact.py)
    df = (spark.read
          .schema(POSTING_SCHEMA + ", shard_group STRING")
          .option("basePath", os.path.join(index_dir, "postings"))
          .parquet(os.path.join(index_dir, "postings")))
    # LSM liveness (index/compact.py): readers see only the manifest's
    # live_groups partitions, which is what makes a group commit and the
    # compactor's manifest write atomic (a half-written group or an orphan
    # dir from a crashed GC is invisible). Partition pruning still applies:
    # shard_group is a partition column, so the isin is a directory filter.
    # A given ``live_groups`` overrides the manifest's set — the compactor
    # passes its decode snapshot here so the groups it folds and the groups
    # it later subtracts from the commit are THE SAME list by construction.
    # (An empty override reads the manifest's set, which a snapshot without
    # groups also held: a complete index always has a live group.)
    live = live_groups or IndexManifest.load(index_dir).live_groups
    return df.where(F.col("shard_group").isin(live))


def scan_term_postings(spark: SparkSession, index_dir: str,
                       term_ids: list[int] | DataFrame | None,
                       n_buckets: int,
                       live_groups: list[str] | None = None) -> DataFrame:
    """Posting rows of the given terms (every live row for None): the one
    term-restricted scan of the WAND and join routes. A literal id list
    prunes bucket partitions, then filters term_id with an ``isin`` literal
    (<= 256 ids, keeps parquet min/max pushdown) or a broadcast semi-join
    (a giant literal costs serial driver-side Catalyst/codegen work). A
    DataFrame with a ``term_id`` column always takes the semi-join."""
    posts = read_postings(spark, index_dir, live_groups=live_groups)
    if term_ids is None:
        return posts
    if isinstance(term_ids, DataFrame):
        tdf = term_ids.select("term_id").distinct()
        return posts.join(F.broadcast(tdf), "term_id", "left_semi")
    tids = sorted({int(t) for t in term_ids})
    posts = posts.where(
        F.col("bucket").isin(sorted({t % n_buckets for t in tids})))
    if len(tids) > 256:
        tdf = spark.createDataFrame([(t,) for t in tids], "term_id BIGINT")
        return posts.join(F.broadcast(tdf), "term_id", "left_semi")
    return posts.where(F.col("term_id").isin(tids))


def terms_path(index_dir: str) -> str:
    """Current terms-dim directory — the manifest's pointer (compaction
    rewrites terms into terms_v<epoch> and flips it atomically)."""
    man = IndexManifest.load(index_dir)
    return os.path.join(index_dir, man.terms_dir)


def read_terms(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(terms_path(index_dir))
