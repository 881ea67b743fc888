"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship BM25 top-k over sf0.001 documents.
queries()      -> one callable per implemented operator (SURVEY.md §2).
oracle_sql()   -> DuckDB SQL mirrors for every SQL-expressible operator.

Column names are aligned between both sides; scores rounded to fixed decimals
so cross-engine float hashing is stable.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_splade_spark.fixtures import DOCUMENTS_QUERY_SET
from light_splade_spark.functions import text_quality as tq
from light_splade_spark.functions.analyzers import doc_tokens
from light_splade_spark.operators import dedup, metrics, similarity
from light_splade_spark.operators.sampling import sample_unit_sql as _sample_unit_sql
from light_splade_spark.plans import bm25_sql

QUERIES = DOCUMENTS_QUERY_SET
TOP_K = 10
QREL_MOD = 29  # deterministic qrels rule: positive iff doc_id % 29 == qid

# Phrase workload for the retrieve-then-verify route (index/phrase.py).
# pids offset past the OR-route qids so the folded Q:index_join_topk rows
# stay disjoint. Mix of 2/3-token phrases plus a repeated-token phrase
# ("window window": conjunctive candidates = every 'window' doc, verify
# must demand two ADJACENT occurrences).
PHRASES = [
    (100, "table scan"),
    (101, "hash join"),
    (102, "window window"),
    (103, "scan merge part"),
    (104, "data line join"),
]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact BM25 top-10 for the reference query batch."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return bm25_sql.bm25_topk_docs(docs, QUERIES, top_k=TOP_K)


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_bm25_topk(spark, sf_dir):
    return bm25_sql.bm25_topk_docs(_docs(spark, sf_dir), QUERIES, top_k=TOP_K)


def q_dot_topk(spark, sf_dir):
    """Raw term-frequency dot product (the reference's scoring join J2 with
    tf weights): score = Σ qtf * tf, top-k per query."""
    from pyspark.sql import Window
    from light_splade_spark.functions.analyzers import doc_terms

    docs = _docs(spark, sf_dir)
    postings = doc_terms(docs)
    qt = spark.createDataFrame(
        bm25_sql.query_term_rows(QUERIES), "qid BIGINT, term STRING, qtf BIGINT")
    scored = (
        F.broadcast(qt).join(postings, "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("bigint").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K).select("qid", "rank", "doc_id", "score"))


def _fixture_tag(sf_dir: str) -> str:
    """Cache-key tag of the fixture indexes kept under /tmp: the sf path
    plus an md5 of the library's sources, so a gate run never scores an
    index that older code built."""
    import glob
    import hashlib

    lib = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "light_splade_spark")
    src = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(lib, "**", "*.py"),
                                 recursive=True)):
        src.update(os.path.relpath(path, lib).encode())
        with open(path, "rb") as f:
            src.update(f.read())
    return (f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_"
            f"{src.hexdigest()[:8]}")


def _fixture(prefix: str, sf_dir: str, build, is_valid) -> str:
    """Build-once fixture dir ``/tmp/lss_<prefix>_<sf-hash>_<src-hash>``
    (``_fixture_tag``) -> its path. ``is_valid(path)`` vets a cached dir;
    False, or an OSError/CorruptIndexError while checking (missing or
    partial files, a manifest this engine's schema can't parse), means
    rebuild from scratch. Validation and kernel bugs raise other errors
    and surface loudly instead of triggering a silent rebuild. A rebuild
    also removes this fixture's dirs for the same sf that other library
    sources built, so source edits do not pile up stale fixtures."""
    import glob
    import shutil

    from light_splade_spark.index.manifest import CorruptIndexError

    tag = _fixture_tag(sf_dir)
    path = f"/tmp/lss_{prefix}_{tag}"
    try:
        if is_valid(path):
            return path
    except (OSError, CorruptIndexError):
        pass
    sf_hash = tag.split("_", 1)[0]
    for old in glob.glob(f"/tmp/lss_{prefix}_{sf_hash}_*"):
        shutil.rmtree(old, ignore_errors=True)  # this path's remains too
    build(path)
    return path


def _complete(idx: str) -> bool:
    """A cached index is usable only if its build finished: a crashed
    prior build leaves a parseable manifest with status='building' and
    partial/missing postings — serving it would silently return wrong
    top-k."""
    from light_splade_spark.index.manifest import IndexManifest

    return IndexManifest.load(idx).status == "complete"


def _cached_index(spark, sf_dir: str) -> str:
    """Build-once per-sf index cache shared by the WAND and join-scorer
    queries; returns the index dir."""
    from light_splade_spark.index.build import INDEX_FORMAT_VERSION, build_index

    def build(idx):
        build_index(spark, _docs(spark, sf_dir), idx, n_shards=8, n_buckets=16,
                    n_salts=4, n_shard_groups=2)

    return _fixture(f"index_v{INDEX_FORMAT_VERSION}", sf_dir, build,
                    _complete)


def q_wand_topk(spark, sf_dir):
    """Block-max WAND over the sharded VByte index. Hash-checked against the
    float32-impact DuckDB oracle (bm25_oracle_sql(float32_impacts=True)):
    the index stores float32 impacts, so the oracle rounds the per-(term,doc)
    weight through FLOAT before the double-precision sum — bit-matching what
    the kernel scores. Rank-identity to the all-double SQL path is separately
    asserted in tests/test_scoring_parity.py."""
    from light_splade_spark.index.wand import wand_topk

    idx = _cached_index(spark, sf_dir)
    return wand_topk(spark, idx, QUERIES, top_k=TOP_K)


def q_wand_point(spark, sf_dir):
    """Interactive point-query route (VERDICT r4 item 6): <=4 queries take
    the driver-local fast path — same shard kernel over a pyarrow
    filtered read of exactly the query terms' posting rows, no Spark job
    (index/wand.py:score_local). Hash-checked against the same
    float32-impact DuckDB oracle as the distributed plan, so both routes
    carry a CORRECTNESS row."""
    from light_splade_spark.index.wand import wand_topk

    idx = _cached_index(spark, sf_dir)
    return wand_topk(spark, idx, QUERIES[:2], top_k=TOP_K, local="force")


# Q:compacted_topk fixture: build over base docs, append TWO streaming
# micro-batches (frozen-stats semantics), then LSM-compact. The synthetic
# corpus has a closed 31-term vocabulary, so the batches inject novel
# terms by doc_id rule — batch 1 introduces 'zephyr' (its idf pins to the
# batch-1 df against the frozen N), batch 2 RE-introduces 'zephyr' (the
# pin must hold — append_batch only left-anti-appends new terms) and first
# introduces 'quux'. The DuckDB oracle recomputes the sequential
# first-seen idf fold independently (bm25_append_oracle_sql, chained
# FULL JOIN + priority coalesce) over the same doc_id-driven CASE text.
COMPACT_BASE, COMPACT_HI, COMPACT_HI2 = 300, 340, 380

# one doc_id-driven text transform, rendered for BOTH engines so the
# corpora match by construction
_COMPACT_CASE_SQL = f"""CASE
  WHEN doc_id >= {COMPACT_BASE} AND doc_id < {COMPACT_HI}
       AND doc_id % 3 = 0 THEN text || ' zephyr'
  WHEN doc_id >= {COMPACT_HI} AND doc_id < {COMPACT_HI2}
       AND doc_id % 2 = 0 THEN text || ' zephyr quux'
  WHEN doc_id >= {COMPACT_HI} AND doc_id < {COMPACT_HI2}
       AND doc_id % 5 = 0 THEN text || ' quux'
  ELSE text END"""

# the fixture query set must reach the injected terms: extend the shared
# batch with queries that mix novel and base-vocab terms
COMPACT_QUERIES = [*QUERIES, (90, "zephyr table"), (91, "quux zephyr scan")]


def _compact_docs(spark, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.expr(_COMPACT_CASE_SQL).alias("text"))


def _compacted_index(spark, sf_dir: str) -> str:
    from light_splade_spark.index.build import (
        INDEX_FORMAT_VERSION,
        build_index,
    )
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.streaming.incremental import append_batch

    def build(idx):
        d = _compact_docs(spark, sf_dir)
        base = d.where(F.col("doc_id") < COMPACT_BASE)
        build_index(spark, base, idx, n_shards=4, n_buckets=8, n_salts=4,
                    n_shard_groups=2)
        append_batch(spark, idx, d.where(
            (F.col("doc_id") >= COMPACT_BASE)
            & (F.col("doc_id") < COMPACT_HI)), "b1")
        append_batch(spark, idx, d.where(
            (F.col("doc_id") >= COMPACT_HI)
            & (F.col("doc_id") < COMPACT_HI2)), "b2")
        compact_index(spark, idx)

    # f2 = fixture layout v2 (two append batches + injected novel terms);
    # keeps any pre-existing one-batch cache dir from validating
    return _fixture(f"compact_idx_v{INDEX_FORMAT_VERSION}f2", sf_dir, build,
                    lambda idx: _complete(idx)
                    and IndexManifest.load(idx).compact_epoch >= 1)


STREAM_DEDUP_MOD = 40  # Q:stream_dedup: 200 docs -> 40 duplicate classes


def q_stream_dedup(spark, sf_dir):
    """Stateful streaming exact-dedup end-to-end (streaming/dedup_stream.py,
    applyInPandasWithState): 200 docs carrying only 40 distinct texts
    (text of doc_id % 40) stream through the first-occurrence-wins
    operator; the oracle is the batch SQL equivalent (min doc_id per md5
    class). Runs a real AvailableNow streaming query into a fresh temp
    sink each evaluation — deterministic output either way."""
    import tempfile

    from light_splade_spark.streaming.dedup_stream import stream_dedup

    d = _docs(spark, sf_dir)
    src_rows = (d.where(F.col("doc_id") < 200)
                .select("doc_id", (F.col("doc_id") % STREAM_DEDUP_MOD)
                        .alias("k"))
                .join(d.select(F.col("doc_id").alias("k"), "text"), "k")
                .select("doc_id", "text"))
    base = tempfile.mkdtemp(prefix="lss_sdedup_")
    import atexit
    import shutil
    # the returned DF reads the sink lazily; clean at process exit (after
    # the harness collects), never mid-run — no cross-run accumulation
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = os.path.join(base, "in")
    src_rows.coalesce(1).write.mode("overwrite").json(src)
    stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
              .json(src))
    q = stream_dedup(stream, os.path.join(base, "out"),
                     os.path.join(base, "ckpt"))
    q.awaitTermination(300)
    return spark.read.parquet(os.path.join(base, "out"))


def _pin_stream_order(first_dir: str, second_dir: str) -> None:
    """Force FileStreamSource batch order: it orders files by modification
    time, and a coarse-mtime filesystem could tie (or invert) the two
    writes — which for the windowed query would advance the watermark
    past every real event. Pin mtimes explicitly: first < second."""
    import time as _time

    now = _time.time()
    for d, t in ((first_dir, now - 60), (second_dir, now)):
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))


def q_stream_event_windows(spark, sf_dir):
    """Watermarked tumbling-window streaming aggregation end-to-end
    (streaming/windows.py): the events table replays as an AvailableNow
    stream (sentinel event in a second batch advances the watermark so
    every real window closes — the standard finite-replay finalization),
    append-mode parquet sink, oracle = DuckDB time_bucket GROUP BY.
    Exercises withWatermark + window(), the late-data rollup shape."""
    import tempfile

    from light_splade_spark.streaming.windows import stream_windowed_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "ts", "event_type", "value")
    base = tempfile.mkdtemp(prefix="lss_swin_")
    import atexit
    import shutil
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = os.path.join(base, "in")
    ev.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f1.parquet"))
    sent = ev.agg(F.max("ts").alias("m")).select(
        F.lit(999_999_999).alias("event_id"),
        (F.col("m") + F.expr("INTERVAL 6 HOURS")).alias("ts"),
        F.lit("zz_sentinel").alias("event_type"),
        F.lit(0.0).alias("value"))
    sent.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f2.parquet"))
    _pin_stream_order(os.path.join(src, "f1.parquet"),
                      os.path.join(src, "f2.parquet"))
    stream = (spark.readStream
              .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, "
                      "value DOUBLE")
              .option("maxFilesPerTrigger", "1").parquet(src + "/*"))
    q = stream_windowed_counts(stream, os.path.join(base, "out"),
                               os.path.join(base, "ckpt"))
    q.awaitTermination(300)
    return (spark.read.parquet(os.path.join(base, "out"))
            .where(F.col("event_type") != "zz_sentinel")
            .select(F.date_format("w_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("w_start"),
                    "event_type", "n_events", "sum_value"))


TOMB_MOD = 7  # Q:tombstoned_topk deletes doc_id % TOMB_MOD == 3


def _tombstoned_index(spark, sf_dir: str) -> str:
    """Cached index over base docs with doc_id % TOMB_MOD == 3 tombstoned
    (never compacted — the query exercises the tombstone READ path)."""
    from light_splade_spark.index.build import (
        INDEX_FORMAT_VERSION,
        build_index,
    )
    from light_splade_spark.index.tombstones import (
        delete_docs,
        load_tombstone_ids,
    )

    def build(idx):
        base = _docs(spark, sf_dir).where(F.col("doc_id") < COMPACT_BASE)
        build_index(spark, base, idx, n_shards=4, n_buckets=8, n_salts=4,
                    n_shard_groups=1)
        delete_docs(spark, idx, [d for d in range(COMPACT_BASE)
                                 if d % TOMB_MOD == 3])

    return _fixture(f"tomb_idx_v{INDEX_FORMAT_VERSION}", sf_dir, build,
                    lambda idx: _complete(idx)
                    and load_tombstone_ids(idx) is not None)


def q_tombstoned_topk(spark, sf_dir):
    """Tombstone-delete read path (index/tombstones.py): docs with
    doc_id % 7 == 3 are deleted from the index; every query route must
    exclude them while corpus statistics stay FROZEN (N/avgdl/df still
    count the deleted docs — same contract as appends). Oracle: the
    float32-impact BM25 SQL with the exclusion applied to scoring only."""
    from light_splade_spark.index.wand import wand_topk

    idx = _tombstoned_index(spark, sf_dir)
    return wand_topk(spark, idx, QUERIES, top_k=TOP_K, local="never")


def q_compacted_topk(spark, sf_dir):
    """Append + LSM-compact lifecycle end-to-end (index/compact.py): build
    over base docs, stream-append more (frozen N/avgdl/idf — the
    reference's frozen-encoder micro-batch append), compact the groups to
    one row per (shard, bucket, term), then retrieve. The oracle
    recomputes the two-tier frozen-stats BM25 (build idf for base terms,
    batch idf for append-only terms) with float32-rounded impacts —
    hash-equality proves the whole lifecycle preserves scoring exactly."""
    from light_splade_spark.index.wand import wand_topk

    idx = _compacted_index(spark, sf_dir)
    return wand_topk(spark, idx, COMPACT_QUERIES, top_k=TOP_K, local="never")


def q_index_join_topk(spark, sf_dir):
    """Corpus-scale query route (J2 at >10^5 queries): decode the compressed
    index back to (term_id, doc_id, w) rows and score via a shuffle join +
    hash agg (index/join_scorer.py) — rank-identical to WAND on the same
    index (tests/test_join_scorer.py); oracle = float32-impact BM25 SQL.

    Folded in (50-row gate): route='phrase' rows from the SAME index via
    index/phrase.phrase_topk — conjunctive candidates from the per-shard
    WAND kernel's AND mode (not the join route), token-adjacency verified
    on candidates only; oracle = phrase_oracle_sql.
    route='and' rows via index/phrase.conjunctive_topk — boolean-AND
    retrieval on the same kernel (full-match gate, no adjacency); oracle =
    conjunctive_oracle_sql. route='and_not' adds the NOT arm: the same
    AND batch with exclude="table" — docs containing the banned term
    drop before ranking; oracle = conjunctive_oracle_sql(exclude=...)
    through the shared exclude_doc_pred hook.
    """
    from light_splade_spark.index.join_scorer import score_index_join
    from light_splade_spark.index.phrase import conjunctive_topk, phrase_topk

    idx = _cached_index(spark, sf_dir)
    qdf = spark.createDataFrame(QUERIES, "qid BIGINT, text STRING")
    orr = (score_index_join(spark, idx, qdf, top_k=TOP_K)
           .withColumn("route", F.lit("or")))
    ph = (phrase_topk(spark, idx, _docs(spark, sf_dir), PHRASES, top_k=TOP_K)
          .withColumnRenamed("pid", "qid")
          .withColumn("route", F.lit("phrase")))
    conj = (conjunctive_topk(spark, idx, QUERIES, top_k=TOP_K)
            .withColumn("route", F.lit("and")))
    nt = (conjunctive_topk(spark, idx, QUERIES, top_k=TOP_K,
                           exclude="table")
          .withColumn("route", F.lit("and_not")))
    return orr.unionByName(ph).unionByName(conj).unionByName(nt)


def q_term_stats(spark, sf_dir):
    """Term dictionary head: document+collection frequency, top 50 by df."""
    from light_splade_spark.functions.analyzers import doc_terms

    dt = doc_terms(_docs(spark, sf_dir))
    return (dt.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            .orderBy(F.desc("df"), F.asc("term")).limit(50))


def q_corpus_stats(spark, sf_dir):
    """Corpus scalars (reference index stats A5): N, avgdl, max/min dl,
    distinct terms."""
    dt = doc_tokens(_docs(spark, sf_dir))
    base = dt.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 4).alias("avgdl"),
        F.max("dl").alias("max_dl"),
        F.min("dl").alias("min_dl"),
    )
    nterm = (dt.select(F.explode("tokens").alias("term")).select("term")
             .distinct().agg(F.count(F.lit(1)).alias("n_terms")))
    return base.crossJoin(nterm)


def q_exact_dup_groups(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def q_dedup_survivors(spark, sf_dir):
    return (dedup.exact_dedup(_docs(spark, sf_dir))
            .agg(F.count(F.lit(1)).alias("n_survivors")))


def q_minhash_signatures(spark, sf_dir):
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    return dedup.minhash_signature(docs, k=8, shingle_n=3)


def q_minhash_band_pairs(spark, sf_dir):
    """MinHash LSH candidate pairs over unigram shingles (token sets) —
    identical token sets collide with certainty. max_bucket_size=None:
    this is the oracle-parity query on a bounded corpus, and the DuckDB
    mirror has no bucket cap — the production-safe capped default stays
    for real pipelines (see operators/dedup.py)."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_lsh_pairs(docs, k=8, band_size=4, shingle_n=1,
                                   max_bucket_size=None)


def q_jaccard_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.8)


def q_simhash(spark, sf_dir):
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return dedup.simhash(docs)


def q_simhash_dupes(spark, sf_dir):
    return dedup.simhash_dupes(_docs(spark, sf_dir), max_hamming=3)


def q_cosine_topk(spark, sf_dir):
    return similarity.brute_force_topk(_emb(spark, sf_dir),
                                       query_ids=list(range(10)), k=5)


def q_cosine_neardup(spark, sf_dir):
    """Exact quadratic baseline (explicitly opted-in; bounded sf corpus)."""
    return similarity.cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.4,
                                           exact=True)


def q_cosine_neardup_lsh(spark, sf_dir):
    """Bucketed (sign-LSH, multi-probe) near-dup pairs — the scale path;
    plan is a pure equi-join, no BroadcastNestedLoopJoin (asserted in
    tests/test_similarity_scale.py)."""
    return similarity.cosine_neardup_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.4, n_planes=6)


def q_ann_lsh_topk(spark, sf_dir):
    # hamming_probes pinned to 0: the DuckDB oracle mirrors the
    # single-bucket route; the OPERATOR default is 2 (recall fix, r7)
    return similarity.ann_lsh_topk(_emb(spark, sf_dir),
                                   query_ids=list(range(10)), k=5,
                                   n_planes=6, hamming_probes=0)


def q_ivf_topk(spark, sf_dir):
    """IVF at a realistic nlist (64): Arrow-batched GEMM assignment against
    a closure-broadcast centroid matrix; 'head' centroid selection so DuckDB
    can mirror the quantizer row-for-row. The k-means quantizer path is
    pytest-verified (tests/test_similarity_scale.py) — SQL cannot replay
    Lloyd iterations bit-exactly."""
    return similarity.ivf_topk(_emb(spark, sf_dir), query_ids=list(range(10)),
                               k=5, n_centroids=64, n_probe=2,
                               centroids="head")


def q_ivf_indexed_topk(spark, sf_dir):
    """IVF over the PERSISTED artifact (operators/ivf.py): assignment ran
    once at build; the query plan prunes to the probed list_id partitions
    and contains no corpus-wide UDF (asserted in tests/test_ivf_artifact).
    Head centroids so the ivf_topk DuckDB oracle mirrors it row-for-row."""
    from light_splade_spark.operators.ivf import (
        IVF_FORMAT_VERSION,
        build_ivf,
        ivf_search,
    )

    emb = _emb(spark, sf_dir)
    d = _fixture(f"ivf_v{IVF_FORMAT_VERSION}_c64", sf_dir,
                 lambda d: build_ivf(emb, d, n_centroids=64,
                                     centroids="head"),
                 lambda d: os.path.exists(os.path.join(d, "manifest.json")))
    q = [(int(r.vec_id), list(r.embedding))
         for r in emb.where(F.col("vec_id") < 10).collect()]
    return ivf_search(spark, d, q, k=5, n_probe=2)


def q_lang_id(spark, sf_dir):
    """Per-doc signal row: n-gram-heuristic language ID (tq.lang_id),
    winnowing fingerprint (tq.fingerprint), and the analyzer doc length
    (doc_tokens dl) — three map-only operators joined on doc_id (folded
    into one driver row to fit the 50-row gate; each operator stays
    independently importable and unit-tested)."""
    docs = _docs(spark, sf_dir)
    return (tq.lang_id(docs)
            .join(tq.fingerprint(docs), "doc_id")
            .join(doc_tokens(docs).select("doc_id", "dl"), "doc_id"))


def q_quality_score(spark, sf_dir):
    """Quality scoring + token accounting + the full Gopher filter suite
    in one per-doc report (F8/F9): tq.all_quality_metrics — quality_score's
    ratio features and keep flag, token_count's distinct/char counts,
    repetition_metrics' duplicate-line/bigram/ellipsis fractions, and
    gopher_metrics' alpha/bullet/symbol/stop-word/top-3-gram/dup-5-gram
    columns plus the composite gopher_keep flag, all as ONE map-only
    projection (no doc_id joins; folded into one driver row to fit the
    50-row gate)."""
    return tq.all_quality_metrics(_docs(spark, sf_dir))


def q_url_canonical_dedup(spark, sf_dir):
    """Web-corpus URL lifecycle (BASELINE input_hint ``url`` column) over a
    deterministic messy-URL synthesis: each document family gets raw
    variants — uppercase scheme/host, explicit default :80 port, tracking
    params + fragment, unsorted params — that must all canonicalize to ONE
    revisit key; ``url_dedup`` keeps the latest warc_ts per canonical URL.
    Output per canonical URL: the registrable domain (exercises the
    two-level public-suffix rule via four synthetic TLD families), the
    raw row count, and the surviving doc_id. The oracle derives every
    value from the synthesis CLOSED FORM (it never re-implements the
    canonicalizer), so it independently checks canonical_url /
    registrable_domain / url_dedup end-to-end."""
    from light_splade_spark.functions import urls

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    m3 = F.col("doc_id") % 3
    m4 = F.col("doc_id") % 4
    tldn = F.ascii(F.substring(F.col("source"), -1, 1)) % 4
    tld = F.element_at(F.array(
        F.lit("example.com"), F.lit("sample.co.uk"),
        F.lit("example.org"), F.lit("pages.com.au")), tldn + 1)
    host = F.concat(F.lit("www."), F.lower("source"), F.lit("."), tld)
    raw = docs.select(
        "doc_id",
        F.concat(
            F.when(m3 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
            F.lit("://"),
            F.when(m3 == 0, F.upper(host)).otherwise(host),
            F.when(m3 == 2, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/p/"), (F.col("doc_id") % 25).cast("string"),
            F.when(m4 == 0, F.lit("?utm_source=feed&b=2&a=1#frag"))
            .when(m4 == 1, F.lit("?b=2&a=1"))
            .when(m4 == 2, F.lit("?a=1&b=2&gclid=x"))
            .otherwise(F.lit(""))).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
        .alias("warc_ts"))
    counts = (raw.withColumn("canon_url", urls.canonical_url("url"))
              .groupBy("canon_url").agg(F.count(F.lit(1)).alias("n_raw")))
    survivors = urls.url_dedup(raw, "url", "warc_ts", id_col="doc_id")
    named = survivors.select(
        "canon_url",
        urls.registrable_domain(F.col("canon_url")).alias("domain"),
        F.col("doc_id").alias("survivor_doc_id"))
    # cluster-preserving dense docID assignment over the dedup survivors
    # (operators/docid.py): same-site pages get adjacent ids so posting
    # d-gaps shrink; the oracle mirrors it as ONE global window because
    # the bucketed construction equals the total order
    # (substr(md5(site),1,4), site, canon_url, survivor_doc_id)
    from light_splade_spark.operators.docid import assign_doc_ids
    remapped = assign_doc_ids(
        named, order_cols=("canon_url", "survivor_doc_id"),
        site_col="domain")
    return remapped.join(counts, "canon_url")


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style statistical-LM quality signal: additively-smoothed
    corpus bigram model, per-doc mean negative log-likelihood and
    pseudo-perplexity (operators/perplexity.py pins the exact formula;
    <2-token docs keep a row with ppl 1.0)."""
    from light_splade_spark.operators.perplexity import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


def q_ranking_metrics(spark, sf_dir):
    """MRR/NDCG/MAP/recall/precision@10 of BM25 results against the
    deterministic qrels rule (doc_id % QREL_MOD == qid)."""
    docs = _docs(spark, sf_dir)
    results = bm25_sql.bm25_topk_docs(docs, QUERIES, top_k=TOP_K)
    qids = [q for q, _ in QUERIES]
    qrels = (docs.select("doc_id")
             .withColumn("qid", F.col("doc_id") % QREL_MOD)
             .where(F.col("qid").isin(qids))
             .select("qid", "doc_id"))
    return metrics.ranking_metrics(results.select("qid", "rank", "doc_id"),
                                   qrels, k_values=[10])


def q_revenue_by_nation(spark, sf_dir):
    """J1-style lookup joins + aggregation (broadcast dims)."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    n = _tbl(spark, sf_dir, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


def q_top_orders_per_cust(spark, sf_dir):
    """T1 window top-k on the star schema."""
    from pyspark.sql import Window

    o = _tbl(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "rank", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice")))


def q_customers_no_orders(spark, sf_dir):
    """J4/J5 anti-join."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey").orderBy("c_custkey"))


def q_nations_cust_not_supp(spark, sf_dir):
    """U3/U4 set ops: nation keys with customers EXCEPT those with suppliers."""
    c = _tbl(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _tbl(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.distinct().subtract(s.distinct())


def q_orders_per_cust_csv(spark, sf_dir):
    """A8 groupBy + collect_set analog with deterministic CSV rendering."""
    o = _tbl(spark, sf_dir, "orders").where(F.col("o_custkey") < 20)
    return (o.groupBy("o_custkey")
            .agg(F.array_join(
                F.transform(F.sort_array(F.collect_list("o_orderkey")),
                            lambda x: x.cast("string")), ",").alias("orderkeys")))


def q_events_json(spark, sf_dir):
    """F1 JSON decode: extract props.k and aggregate per event_type."""
    e = _tbl(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (e.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.count(F.lit(1)).alias("n")))


def q_char_budget(spark, sf_dir):
    """P2/P7 char-budget truncation with column arithmetic (reference
    models/splade.py:229-231, run_predict_cross_encoder.py:106-119)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        (50 + F.col("doc_id") % 40).alias("budget"),
        F.md5(F.expr("substring(text, 1, int(50 + doc_id % 40))")).alias("trunc_md5"),
    )


def _media(spark, sf_dir):
    """Deterministic synthetic media table derived from documents: payload =
    UTF-8 bytes of the text, kind cycles image/audio/video, duration from
    doc_id — so every metadata-derived output is DuckDB-expressible while the
    binary plumbing (BINARY column + struct metadata) is real."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(32).alias("width"), F.lit(32).alias("height"),
            ((F.col("doc_id") % 5) * 2500).cast("int").alias("duration_ms"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal feature-extraction plumbing (mapInPandas over BINARY
    payloads, stubbed deterministic decode): byte accounting and feature
    shape are DuckDB-checkable; the stub feature values are exercised by
    pytest (tests/test_sources.py)."""
    from light_splade_spark.operators.multimodal import extract_features

    feats = extract_features(_media(spark, sf_dir), decoder="fake")
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.size("features").alias("f_dim"),
    )


def q_frame_samples(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled timestamp from the
    metadata struct (mapInPandas; exact row multiset vs DuckDB range())."""
    from light_splade_spark.operators.multimodal import frame_sample

    media = _media(spark, sf_dir).where(F.col("kind") == "video")
    return frame_sample(media, every_ms=1000)


# Q:extracted_frames synthesis parameters — every payload property is a
# closed form of doc_id so the DuckDB oracle needs no decoding: frame i of
# video doc_id is a (HEIGHT, WIDTH, 3) BI_RGB frame whose row y has the
# constant value BASE(doc_id, i) + y, with BASE < 200 so adding y never
# wraps. gray_mean*510 is then the INTEGER 2*BASE + (height-1) — immune to
# float32-vs-double rounding at the driver's hash compare.
AVI_US_PF = 40000  # 25 fps


def _media_avi(spark, sf_dir):
    """Media table whose video payloads are REAL deterministic BI_RGB AVIs
    (riff_avi.write_avi), built distributed in a mapInPandas stage."""
    import pandas as pd

    d = _docs(spark, sf_dir).where(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 2)
    ).select("doc_id")

    def synth(batches):
        import numpy as np

        from light_splade_spark.operators.riff_avi import write_avi

        for pdf in batches:
            ids, kinds, payloads, metas = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n, w, h = 2 + did % 9, 4 + did % 4, 3 + did % 3
                frames = []
                for i in range(n):
                    base = (did * 31 + i * 17) % 200
                    col = (base + np.arange(h, dtype=np.uint8))[:, None]
                    frames.append(
                        np.broadcast_to(col[:, :, None], (h, w, 3)).copy())
                ids.append(did)
                kinds.append("video")
                payloads.append(write_avi(frames, us_per_frame=AVI_US_PF))
                metas.append((w, h, n * AVI_US_PF // 1000, "video/avi"))
            yield pd.DataFrame({"media_id": ids, "kind": kinds,
                                "payload": payloads, "meta": metas})

    from light_splade_spark.operators.multimodal import MEDIA_SCHEMA
    return d.mapInPandas(synth, MEDIA_SCHEMA)


def q_extracted_frames(spark, sf_dir):
    """Payload-REAL video frame extraction end-to-end (VERDICT r4 item 2):
    synthesize deterministic BI_RGB AVIs distributed, demux + decode each
    with the pure-stdlib parser (operators/riff_avi.py), sample the frame
    on display every 120 ms, and emit its exact gray level — the oracle is
    the closed-form synthesis arithmetic, so a wrong stride, frame order,
    us_per_frame clock, or channel mean shows up as a hash mismatch."""
    from light_splade_spark.operators.multimodal import extract_frames

    ef = extract_frames(_media_avi(spark, sf_dir), every_ms=120)
    return ef.select(
        "media_id", "frame_idx", "ts_ms", "width", "height",
        F.round(F.col("gray_mean") * 510).cast("int").alias("gray2x"),
    )


def q_cjk_tokens(spark, sf_dir):
    """CJK analyzer v2 (F3, reference models/splade.py:237-245 — the
    Japanese-first tokenize path): documents text is deterministically
    Japanese-ified via translate(), then tokenized with the v2 analyzer
    (ASCII words + CJK character bigrams). The full token multiset is
    hash-compared per doc against the DuckDB mirror."""
    from light_splade_spark.functions.analyzers import ANALYZER_V2_CJK

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    jp = F.translate(F.col("text"), "aeiouskt", "アイウエオサカタ")
    toks = ANALYZER_V2_CJK.spark_tokens(jp)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.md5(F.array_join(F.array_sort(toks), "|")).alias("tok_md5"),
    )


# appended to every doc in the wordpiece oracle query so the BERT
# BasicTokenizer pre-tokenization is exercised on accents, punctuation,
# Cyrillic, Greek, and Japanese (ideographs spaced per-char, kana kept as
# runs) — both engines derive the same text, so the closed-form
# SINGLE_CHAR_VOCAB oracle hash-checks the full multilingual stream.
WP_MIXED_SLICE = " Café—naïve, Привет?! mañana… 東京都カタカナ (wp4)."


def q_wordpiece_tokens(spark, sf_dir):
    """WordPiece v4 subword tokenization (F3's learned-vocab path, reference
    models/splade.py:237-245, data/base.py:67-76): BERT BasicTokenizer
    pre-tokenization (lower, NFD accent-strip, punctuation split, CJK
    ideograph spacing — every script, not just ASCII) + the distributed
    Arrow-UDF greedy tokenizer run with SINGLE_CHAR_VOCAB — the vocab whose
    WordPiece expansion has an exact closed form (first char, then ##char
    per following char; whole word -> [UNK] if any char is outside the
    vocab), so DuckDB mirrors the token stream independently without
    reimplementing greedy matching. A mixed-script slice (WP_MIXED_SLICE)
    is appended in both engines to exercise the multilingual path. General
    multi-char greedy longest-match is hypothesis/pytest-verified
    (tests/test_wordpiece.py) and hash-checked via the precomputed-token
    -table oracle (Q:wordpiece_multichar)."""
    from light_splade_spark.functions.wordpiece import (
        SINGLE_CHAR_VOCAB,
        make_wordpiece_analyzer,
    )

    wp = make_wordpiece_analyzer(SINGLE_CHAR_VOCAB)
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    toks = wp.spark_tokens(F.concat(F.col("text"), F.lit(WP_MIXED_SLICE)))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_pieces"),
        F.size(F.filter(toks, lambda t: t.startswith("##"))).alias("n_cont"),
        F.md5(F.array_join(toks, "|")).alias("tok_md5"),
    )


# general multi-char vocab for Q:wordpiece_multichar — the single-char
# closure (no [UNK] on alnum) plus overlapping multi-char pieces chosen to
# force nontrivial greedy longest-match decisions on the corpus vocabulary
# (e.g. "value" whole-word vs "val"+"##ue", "que"+"##ry" vs "qu"+...).
WP_MULTICHAR_VOCAB: tuple = None  # built lazily below (needs the import)


def _wp_multichar_vocab():
    global WP_MULTICHAR_VOCAB
    if WP_MULTICHAR_VOCAB is None:
        from light_splade_spark.functions.wordpiece import SINGLE_CHAR_VOCAB
        WP_MULTICHAR_VOCAB = tuple(SINGLE_CHAR_VOCAB) + (
            "the", "data", "spark", "join", "scan", "batch", "bat", "value",
            "val", "wind", "window", "que", "qu", "cust", "tab", "str",
            "##er", "##le", "##ing", "##ue", "##lue", "##ow", "##dow",
            "##umn", "##ream", "##eam", "##ry", "##ery", "##ch", "##tch",
            "##omer", "##s", "##ter",
        )
    return WP_MULTICHAR_VOCAB


def q_wordpiece_multichar(spark, sf_dir):
    """General-vocab WordPiece with real multi-char ``##`` merges,
    hash-checked end-to-end (VERDICT r3 item 7). The Spark side runs the
    distributed Arrow-UDF analyzer; the oracle is self-contained pure SQL
    (no side files, no ordering dependency — ADVICE r4): DuckDB basic
    tokens (wordpiece_basic_tokens_sql) + a recursive-CTE greedy
    longest-match over the inlined vocab (each recursion step LEFT JOIN
    LATERALs the longest matching piece — a different mechanism than the
    kernel's shrinking-suffix loop). The driver hash-compares the two
    token streams row-for-row."""
    from light_splade_spark.functions.wordpiece import make_wordpiece_analyzer

    wp = make_wordpiece_analyzer(_wp_multichar_vocab())
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return d.select(
        "doc_id", F.posexplode(wp.spark_tokens("text")).alias("pos", "piece"))


# deterministic eval-triplet derivation shared by the Spark query and the
# DuckDB oracle: 64 queries (text = first 80 chars of doc qid), pos = the
# doc itself, neg = doc (qid*7+3) % 500, batches of 8 (the trainer's
# fixed-bs batching), integer-arithmetic teacher scores.
LOSS_N_QUERIES, LOSS_BS, LOSS_NEG_MOD = 64, 8, 500


def q_training_losses(spark, sf_dir):
    """Eval-time values of the reference's training objectives (§2.9/A7:
    pairwise contrastive, margin MSE, 2-way KL divergence, in-batch
    negatives with the off-diagonal trick), computed as distributed
    aggregations over a deterministic triplet set scored by the exact
    qtf*tf dot (reference losses/*.py, trainer/splade_trainer.py:269-277;
    see operators/losses.py for formula provenance)."""
    from light_splade_spark.functions.analyzers import doc_terms, query_terms
    from light_splade_spark.operators import losses as L

    docs = _docs(spark, sf_dir)
    q = docs.where(F.col("doc_id") < LOSS_N_QUERIES).select(
        F.col("doc_id").alias("qid"),
        F.floor(F.col("doc_id") / LOSS_BS).alias("batch_id"),
        F.substring("text", 1, 80).alias("qtext"),
        ((F.col("doc_id") * 7 + 3) % LOSS_NEG_MOD).alias("neg_id"),
    )
    qt = query_terms(q.select("qid", F.col("qtext").alias("text")))
    dt = doc_terms(docs).select("doc_id", "term", "tf")
    # all (query, doc) scores with any term overlap; pairs without overlap
    # are dense zeros, restored by coalesce after the left join
    raw = (qt.join(dt, "term")
           .groupBy("qid", "doc_id")
           .agg(F.sum(F.col("qtf") * F.col("tf"))
                .cast("double").alias("s")))

    def with_score(pairs, doc_col):
        p = pairs.join(
            raw.withColumnRenamed("doc_id", doc_col).withColumnRenamed(
                "s", "_s"),
            ["qid", doc_col], "left")
        return p.withColumn("score", F.coalesce("_s", F.lit(0.0))).drop("_s")

    scored = with_score(
        q.select("batch_id", "qid", F.col("qid").alias("pos_doc")),
        "pos_doc").withColumnRenamed("score", "pos_score")
    scored = scored.join(
        with_score(q.select("qid", F.col("neg_id").alias("neg_doc")),
                   "neg_doc").select("qid",
                                     F.col("score").alias("neg_score")),
        "qid")
    scored = scored.select(
        "batch_id", "qid", "pos_score", "neg_score",
        (((F.col("qid") * 13) % 97) / 10.0).alias("teacher_pos_score"),
        (((F.col("qid") * 29) % 83) / 10.0).alias("teacher_neg_score"))
    # dense (bs, bs) per-batch cross matrix: every (query, positive-of-j)
    a = q.select("batch_id", "qid")
    b = q.select("batch_id", F.col("qid").alias("j"))
    cross = with_score(a.join(b, "batch_id")
                       .select("batch_id", "qid", "j",
                               F.col("j").alias("pos_doc")), "pos_doc") \
        .select("batch_id", "qid", "j", "score")

    row = (
        L.pairwise_contrastive_loss(scored)
        .select(F.col("loss").alias("pairwise"))
        .crossJoin(L.margin_mse_loss(scored)
                   .select(F.col("loss").alias("margin_mse")))
        .crossJoin(L.kldiv_loss(scored)
                   .select(F.col("loss").alias("kldiv")))
        .crossJoin(L.in_batch_negatives_loss(cross, scored)
                   .select(F.col("loss").alias("in_batch")))
    )
    return row


def q_flops_reg(spark, sf_dir):
    """Sparsity regularizers over the pseudo-encoder expansion of a 30-doc
    batch: FLOPS = sum_term (mean_batch |w|)^2 (reference
    regularizer/flops.py:34-44, Eq 4) and mean-L1 = mean_rows sum |w|
    (regularizer/l1.py:28-38) — the penalties a SPLADE trainer monitors."""
    from light_splade_spark.functions.analyzers import splade_expansion
    from light_splade_spark.operators.losses import (
        flops_regularizer,
        l1_regularizer,
    )

    exp = splade_expansion(_docs(spark, sf_dir).where(F.col("doc_id") < 30))
    return flops_regularizer(exp, n_batch=30).crossJoin(
        l1_regularizer(exp, n_batch=30))


def q_dup_components(spark, sf_dir):
    """Connected components over the verified near-dup pair graph —
    iterative min-label propagation, oracle = DuckDB recursive CTE."""
    from light_splade_spark.operators.dedup import connected_components
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.8)
    return connected_components(pairs).select("node", "component")


def q_splade_expansion(spark, sf_dir):
    """A1/F4: log1p∘relu pseudo-encoder weights, MAX over token positions."""
    from light_splade_spark.functions.analyzers import splade_expansion
    return splade_expansion(_docs(spark, sf_dir).where(F.col("doc_id") < 30))


def q_doc_topterms(spark, sf_dir):
    """T2: per-doc term weights sorted desc (top 3 by BM25 weight, tie->term)."""
    from pyspark.sql import Window
    from light_splade_spark.functions.analyzers import doc_terms
    from light_splade_spark.plans.bm25_sql import K1, B as B_

    docs = _docs(spark, sf_dir)
    dt = doc_terms(docs)
    # N/avgdl over ALL docs (zero-token docs count with dl=0), matching
    # build_dims and bm25_topk_docs; Σdl / N is an exact cross-engine double
    n = docs.count()
    sum_dl = (dt.groupBy("doc_id").agg(F.first("dl").alias("dl"))
              .agg(F.sum("dl").alias("s")).collect()[0]["s"]) or 0
    avgdl = int(sum_dl) / n
    dfd = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (F.log(1.0 + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
         * (F.col("tf") * (K1 + 1.0))
         / (F.col("tf") + K1 * (1.0 - B_ + B_ * F.col("dl") / F.lit(avgdl))))
    scored = dt.join(F.broadcast(dfd), "term").select(
        "doc_id", "term", F.round(w, 4).alias("weight"))
    win = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (scored.withColumn("pos", F.row_number().over(win))
            .where(F.col("pos") <= 3).select("doc_id", "pos", "term", "weight"))


def q_events_agg(spark, sf_dir):
    """Event rollup per type, including the F7 inverse-sigmoid columns:
    ln(p) - ln(1-p) with ±1e6 clamps (reference
    run_predict_cross_encoder.py:45-54) computed per row — p derived by
    exact integer arithmetic so it stays strictly inside (0,1) in both
    engines, rounded to 3 like the reference's logit output — then
    aggregated (folded into this row to fit the 50-row driver gate; the
    avg/max stay sensitive to every row's logit)."""
    e = _tbl(spark, sf_dir, "events")
    p = (1.0 + F.pmod(F.floor(F.col("value") * 100), F.lit(998))) / 1000.0
    logit = F.log(p) - F.log(1.0 - p)
    clamped = F.when(logit > 1e6, 1e6).when(logit < -1e6, -1e6).otherwise(logit)
    lg = F.round(clamped, 3)
    return (e.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.avg("value"), 4).alias("avg_value"),
                 F.round(F.avg(lg), 4).alias("avg_logit"),
                 F.max(lg).alias("max_logit")))


def q_events_tumbling(spark, sf_dir):
    """Event-time tumbling-window aggregation (1 hour, UTC)."""
    e = _tbl(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (e.groupBy(
                F.date_format(w.start, "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_pipeline_attrition(spark, sf_dir):
    """Cleaning-pipeline attrition report: input -> corpus-level
    boilerplate-line removal (C4/CCNet-style line_dedup: a line in >1
    distinct docs is removed everywhere) -> quality-pass on the CLEANED
    text -> exact-dedup survivors -> deterministic per-language
    stratified sample (en 0.5, zh 0.25, default 0.1 — the temperature
    curation stage), as one auditable row with line-level accounting."""
    from light_splade_spark.functions.text_quality import quality_score
    from light_splade_spark.operators.dedup import exact_dedup, line_dedup
    from light_splade_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    cleaned = line_dedup(docs, max_occurrences=1)
    lstats = cleaned.agg(
        F.sum("n_lines_in").cast("bigint").alias("n_lines_total"),
        F.sum(F.col("n_lines_in") - F.col("n_lines_kept")).cast("bigint")
        .alias("n_lines_removed"))
    q = quality_score(cleaned).where("keep").select("doc_id")
    kept = cleaned.join(q, cleaned.doc_id == q.doc_id, "left_semi")
    deduped = exact_dedup(kept)
    sampled = stratified_sample(deduped, {"en": 0.5, "zh": 0.25},
                                strata_col="lang", default_fraction=0.1)
    return (docs.agg(F.count(F.lit(1)).alias("n_input"))
            .crossJoin(lstats)
            .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_quality")))
            .crossJoin(deduped.agg(F.count(F.lit(1)).alias("n_distinct")))
            .crossJoin(sampled.agg(F.count(F.lit(1)).alias("n_sampled"))))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_topk": q_bm25_topk,
        "dot_topk": q_dot_topk,
        "wand_topk": q_wand_topk,
        "wand_point": q_wand_point,
        "compacted_topk": q_compacted_topk,
        "tombstoned_topk": q_tombstoned_topk,
        "stream_dedup": q_stream_dedup,
        "stream_event_windows": q_stream_event_windows,
        "index_join_topk": q_index_join_topk,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "url_canonical_dedup": q_url_canonical_dedup,
        "lm_perplexity": q_lm_perplexity,
        "exact_dup_groups": q_exact_dup_groups,
        "dedup_survivors": q_dedup_survivors,
        "minhash_signatures": q_minhash_signatures,
        "minhash_band_pairs": q_minhash_band_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "simhash": q_simhash,
        "simhash_dupes": q_simhash_dupes,
        "cosine_topk": q_cosine_topk,
        "cosine_neardup": q_cosine_neardup,
        "cosine_neardup_lsh": q_cosine_neardup_lsh,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_indexed_topk": q_ivf_indexed_topk,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "ranking_metrics": q_ranking_metrics,
        "revenue_by_nation": q_revenue_by_nation,
        "top_orders_per_cust": q_top_orders_per_cust,
        "customers_no_orders": q_customers_no_orders,
        "nations_cust_not_supp": q_nations_cust_not_supp,
        "orders_per_cust_csv": q_orders_per_cust_csv,
        "events_agg": q_events_agg,
        "events_tumbling": q_events_tumbling,
        "pipeline_attrition": q_pipeline_attrition,
        "events_json": q_events_json,
        "char_budget": q_char_budget,
        "cjk_tokens": q_cjk_tokens,
        "media_features": q_media_features,
        "frame_samples": q_frame_samples,
        "extracted_frames": q_extracted_frames,
        "wordpiece_tokens": q_wordpiece_tokens,
        "wordpiece_multichar": q_wordpiece_multichar,
        "training_losses": q_training_losses,
        "flops_reg": q_flops_reg,
        "dup_components": q_dup_components,
        "splade_expansion": q_splade_expansion,
        "doc_topterms": q_doc_topterms,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_TOK = bm25_sql.tokens_sql("text")
_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
dtok AS (SELECT doc_id, {_TOK} AS toks FROM documents)
"""


def _qt_values() -> str:
    return ", ".join(f"({q}, '{t}', {c})"
                     for q, t, c in bm25_sql.query_term_rows(QUERIES))


def oracle_sql() -> dict[str, str]:
    from light_splade_spark.functions.text_quality import LANG_MARKERS, STOPWORDS
    from light_splade_spark.operators.similarity import random_hyperplanes

    o: dict[str, str] = {}
    o["bm25_topk"] = bm25_sql.bm25_oracle_sql(QUERIES, top_k=TOP_K)
    # the flagship WAND path: identical ranking semantics, but impacts are
    # float32 (as stored in the index) — the oracle mirrors that cast
    o["wand_topk"] = bm25_sql.bm25_oracle_sql(QUERIES, top_k=TOP_K,
                                              float32_impacts=True)
    o["wand_point"] = bm25_sql.bm25_oracle_sql(QUERIES[:2], top_k=TOP_K,
                                               float32_impacts=True)
    o["stream_dedup"] = f"""
SELECT md5(t.text) AS h, g.doc_id, t.text
FROM (SELECT doc_id % {STREAM_DEDUP_MOD} AS k, min(doc_id) AS doc_id
      FROM documents WHERE doc_id < 200
      GROUP BY doc_id % {STREAM_DEDUP_MOD}) g
JOIN documents t ON t.doc_id = g.k
"""
    o["stream_event_windows"] = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, event_type
"""
    o["tombstoned_topk"] = bm25_sql.bm25_oracle_sql(
        QUERIES, top_k=TOP_K, float32_impacts=True,
        table=f"(SELECT * FROM documents WHERE doc_id < {COMPACT_BASE})",
        exclude_doc_pred=f"dt.doc_id % {TOMB_MOD} = 3")
    o["compacted_topk"] = bm25_sql.bm25_append_oracle_sql(
        COMPACT_QUERIES, top_k=TOP_K,
        table=f"(SELECT doc_id, {_COMPACT_CASE_SQL} AS text FROM documents)",
        base_pred=f"doc_id < {COMPACT_BASE}",
        app_pred=[
            f"doc_id >= {COMPACT_BASE} AND doc_id < {COMPACT_HI}",
            f"doc_id >= {COMPACT_HI} AND doc_id < {COMPACT_HI2}",
        ])
    # the join-over-decoded-index route scores the same float32 impacts
    o["index_join_topk"] = f"""
SELECT qid, rank, doc_id, score, 'or' AS route FROM (
{bm25_sql.bm25_oracle_sql(QUERIES, top_k=TOP_K, float32_impacts=True)}
)
UNION ALL
SELECT qid, rank, doc_id, score, 'phrase' AS route FROM (
{bm25_sql.phrase_oracle_sql(PHRASES, top_k=TOP_K)}
)
UNION ALL
SELECT qid, rank, doc_id, score, 'and' AS route FROM (
{bm25_sql.conjunctive_oracle_sql(QUERIES, top_k=TOP_K)}
)
UNION ALL
SELECT qid, rank, doc_id, score, 'and_not' AS route FROM (
{bm25_sql.conjunctive_oracle_sql(QUERIES, top_k=TOP_K, exclude="table")}
)
"""

    o["dot_topk"] = f"""
WITH {_TOK_CTE},
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
qt(qid, term, qtf) AS (VALUES {_qt_values()}),
scored AS (
  SELECT qt.qid, dt.doc_id, CAST(sum(qt.qtf * dt.tf) AS BIGINT) AS score
  FROM qt JOIN dt ON qt.term = dt.term GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
  FROM scored)
SELECT qid, rank, doc_id, score FROM ranked WHERE rank <= {TOP_K}
"""

    o["term_stats"] = f"""
WITH {_TOK_CTE},
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM dt GROUP BY term ORDER BY df DESC, term ASC LIMIT 50
"""

    o["corpus_stats"] = f"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, len(toks) AS dl FROM dtok)
SELECT count(*) AS n_docs, round(avg(dl), 4) AS avgdl,
       max(dl) AS max_dl, min(dl) AS min_dl,
       (SELECT count(DISTINCT term) FROM tok) AS n_terms
FROM dl
"""

    # url_canonical_dedup: the oracle derives every value from the messy-URL
    # synthesis CLOSED FORM (never re-implements the canonicalizer) — see
    # q_url_canonical_dedup.
    o["url_canonical_dedup"] = """
WITH r AS (
  SELECT doc_id,
         lower(source) AS src,
         doc_id % 25 AS k,
         CASE WHEN doc_id % 4 = 3 THEN '' ELSE '?a=1&b=2' END AS q,
         CASE (ascii(right(source, 1)) % 4)
           WHEN 0 THEN 'example.com' WHEN 1 THEN 'sample.co.uk'
           WHEN 2 THEN 'example.org' ELSE 'pages.com.au' END AS tld,
         CASE (ascii(right(source, 1)) % 4)
           WHEN 0 THEN 'example.com' WHEN 1 THEN 'sample.co.uk'
           WHEN 2 THEN 'example.org' ELSE 'pages.com.au' END AS dom
  FROM documents)
, surv AS (
  SELECT 'http://www.' || src || '.' || tld || '/p/' || k || q AS canon_url,
         max(dom) AS domain,
         max(doc_id) AS survivor_doc_id,
         count(*) AS n_raw
  FROM r GROUP BY 1)
SELECT canon_url, domain, survivor_doc_id,
       row_number() OVER (
         ORDER BY substr(md5(domain), 1, 4), domain,
                  canon_url, survivor_doc_id) - 1 AS ordered_id,
       n_raw
FROM surv
"""

    # lm_perplexity: mirrors the pinned model in operators/perplexity.py
    # (alpha = 0.5, U = corpus occurrence counts, V = distinct tokens).
    o["lm_perplexity"] = f"""
WITH {_TOK_CTE},
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM dtok)
),
uni AS (SELECT term AS w, count(*) AS u_cnt FROM tok GROUP BY 1),
vv AS (SELECT count(DISTINCT term) AS v FROM tok),
bic AS (SELECT w1, w2, count(*) AS b_cnt FROM bg GROUP BY 1, 2),
nll AS (
  SELECT bg.doc_id,
         -ln((bic.b_cnt + 0.5) / (uni.u_cnt + 0.5 * vv.v)) AS nll
  FROM bg
  JOIN bic ON bg.w1 = bic.w1 AND bg.w2 = bic.w2
  JOIN uni ON uni.w = bg.w1
  CROSS JOIN vv
),
agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(nll) / count(*) AS a
        FROM nll GROUP BY 1)
SELECT d.doc_id,
       coalesce(agg.n_bigrams, 0) AS n_bigrams,
       round(coalesce(agg.a, 0.0), 4) AS avg_nll,
       round(exp(coalesce(agg.a, 0.0)), 4) AS ppl
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""

    o["exact_dup_groups"] = """
SELECT min(doc_id) AS keeper, count(*) AS dup_count,
       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""

    o["dedup_survivors"] = """
SELECT count(*) AS n_survivors
FROM (SELECT min(doc_id) FROM documents GROUP BY md5(text))
"""

    mh_cols = ",\n  ".join(
        f"min(md5(sh || '#{i}')) AS mh_{i}" for i in range(8))
    o["minhash_signatures"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOK} AS t FROM documents WHERE doc_id < 50
),
sh3 AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(t) >= 3 THEN list_transform(
      range(0, len(t) - 2),
      i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
    ELSE []::VARCHAR[] END) AS sh
  FROM toks
)
SELECT doc_id, {mh_cols}
FROM sh3 GROUP BY doc_id
"""

    band_cte = " UNION ALL ".join(
        f"SELECT doc_id, md5('{b}' || '|' || mh_{b*4} || '|' || mh_{b*4+1} || '|' "
        f"|| mh_{b*4+2} || '|' || mh_{b*4+3}) AS band FROM sig"
        for b in range(2)
    )
    o["minhash_band_pairs"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_TOK}) AS sh FROM documents
),
sig AS (
  SELECT doc_id, {", ".join(f"min(md5(sh || '#{i}')) AS mh_{i}" for i in range(8))}
  FROM sh GROUP BY doc_id
),
bands AS ({band_cte})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""

    o["jaccard_pairs"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_TOK}) AS sh
  FROM documents WHERE doc_id < 200
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8
"""

    bit_sums = ",\n  ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(dedup.SIMHASH_BITS))
    bit_recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(dedup.SIMHASH_BITS))
    simhash_cte = f"""
t AS (
  SELECT DISTINCT doc_id, unnest({_TOK}) AS term FROM documents {{pred}}
),
th AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM t),
sums AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
sh AS (SELECT doc_id, {bit_recombine} AS simhash FROM sums)
"""
    o["simhash"] = ("WITH " + simhash_cte.format(pred="WHERE doc_id < 100")
                    + "SELECT doc_id, simhash FROM sh")

    chunk_sel = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS ci, "
        f"(simhash >> {c * 15}) & {(1 << (15 if c < 3 else 15)) - 1} AS cv FROM sh"
        for c in range(4)
    )
    o["simhash_dupes"] = ("WITH " + simhash_cte.format(pred="") + f""",
chunks AS ({chunk_sel}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
""")

    o["cosine_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
  FROM q JOIN e ON q.qid <> e.vec_id),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored)
SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 5
"""

    o["cosine_neardup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.4
"""

    planes = random_hyperplanes(64, 6, seed=42)
    plane_lits = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]" for p in planes)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, p[{i + 1}]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(6))

    probe_list = "[bucket, " + ", ".join(
        f"xor(bucket, {1 << i})" for i in range(6)) + "]"
    o["cosine_neardup_lsh"] = f"""
WITH planes AS (SELECT [{plane_lits}] AS p),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {bucket_expr} AS bucket
  FROM embeddings, planes),
probes AS (SELECT vec_id, v, unnest({probe_list}) AS probe FROM e)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM probes a JOIN e b ON a.probe = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.4
"""

    o["ann_lsh_topk"] = f"""
WITH planes AS (SELECT [{plane_lits}] AS p),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {bucket_expr} AS bucket
  FROM embeddings, planes),
q AS (SELECT vec_id AS qid, v AS qv, bucket FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
  FROM q JOIN e ON q.bucket = e.bucket AND q.qid <> e.vec_id),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored)
SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 5
"""

    cosexpr = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
               " * sqrt(list_dot_product({b}, {b})))")
    o["ivf_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS ci, v AS cv FROM e WHERE vec_id < 64),
ranked_c AS (
  SELECT e.vec_id, c.ci,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({cosexpr.format(a='e.v', b='c.cv')}, 6) DESC, c.ci
         ) AS rn
  FROM e CROSS JOIN c),
ass AS (SELECT vec_id AS nid, ci AS list_id FROM ranked_c WHERE rn = 1),
probes AS (
  SELECT vec_id AS qid, ci AS list_id FROM ranked_c
  WHERE rn <= 2 AND vec_id < 10),
scored AS (
  SELECT p.qid, a.nid,
         round({cosexpr.format(a='qe.v', b='ne.v')}, 4) AS cos
  FROM probes p
  JOIN ass a ON p.list_id = a.list_id
  JOIN e qe ON qe.vec_id = p.qid
  JOIN e ne ON ne.vec_id = a.nid
  WHERE p.qid <> a.nid),
dedup AS (SELECT DISTINCT qid, nid, cos FROM scored),
fin AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM dedup)
SELECT qid, rank, nid, cos FROM fin WHERE rank <= 5
"""
    # the persisted-artifact route computes the identical ranking
    o["ivf_indexed_topk"] = o["ivf_topk"]

    lang_case = []
    for i, (lang, m) in enumerate(sorted(LANG_MARKERS.items())):
        lst = ", ".join(f"'{w}'" for w in m)
        lang_case.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x))) AS hits_{lang}")
    hit_struct = ", ".join(
        f"{{'h': hits_{lang}, 'nr': {-i}, 'lang': '{lang}'}}"
        for i, lang in enumerate(sorted(LANG_MARKERS)))
    o["lang_id"] = f"""
WITH d AS (SELECT doc_id, text, {_TOK} AS toks FROM documents),
h AS (SELECT doc_id, {", ".join(lang_case)} FROM d),
b AS (SELECT doc_id, list_max([{hit_struct}]) AS best FROM h),
sh AS (
  SELECT doc_id,
         list_transform(
           range(0, greatest(len(toks) - 4, 0)),
           i -> md5(toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]
                    || ' ' || toks[i + 4] || ' ' || toks[i + 5])) AS hs
  FROM d)
SELECT d.doc_id,
       CASE WHEN b.best.h > 0 THEN b.best.lang ELSE 'und' END AS pred_lang,
       b.best.h AS pred_hits,
       coalesce(list_min(sh.hs), md5(d.text)) AS fp,
       len(d.toks) AS dl
FROM d JOIN b ON d.doc_id = b.doc_id JOIN sh ON d.doc_id = sh.doc_id
"""

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    o["quality_score"] = f"""
WITH d AS (SELECT doc_id, text, {_TOK} AS toks FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS ttr,
         round(list_sum(list_transform(toks, t -> length(t))) * 1.0
               / len(toks), 4) AS mean_tok_len,
         round(len(list_filter(toks, t -> list_contains([{sw}], t))) * 1.0
               / len(toks), 4) AS stopword_ratio,
         round(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1.0
               / greatest(length(text), 1), 4) AS alnum_ratio
  FROM d),
r AS (
  SELECT doc_id,
         list_sort(list_filter(list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> x <> '')) AS ls,
         list_sort(list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])) AS bs
  FROM d),
r2 AS (
  SELECT doc_id, len(ls) AS nl,
         coalesce(len(list_distinct(ls)), 0) AS ndl,
         coalesce(list_sum(list_transform(ls, x -> length(x))), 0)
           AS line_chars,
         coalesce(list_sum(list_transform(
           list_filter(range(1, len(ls) + 1), i ->
             (i > 1 AND ls[i - 1] = ls[i])
             OR (i < len(ls) AND ls[i + 1] = ls[i])),
           i -> length(ls[i]))), 0) AS dup_chars,
         len(bs) AS nb,
         len(list_filter(range(1, len(bs) + 1), i ->
             (i > 1 AND bs[i - 1] = bs[i])
             OR (i < len(bs) AND bs[i + 1] = bs[i]))) AS dup_bg,
         len(list_filter(ls, x -> ends_with(x, '...') OR ends_with(x, '…')))
           AS ell,
         len(list_filter(ls, x -> starts_with(x, '-') OR starts_with(x, '*')
             OR starts_with(x, '•') OR starts_with(x, '·'))) AS bullets
  FROM r),
g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
       FROM d),
g3c AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
g3m AS (SELECT doc_id, c * (length(g) - 2) AS top3_chars FROM (
  SELECT doc_id, g, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
  FROM g3c) WHERE rn = 1),
g5 AS (SELECT doc_id,
         list_sort(list_transform(range(1, len(toks) - 3),
           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' '
                || toks[i + 3] || ' ' || toks[i + 4])) AS gs
       FROM d),
gm AS (
  SELECT d.doc_id,
         coalesce(list_sum(list_transform(d.toks, x -> length(x))), 0)
           AS tchars,
         len(d.toks) AS nt,
         len(list_filter(d.toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_w,
         len(list_filter(list_distinct(d.toks), x -> list_contains(
           ['the','be','to','of','and','that','have','with'], x)))
           AS stop_hits,
         (length(d.text) - length(replace(d.text, '#', '')))
           + len(regexp_extract_all(d.text, '\\.\\.\\.'))
           + (length(d.text) - length(replace(d.text, '…', ''))) AS symbols,
         coalesce(list_sum(list_transform(
           list_filter(range(1, len(g5.gs) + 1), i ->
             (i > 1 AND g5.gs[i - 1] = g5.gs[i])
             OR (i < len(g5.gs) AND g5.gs[i + 1] = g5.gs[i])),
           i -> length(g5.gs[i]) - 4)), 0) AS dup5_chars
  FROM d JOIN g5 ON d.doc_id = g5.doc_id),
base AS (
SELECT f.doc_id, f.n_tokens, ttr, mean_tok_len, stopword_ratio, alnum_ratio,
       (f.n_tokens >= 10 AND ttr >= 0.1 AND mean_tok_len >= 2
        AND mean_tok_len <= 12) AS keep,
       len(list_distinct(d.toks)) AS n_distinct,
       length(d.text) AS n_chars_text,
       r2.nl AS n_lines,
       round(CASE WHEN nl > 0 THEN (nl - ndl) * 1.0 / nl ELSE 0.0 END, 4)
         AS dup_line_frac,
       round(CASE WHEN line_chars > 0 THEN dup_chars * 1.0 / line_chars
             ELSE 0.0 END, 4) AS dup_line_char_frac,
       round(CASE WHEN nb > 0 THEN dup_bg * 1.0 / nb ELSE 0.0 END, 4)
         AS dup_2gram_frac,
       round(CASE WHEN nl > 0 THEN ell * 1.0 / nl ELSE 0.0 END, 4)
         AS ellipsis_line_frac,
       round(CASE WHEN nl > 0 THEN bullets * 1.0 / nl ELSE 0.0 END, 4)
         AS bullet_line_frac
FROM f JOIN d ON f.doc_id = d.doc_id JOIN r2 ON f.doc_id = r2.doc_id),
gq AS (
SELECT base.*,
       round(CASE WHEN gm.nt > 0 THEN alpha_w * 1.0 / gm.nt ELSE 0.0 END, 4)
         AS alpha_word_frac,
       round(CASE WHEN gm.nt > 0 THEN symbols * 1.0 / gm.nt ELSE 0.0 END, 4)
         AS symbol_word_ratio,
       gm.stop_hits,
       round(CASE WHEN tchars > 0 THEN coalesce(g3m.top3_chars, 0) * 1.0
             / tchars ELSE 0.0 END, 4) AS top_3gram_char_frac,
       round(CASE WHEN tchars > 0 THEN dup5_chars * 1.0 / tchars
             ELSE 0.0 END, 4) AS dup_5gram_char_frac
FROM base JOIN gm ON base.doc_id = gm.doc_id
LEFT JOIN g3m ON base.doc_id = g3m.doc_id)
SELECT *,
       (n_tokens >= 50 AND n_tokens <= 100000
        AND mean_tok_len >= 3 AND mean_tok_len <= 10
        AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
        AND stop_hits >= 2 AND dup_line_frac <= 0.3
        AND dup_line_char_frac <= 0.2 AND top_3gram_char_frac <= 0.18
        AND dup_5gram_char_frac <= 0.15) AS gopher_keep
FROM gq
"""

    qids = ", ".join(str(q) for q, _ in QUERIES)
    idcg_vals = []
    import math
    for n in range(1, TOP_K + 1):
        idcg_vals.append((n, sum(1.0 / math.log2(i + 1) for i in range(1, n + 1))))
    idcg_values = ", ".join(f"({n}, {v!r})" for n, v in idcg_vals)
    bm25_core = bm25_sql.bm25_oracle_sql(QUERIES, top_k=TOP_K)
    bm25_body = bm25_core.strip().removeprefix("WITH")
    bm25_body = bm25_body[: bm25_body.rindex("SELECT qid, rank, doc_id, score")]
    bm25_body = bm25_body.strip().rstrip(",")
    o["ranking_metrics"] = f"""
WITH {bm25_body},
res AS (SELECT qid, rank, doc_id FROM ranked WHERE rank <= {TOP_K}),
qrels AS (
  SELECT (doc_id % {QREL_MOD}) AS qid, doc_id FROM documents
  WHERE (doc_id % {QREL_MOD}) IN ({qids})),
npos AS (SELECT qid, count(*) AS n_pos FROM qrels GROUP BY qid),
hits AS (
  SELECT r.qid, r.rank,
         CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM res r LEFT JOIN qrels qr ON r.qid = qr.qid AND r.doc_id = qr.doc_id),
hc AS (
  SELECT qid, rank, rel,
         sum(rel) OVER (PARTITION BY qid ORDER BY rank) AS cumrel
  FROM hits),
perq AS (
  SELECT qid,
         max(CASE WHEN rel = 1 THEN 1.0 / rank ELSE 0 END) AS rr,
         sum(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg,
         sum(rel) AS n_hit,
         sum(CASE WHEN rel = 1 THEN cumrel * 1.0 / rank ELSE 0 END) AS ap_num
  FROM hc GROUP BY qid),
idcg(n, v) AS (VALUES {idcg_values}),
fullq AS (
  SELECT np.qid, coalesce(p.rr, 0) AS rr, coalesce(p.dcg, 0) AS dcg,
         coalesce(p.n_hit, 0) AS n_hit, coalesce(p.ap_num, 0) AS ap_num,
         np.n_pos
  FROM npos np LEFT JOIN perq p ON np.qid = p.qid)
SELECT {TOP_K} AS k,
       round(avg(rr), 5) AS mrr,
       round(avg(dcg / i.v), 5) AS ndcg,
       round(avg(ap_num / n_pos), 5) AS ap,
       round(avg(n_hit * 1.0 / n_pos), 5) AS recall,
       round(avg(n_hit * 1.0 / {TOP_K}), 5) AS prec
FROM fullq f JOIN idcg i ON i.n = least(f.n_pos, {TOP_K})
"""

    o["revenue_by_nation"] = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    o["top_orders_per_cust"] = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders WHERE o_custkey < 50)
SELECT o_custkey, rank, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM r WHERE rank <= 3
"""

    o["customers_no_orders"] = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""

    o["nations_cust_not_supp"] = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
"""

    o["orders_per_cust_csv"] = """
SELECT o_custkey, string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS orderkeys
FROM orders WHERE o_custkey < 20 GROUP BY o_custkey
"""

    o["events_agg"] = """
WITH l AS (
  SELECT event_type, user_id, value,
         ln(pr) - ln(1.0 - pr) AS logit
  FROM (SELECT *,
          (1.0 + (CAST(floor(value * 100) AS BIGINT) % 998)) / 1000.0 AS pr
        FROM events)),
c AS (
  SELECT event_type, user_id, value,
         round(CASE WHEN logit > 1e6 THEN 1e6
                    WHEN logit < -1e6 THEN -1e6
                    ELSE logit END, 3) AS lg
  FROM l)
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
       round(avg(value), 4) AS avg_value,
       round(avg(lg), 4) AS avg_logit, max(lg) AS max_logit
FROM c GROUP BY event_type
"""

    o["events_tumbling"] = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
         AS win_start,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

    sw_lit = ", ".join(f"'{w}'" for w in STOPWORDS)
    # mirrors operators/dedup.line_dedup (corpus-level boilerplate-line
    # removal) -> quality filter on the CLEANED text -> exact dedup
    o["pipeline_attrition"] = f"""
WITH l AS (
  SELECT doc_id,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         trim(unnest(string_split(text, chr(10)))) AS line
  FROM documents),
ln AS (SELECT doc_id, pos, line FROM l WHERE line <> ''),
bad AS (SELECT line FROM ln GROUP BY line
        HAVING count(DISTINCT doc_id) > 1),
keptl AS (SELECT ln.* FROM ln ANTI JOIN bad USING (line)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
               count(*) AS n_kept
        FROM keptl GROUP BY doc_id),
cleaned AS (
  SELECT d.doc_id, d.lang, coalesce(r.text, '') AS text
  FROM documents d LEFT JOIN reb r USING (doc_id)),
toks AS (SELECT doc_id, lang, text, {_TOK} AS t FROM cleaned),
q AS (
  SELECT doc_id, lang, text FROM toks
  WHERE len(t) >= 10
    AND round(len(list_distinct(t)) * 1.0 / len(t), 4) >= 0.1
    AND round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 4)
        BETWEEN 2 AND 12),
dd AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
surv AS (SELECT q.doc_id, q.lang FROM q JOIN dd ON q.doc_id = dd.doc_id),
samp AS (
  SELECT doc_id FROM surv
  WHERE {_sample_unit_sql("doc_id")}
        < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.1 END)
SELECT (SELECT count(*) FROM documents) AS n_input,
       (SELECT count(*) FROM ln) AS n_lines_total,
       (SELECT count(*) FROM ln) - (SELECT count(*) FROM keptl)
         AS n_lines_removed,
       (SELECT count(*) FROM q) AS n_quality,
       (SELECT count(*) FROM dd) AS n_distinct,
       (SELECT count(*) FROM samp) AS n_sampled
"""

    o["events_json"] = """
SELECT event_type,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       round(avg(json_extract_string(props, '$.k')::BIGINT), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
"""

    o["media_features"] = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       16 AS f_dim
FROM documents WHERE doc_id < 200
"""

    o["frame_samples"] = """
SELECT doc_id AS media_id, unnest(range(0, (doc_id % 5) * 2500, 1000)) AS ts_ms
FROM documents
WHERE doc_id < 200 AND doc_id % 3 = 2
"""

    # closed-form mirror of the _media_avi synthesis arithmetic: the Spark
    # side actually writes + demuxes + pixel-decodes AVI payloads; the
    # oracle recomputes what those pixels must average to
    o["extracted_frames"] = f"""
WITH v AS (
  SELECT doc_id AS media_id, 2 + doc_id % 9 AS n_frames,
         CAST(4 + doc_id % 4 AS INT) AS width,
         CAST(3 + doc_id % 3 AS INT) AS height
  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 2),
s AS (
  SELECT media_id, n_frames, width, height,
         unnest(range(0, n_frames * {AVI_US_PF // 1000}, 120)) AS ts_ms
  FROM v)
SELECT media_id,
       CAST(ts_ms // {AVI_US_PF // 1000} AS INT) AS frame_idx,
       ts_ms, width, height,
       CAST(2 * ((media_id * 31 + (ts_ms // {AVI_US_PF // 1000}) * 17) % 200)
            + height - 1 AS INT) AS gray2x
FROM s
"""

    from light_splade_spark.functions.wordpiece import (
        MAX_WORD_CHARS,
        wordpiece_basic_tokens_sql,
    )
    slice_sql = WP_MIXED_SLICE.replace("'", "''")
    o["wordpiece_tokens"] = f"""
WITH d AS (
  SELECT doc_id,
         {wordpiece_basic_tokens_sql(f"text || '{slice_sql}'")} AS ws
  FROM documents WHERE doc_id < 100),
p AS (
  SELECT doc_id, flatten(list_transform(ws, w ->
    CASE WHEN regexp_matches(w, '^[a-z0-9]+$')
              AND length(w) <= {MAX_WORD_CHARS} THEN
      list_transform(range(0, length(w)), i ->
        CASE WHEN i = 0 THEN substr(w, 1, 1)
             ELSE '##' || substr(w, i + 1, 1) END)
    ELSE ['[UNK]'] END)) AS toks
  FROM d)
SELECT doc_id, len(toks) AS n_pieces,
       len(list_filter(toks, t -> t LIKE '##%')) AS n_cont,
       md5(array_to_string(toks, '|')) AS tok_md5
FROM p
"""

    # self-contained greedy WordPiece: recursive CTE advancing one piece
    # per iteration, LEFT JOIN LATERAL picking the LONGEST vocab match at
    # the current offset (no side files — ADVICE r4). Max recursion depth
    # = MAX_WORD_CHARS.
    _wp_vals = ", ".join(
        "('{}')".format(v.replace("'", "''")) for v in _wp_multichar_vocab())
    o["wordpiece_multichar"] = f"""
WITH RECURSIVE
vocab(piece) AS (VALUES {_wp_vals}),
vs AS (
  SELECT piece, piece AS m, false AS cont FROM vocab
  WHERE piece NOT LIKE '##%'
  UNION ALL
  SELECT piece, substr(piece, 3), true FROM vocab WHERE piece LIKE '##%'
),
words AS (
  SELECT doc_id, unnest(range(len(ws))) AS widx, unnest(ws) AS w
  FROM (SELECT doc_id, {wordpiece_basic_tokens_sql('text')} AS ws
        FROM documents WHERE doc_id < 100)
),
st AS (
  SELECT doc_id, widx, w,
         CASE WHEN len(w) > {MAX_WORD_CHARS} THEN len(w) ELSE 0 END AS i,
         CASE WHEN len(w) > {MAX_WORD_CHARS}
              THEN ['[UNK]'] ELSE CAST([] AS VARCHAR[]) END AS toks,
         len(w) > {MAX_WORD_CHARS} AS failed
  FROM words
  UNION ALL
  SELECT st.doc_id, st.widx, st.w,
         CASE WHEN best.piece IS NULL THEN len(st.w)
              ELSE st.i + len(best.m) END,
         CASE WHEN best.piece IS NULL THEN ['[UNK]']
              ELSE list_append(st.toks, best.piece) END,
         best.piece IS NULL
  FROM st LEFT JOIN LATERAL (
     SELECT piece, m FROM vs
     WHERE cont = (st.i > 0) AND substr(st.w, st.i + 1, len(m)) = m
     ORDER BY len(m) DESC LIMIT 1
  ) best ON true
  WHERE st.i < len(st.w) AND NOT st.failed
),
flat AS (
  SELECT doc_id, widx, unnest(range(len(toks))) AS k, unnest(toks) AS piece
  FROM st WHERE i >= len(w)
)
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY widx, k) - 1 AS pos,
       piece
FROM flat
"""

    def _ls2(a, b):
        # 2-way log_softmax of a within (a, b), max-shifted (DuckDB SQL)
        g = f"greatest({a},{b})"
        return f"({a} - ({g} + ln(exp({a}-{g}) + exp({b}-{g}))))"

    _qtok = bm25_sql.tokens_sql("substr(text,1,80)")
    o["training_losses"] = f"""
WITH q AS (
  SELECT doc_id AS qid, doc_id // {LOSS_BS} AS batch_id,
         (doc_id * 7 + 3) % {LOSS_NEG_MOD} AS neg_id,
         {_qtok} AS qtoks
  FROM documents WHERE doc_id < {LOSS_N_QUERIES}),
qtc AS (
  SELECT qid, term, count(*) AS qtf
  FROM (SELECT qid, unnest(qtoks) AS term FROM q) GROUP BY 1, 2),
dtc AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY 1, 2),
raw AS (
  SELECT qtc.qid, dtc.doc_id AS doc, CAST(sum(qtf * tf) AS DOUBLE) AS s
  FROM qtc JOIN dtc ON qtc.term = dtc.term GROUP BY 1, 2),
sc AS (
  SELECT a.batch_id, a.qid,
         coalesce(rp.s, 0) AS pos_score, coalesce(rn.s, 0) AS neg_score,
         ((a.qid * 13) % 97) / 10.0 AS tp,
         ((a.qid * 29) % 83) / 10.0 AS tn
  FROM q a
  LEFT JOIN raw rp ON rp.qid = a.qid AND rp.doc = a.qid
  LEFT JOIN raw rn ON rn.qid = a.qid AND rn.doc = a.neg_id),
cross_m AS (
  SELECT a.batch_id, a.qid, b.qid AS j, coalesce(r.s, 0) AS score
  FROM q a JOIN q b ON a.batch_id = b.batch_id
  LEFT JOIN raw r ON r.qid = a.qid AND r.doc = b.qid),
logits AS (
  SELECT batch_id, qid, score FROM cross_m
  UNION ALL SELECT batch_id, qid, neg_score FROM sc),
mx AS (SELECT batch_id, qid, max(score) AS m FROM logits GROUP BY 1, 2),
lse AS (
  SELECT l.batch_id, l.qid, mx.m + ln(sum(exp(l.score - mx.m))) AS lse
  FROM logits l JOIN mx ON l.batch_id = mx.batch_id AND l.qid = mx.qid
  GROUP BY 1, 2, mx.m),
perq AS (
  SELECT lse.batch_id, lse.lse - c.score AS ql
  FROM lse JOIN cross_m c ON c.qid = lse.qid AND c.j = lse.qid),
perb AS (SELECT batch_id, avg(ql) AS bl FROM perq GROUP BY 1),
klrows AS (
  SELECT {_ls2('pos_score', 'neg_score')} AS spl,
         {_ls2('neg_score', 'pos_score')} AS snl,
         {_ls2('tp', 'tn')} AS tpl,
         {_ls2('tn', 'tp')} AS tnl
  FROM sc)
SELECT
  (SELECT round(avg(greatest(neg_score - pos_score, 0)
                    + ln(1 + exp(-abs(neg_score - pos_score)))), 4)
   FROM sc) AS pairwise,
  (SELECT round(avg(pow((pos_score - neg_score) - (tp - tn), 2)), 4)
   FROM sc) AS margin_mse,
  (SELECT round(avg(exp(tpl) * (tpl - spl) + exp(tnl) * (tnl - snl)), 4)
   FROM klrows) AS kldiv,
  (SELECT round(avg(bl), 4) FROM perb) AS in_batch
"""

    o["flops_reg"] = f"""
WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents WHERE doc_id < 30),
pw AS (
  SELECT doc_id, unnest(list_transform(range(0, len(t)), i -> {{
    'term': t[i + 1],
    'wp': ln(1 + greatest(
      ((('0x' || substr(md5(t[i + 1] || '#' || i), 1, 15))::BIGINT % 1000)
        / 250.0 - 2.0), 0.0))
  }})) AS s
  FROM d),
exp_tbl AS (
  SELECT doc_id, s.term AS term, round(max(s.wp), 4) AS weight
  FROM pw GROUP BY doc_id, s.term
  HAVING round(max(s.wp), 4) > 0),
per_term AS (
  SELECT term, pow(sum(abs(weight)) / 30.0, 2) AS sq
  FROM exp_tbl GROUP BY term)
SELECT (SELECT round(sum(sq), 4) FROM per_term) AS flops,
       (SELECT round(sum(abs(weight)) / 30.0, 4) FROM exp_tbl) AS l1
"""

    from light_splade_spark.functions.analyzers import tokens_sql_v2
    o["cjk_tokens"] = f"""
WITH d AS (
  SELECT doc_id, translate(text, 'aeiouskt', 'アイウエオサカタ') AS jp
  FROM documents WHERE doc_id < 200),
t AS (SELECT doc_id, {tokens_sql_v2('jp')} AS toks FROM d)
SELECT doc_id, len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       md5(array_to_string(list_sort(toks), '|')) AS tok_md5
FROM t
"""

    o["char_budget"] = """
SELECT doc_id, 50 + doc_id % 40 AS budget,
       md5(substr(text, 1, CAST(50 + doc_id % 40 AS INT))) AS trunc_md5
FROM documents
"""

    o["splade_expansion"] = f"""
WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents WHERE doc_id < 30),
pw AS (
  SELECT doc_id, unnest(list_transform(range(0, len(t)), i -> {{
    'term': t[i + 1],
    'wp': ln(1 + greatest(
      ((('0x' || substr(md5(t[i + 1] || '#' || i), 1, 15))::BIGINT % 1000)
        / 250.0 - 2.0), 0.0))
  }})) AS s
  FROM d)
SELECT doc_id, s.term AS term, round(max(s.wp), 4) AS weight
FROM pw GROUP BY doc_id, s.term
HAVING round(max(s.wp), 4) > 0
"""

    o["doc_topterms"] = f"""
WITH {_TOK_CTE},
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                 (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) FROM dl)
                   / (SELECT count(*) FROM documents) AS avgdl),
tdf AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
scored AS (
  SELECT dt.doc_id, dt.term,
         round(
           ln(1.0 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * (dt.tf * ({bm25_sql.K1} + 1.0))
             / (dt.tf + {bm25_sql.K1}
                * (1.0 - {bm25_sql.B} + {bm25_sql.B} * dl.dl / s.avgdl)), 4
         ) AS weight
  FROM dt JOIN tdf ON dt.term = tdf.term
  JOIN dl ON dt.doc_id = dl.doc_id
  CROSS JOIN stats s),
ranked AS (
  SELECT doc_id, term, weight,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY weight DESC, term ASC) AS pos
  FROM scored)
SELECT doc_id, pos, term, weight FROM ranked WHERE pos <= 3
"""

    o["dup_components"] = f"""
WITH RECURSIVE
sh AS (
  SELECT DISTINCT doc_id, unnest({_TOK}) AS sh
  FROM documents WHERE doc_id < 200
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jp AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM jp
  UNION
  SELECT doc_b AS s, doc_a AS d FROM jp),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS node, least(s, min(d)) AS component
FROM reach GROUP BY s
"""
    return o
