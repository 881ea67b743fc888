"""Deterministic synthetic Common-Crawl-style corpus + reference query set.

Shapes per FIXTURES.md / BASELINE input_hint: web_pages(url, warc_ts, html,
text, lang) where html = fixed template wrap of text so extraction is
byte-identically invertible; Zipfian vocabulary so head-term skew is real.
Seed=42 everywhere; no external data. Also adapts the driver-provided
``documents.parquet`` (doc_id, text, lang, source, n_chars) into the same
corpus interface.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import DataFrame, SparkSession

SEED = 42
VOCAB_SIZE = 30_000
ZIPF_S = 1.1

_HTML_PRE = b"<!doctype html><html><head><title>p</title></head><body>"
_HTML_POST = b"</body></html>"


def _vocab(v: int = VOCAB_SIZE) -> list[str]:
    return [f"t{i:05d}" for i in range(v)]


def _zipf_probs(v: int, s: float = ZIPF_S) -> np.ndarray:
    ranks = np.arange(1, v + 1, dtype=np.float64)
    p = ranks ** (-s)
    return p / p.sum()


def make_web_pages(
    spark: SparkSession,
    n_docs: int = 1000,
    vocab_size: int = VOCAB_SIZE,
    mean_len: int = 60,
    seed: int = SEED,
    n_partitions: int = 8,
    n_sites: int = 1,
    site_topic_frac: float = 0.0,
    topic_width: int = 400,
) -> DataFrame:
    """web_pages(url, warc_ts, html BINARY, text, lang) — deterministic.

    Doc lengths ~ geometric around mean_len; term draws Zipfian (s=1.1) so a
    handful of head terms appear in nearly every doc — the skew the salted
    index build must survive. html = template + utf-8 text bytes, so
    ``extract_text_udf(html) == text`` byte-for-byte.

    ``n_sites > 1`` turns on the realistic multi-site shape: each doc is
    assigned a random site (so ARRIVAL order is site-random — the honest
    baseline for docID-assignment experiments) and draws
    ``site_topic_frac`` of its terms from the site's own Zipfian topic
    slice of ``topic_width`` consecutive vocab ranks (pages on one site
    share template/topic vocabulary — the locality that URL-ordered docID
    assignment converts into small posting d-gaps). Defaults preserve the
    original single-site output byte-identically.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(vocab_size))
    probs = _zipf_probs(vocab_size)
    langs = np.array(["en", "ja", "de", "es", "zh"])
    base_ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    lens = np.maximum(3, rng.geometric(1.0 / mean_len, n_docs))
    multi = n_sites > 1
    if multi:
        sites = rng.integers(0, n_sites, n_docs)
        # per-site topic slice: a fixed odd-multiplier scatter over ranks
        topic_off = [(j * 2654435761) % max(1, vocab_size - topic_width)
                     for j in range(n_sites)]
        tprobs = _zipf_probs(min(topic_width, vocab_size))
    rows = []
    for i in range(n_docs):
        k = int(lens[i])
        if multi:
            j = int(sites[i])
            topical = rng.random(k) < site_topic_frac
            ranks = rng.choice(min(topic_width, vocab_size), size=k, p=tprobs)
            glob = rng.choice(vocab_size, size=k, p=probs)
            idx = np.where(topical, topic_off[j] + ranks, glob)
            words = vocab[idx]
            url = f"https://site{j:05d}.example.com/p/{i}"
        else:
            words = rng.choice(vocab, size=k, p=probs)
            url = f"https://example.org/p/{i}"
        text = " ".join(words.tolist())
        html = _HTML_PRE + text.encode("utf-8") + _HTML_POST
        rows.append(
            (
                url,
                base_ts + dt.timedelta(seconds=int(i)),
                bytearray(html),
                text,
                str(langs[i % len(langs)]),
            )
        )
    df = spark.createDataFrame(
        rows, "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
    )
    return df.repartition(n_partitions)


def make_corpus_df(
    spark: SparkSession,
    n_docs: int,
    vocab_size: int = VOCAB_SIZE,
    mean_len: int = 80,
    seed: int = SEED,
    n_partitions: int = 64,
) -> DataFrame:
    """Distributed deterministic synthetic corpus (doc_id, text, dl) — pure
    JVM expressions, no driver-side rows, so it generates billions of docs if
    asked. Term draws are log-uniform over ranks (a Zipf-like heavy head:
    rank = floor(exp(u * ln(V)))), seeded per (doc_id, position) via xxhash64
    so two runs produce byte-identical text.
    """
    from pyspark.sql import functions as F

    base = spark.range(0, n_docs, 1, n_partitions).withColumnRenamed("id", "doc_id")
    # deterministic per-doc length in [mean_len/2, 3*mean_len/2)
    u_len = (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(10**9))
             / F.lit(10**9))
    dl = (F.floor(u_len * mean_len) + mean_len // 2 + 1).cast("int")
    word = lambda i: F.concat(  # noqa: E731
        F.lit("t"),
        F.lpad(
            F.floor(
                F.exp(
                    (F.pmod(F.xxhash64(F.col("doc_id"), i, F.lit(seed)),
                            F.lit(10**9)) / F.lit(10**9))
                    * float(np.log(vocab_size))
                )
            ).cast("string"),
            5, "0",
        ),
    )
    return (
        base.withColumn("dl", dl)
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.sequence(F.lit(1), F.col("dl")), word), " "
            ).alias("text"),
        )
    )


def make_queries(
    spark: SparkSession,
    corpus_vocab_size: int = VOCAB_SIZE,
    n_queries: int = 100,
    seed: int = SEED + 1,
) -> list[tuple[int, str]]:
    """Reference query set (FIXTURES.md §3): 2-8 terms, Zipfian draws, and the
    required edge cases — single-term, head-only, tail-only, absent-term,
    duplicate-term queries. Returned as literal (qid, text) pairs (a query
    batch is driver-side data by nature)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(corpus_vocab_size))
    probs = _zipf_probs(corpus_vocab_size)
    queries: list[tuple[int, str]] = [
        (0, str(vocab[0])),                         # single head term
        (1, " ".join(vocab[:4].tolist())),          # head-terms-only
        (2, " ".join(vocab[-3:].tolist())),         # tail-terms-only
        (3, "zzzabsent qqqmissing"),                # terms absent from corpus
        (4, f"{vocab[1]} {vocab[1]} {vocab[50]}"),  # duplicate-term query
    ]
    for qid in range(5, n_queries):
        k = int(rng.integers(2, 9))
        terms = rng.choice(vocab, size=k, p=probs)
        queries.append((qid, " ".join(terms.tolist())))
    return queries


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Fixed literal query batch used by __spark_entry__ / bench over the
# driver-provided `documents` tables (vocab = common synthetic words observed
# in TESTDATA; includes duplicate-term, single-term and absent-term cases).
DOCUMENTS_QUERY_SET: list[tuple[int, str]] = [
    (0, "spark"),
    (1, "hash join merge"),
    (2, "window window scan"),
    (3, "table row group filter sort"),
    (4, "absentterm9 qqqmissing"),
    (5, "stream batch"),
    (6, "query data key value"),
    (7, "customer order part supplier"),
]
