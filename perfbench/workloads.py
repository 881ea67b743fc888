"""The benchmark's workloads: seeded inputs, timed passes, output checks.

Each workload is a closed loop with one client thread: it makes one public
engine call, waits for its result, then makes the next. A pass is a fixed
mix of calls; passes repeat while another one still fits in the run's
seconds (at least one pass). Everything before the first pass is set-up; its steps run through
``Run.setup``, which repeats the cheap ones and keeps the median. Output
checks run outside the timed calls and count in ``attempted``/``failed``.

Every call goes through ``Run.call``, which times it and, in a traced run,
records it as a span named ``<layer>.<call>`` (see tracing.py). Per-layer
numbers are then read off those spans; the few that need a call made only
for measurement (an isolated tokenize, dims or decode pass) run in the
traced run alone, after the timed passes.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import proctree
from tracing import Spans, duration

# Sizes are fixed per workload; only the seed changes the inputs.
BUILD_DOCS = 1000          # base corpus of the write workload
APPEND_DOCS = 200          # docs per append micro-batch
ROUNDS = 1                 # append + delete rounds per write pass
DELETES_PER_ROUND = 5
INPUT_REPEATS = 3          # times each run generates its inputs (set-up)
QUERY_DOCS = 3000          # corpus behind the read workload's index
# Band patterns of the point queries, one query each: head (H, ranks 1-9),
# torso (T, 10-999), tail (L, 1000+) and absent (A) terms. A pass asks all
# of them, so every seed asks the same mix and only the terms differ; a
# median over a free draw of 16 moved with the draw.
POINT_MIX = ("H", "T", "L", "A", "HT", "TL", "HL", "TA", "HTL", "TLA",
             "HTT", "LLA", "HTLA", "TTLL", "HHTL", "TLLA")
BATCH_QUERIES = 200        # queries per distributed batch
BATCHES = 2                # batches per read pass
CONJ_QUERIES = 20          # queries per conjunctive batch
CHECK_QUERIES = 8          # queries compared against the SQL reference
CURATE_DOCS = 2000         # documents table of the curation layers
JACCARD_DOCS = 200         # subset for the all-pairs n-gram jaccard
TOP_K = 10
VOCAB = 30_000             # fixtures.make_corpus_df default vocabulary


class Run:
    """State of one benchmark run: session, spans, counters, samples."""

    def __init__(self, spark, spans: Spans, work_dir: str, seed: int,
                 seconds: float):
        self.spark = spark
        self.spans = spans
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.samples: dict[str, list[float]] = {}      # wall seconds
        self.cpu_samples: dict[str, list[float]] = {}  # CPU seconds
        self.layer: dict[str, float] = {}   # per-layer values set directly
        self.inputs: dict[str, int] = {}
        self.session_s = 0.0   # Spark session start, set by the caller
        self.setup_steps: dict[str, list[float]] = {}
        self._pass_s = self._pass_cpu_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def call(self, name: str, fn, *args, **kwargs):
        """Run one engine call as a span; record its wall and CPU seconds
        (the whole process tree's) under name."""
        self.attempted += 1
        cpu0 = proctree.cpu_s()
        with self.spans(name) as rec:
            out = fn(*args, **kwargs)
        cpu = proctree.cpu_s() - cpu0
        self._record(name, duration(rec), cpu)
        self._pass_s += duration(rec)
        self._pass_cpu_s += cpu
        return out

    def _record(self, name: str, wall: float, cpu: float) -> None:
        self.samples.setdefault(name, []).append(wall)
        self.cpu_samples.setdefault(name, []).append(cpu)

    def setup(self, name: str, fn, repeats: int = 1):
        """Run set-up step ``fn(i)`` for i in range(repeats), each as a
        span; keep every duration and return the last result."""
        times = self.setup_steps.setdefault(name, [])
        for i in range(repeats):
            with self.spans("setup." + name) as rec:
                out = fn(i)
            times.append(duration(rec))
        return out

    @property
    def setup_s(self) -> float:
        """Session start plus the median duration of each set-up step."""
        return self.session_s + sum(median(ts)
                                    for ts in self.setup_steps.values())

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1

    def passes(self, workload: str, one_pass) -> None:
        """Repeat ``one_pass`` while another pass as long as the last one
        still fits in the run's seconds (at least one pass).

        A pass's time is the sum of its engine calls' times, so checks a
        pass makes between calls are not counted."""
        t_end = time.perf_counter() + self.seconds
        while True:
            self._pass_s = self._pass_cpu_s = 0.0
            with self.spans(f"{workload}.pass") as rec:
                one_pass()
            self._record("pass", self._pass_s, self._pass_cpu_s)
            if time.perf_counter() + duration(rec) > t_end:
                return


def median(xs) -> float:
    return float(statistics.median(xs))


def noop(df) -> None:
    """Compute every column of ``df`` and discard it (one Spark action)."""
    df.write.format("noop").mode("overwrite").save()


# -- seeded inputs -----------------------------------------------------------

def write_corpus(run: Run, tag: str, splits: dict[str, int]):
    """fixtures.make_corpus_df Zipf corpus, cut into consecutive doc-id
    ranges of the given sizes, each written as its own parquet file under
    ``<tag>/``. -> one DataFrame per split name."""
    import pyarrow.parquet as pq

    from light_splade_spark.fixtures import make_corpus_df

    table = make_corpus_df(run.spark, sum(splits.values()), seed=run.seed,
                           n_partitions=4).toArrow().sort_by("doc_id")
    out, start = {}, 0
    os.makedirs(run.path(tag))
    for name, n in splits.items():
        path = run.path(tag, name + ".parquet")
        pq.write_table(table.slice(start, n), path)
        out[name] = run.spark.read.parquet(path)
        start += n
    return out


def _term(rank: int) -> str:
    return f"t{rank:05d}"


def query_texts(rng: np.random.Generator, n: int, min_terms: int,
                max_terms: int, absent: bool = True) -> list[tuple[int, str]]:
    """(qid, text) drawing head, torso, tail and absent terms.

    make_corpus_df draws term ranks as floor(exp(u ln V)), so ranks 1-9
    are in most documents, 10-999 in some and 1000+ in few; rank 0 and the
    ``zq`` words never occur."""
    bands = [(1, 10), (10, 1000), (1000, VOCAB), None]
    probs = [0.25, 0.35, 0.3, 0.1] if absent else [0.3, 0.4, 0.3, 0.0]
    out = []
    for qid in range(n):
        words = []
        for _ in range(int(rng.integers(min_terms, max_terms + 1))):
            band = bands[int(rng.choice(4, p=probs))]
            words.append(f"zq{int(rng.integers(1000))}" if band is None
                         else _term(int(rng.integers(*band))))
        out.append((qid, " ".join(words)))
    return out


def mix_texts(rng: np.random.Generator,
              patterns: tuple[str, ...]) -> list[tuple[int, str]]:
    """(qid, text), one query per band pattern (see POINT_MIX), in a
    seeded order."""
    bands = {"H": (1, 10), "T": (10, 1000), "L": (1000, VOCAB)}
    words = [[f"zq{int(rng.integers(1000))}" if b == "A"
              else _term(int(rng.integers(*bands[b]))) for b in pat]
             for pat in patterns]
    return [(qid, " ".join(words[int(i)]))
            for qid, i in enumerate(rng.permutation(len(patterns)))]


def conj_texts(rng: np.random.Generator, n: int) -> list[tuple[int, str]]:
    """Two-term AND queries, one head and one torso term, so most match."""
    return [(qid, f"{_term(int(rng.integers(1, 10)))} "
                  f"{_term(int(rng.integers(10, 200)))}")
            for qid in range(n)]


WORDS = ("spark join merge hash window scan table row group filter sort "
         "stream batch query data key value customer order part supplier "
         "fast slow big small line column agg vector index page text word "
         "parquet shuffle stage task driver worker cache disk").split()
MARKERS = {"en": ["the", "and", "of", "to", "is", "with"],
           "de": ["der", "die", "das", "und", "ist", "nicht"],
           "es": ["el", "la", "de", "que", "y", "los"],
           "fr": ["le", "la", "les", "et", "est", "des"],
           "ja": ["no", "wa", "ga", "desu", "shita", "suru"]}


def write_documents(run: Run, n_docs: int) -> tuple[str, list[str]]:
    """documents(doc_id, text, lang, source, n_chars) in one row group.

    The shape of a small crawled-documents table: short texts over a small
    vocabulary with language marker words, about 5% exact copies and 5%
    near copies (a few words replaced) of earlier documents. One row group
    is one scan split, which is what the input-spreading guard acts on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(run.seed)
    langs = sorted(MARKERS)
    texts: list[str] = []
    lang_col: list[str] = []
    for i in range(n_docs):
        lang = langs[int(rng.integers(len(langs)))]
        r = rng.random()
        if i > 10 and r < 0.05:
            src = int(rng.integers(i))
            text, lang = texts[src], lang_col[src]
        elif i > 10 and r < 0.10:
            src = int(rng.integers(i))
            words = texts[src].split()
            for j in rng.integers(len(words), size=3):
                words[int(j)] = WORDS[int(rng.integers(len(WORDS)))]
            text, lang = " ".join(words), lang_col[src]
        else:
            k = int(rng.integers(20, 80))
            pool = WORDS + MARKERS[lang]
            text = " ".join(pool[int(j)] for j in rng.integers(len(pool),
                                                               size=k))
        texts.append(text)
        lang_col.append(lang)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts, "lang": lang_col,
        "source": ["synthetic"] * n_docs,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    out = run.path("documents.parquet")
    pq.write_table(table, out, row_group_size=n_docs)
    return out, texts


# -- index facts read outside the timed calls --------------------------------

def lineage_facts(index_dir: str) -> dict[str, float]:
    """Bytes per posting and (shard, bucket) skew from the build lineage."""
    from light_splade_spark.index.manifest import read_lineage

    parts = [p for g in read_lineage(index_dir) for p in g["partitions"]]
    postings = [int(p["n_postings"]) for p in parts]
    nbytes = sum(int(p["postings_bytes"]) for p in parts)
    return {"vbyte.bytes_per_posting": nbytes / max(1, sum(postings)),
            "build.partition_skew": max(postings) / median(postings)}


def posting_files(index_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) under the index's postings directory."""
    n = size = 0
    for root, _, files in os.walk(os.path.join(index_dir, "postings")):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def decode_rate(run: Run, index_dir: str, max_rows: int = 4000) -> float:
    """Million postings per second through the public ``decode_run``.

    The sample is the first ``max_rows`` posting blobs of the index in file
    order, decoded once untimed and then timed."""
    import pyarrow.dataset as ds

    from light_splade_spark.functions.vbyte import decode_run

    table = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                       partitioning="hive").head(max_rows, columns=["postings"])
    blobs = table.column("postings").to_pylist()

    def decode_all() -> int:
        return sum(len(decode_run(b)[0]) for b in blobs)

    decode_all()
    n = run.call("vbyte.decode_run", decode_all)
    return n / run.samples["vbyte.decode_run"][-1] / 1e6


def result_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def rank_identical(got: list[tuple], ref: list[tuple]) -> bool:
    """Same (qid, rank, doc_id) rows, scores equal to the 4th decimal.

    The index stores float32 impacts and the SQL reference sums doubles, so
    a score on a rounding boundary can differ by one unit in the last
    rounded digit without changing any rank."""
    return (len(got) > 0 and [r[:3] for r in got] == [r[:3] for r in ref]
            and all(abs(a[3] - b[3]) <= 1.5e-4 for a, b in zip(got, ref)))


# -- workloads ---------------------------------------------------------------

def write(run: Run) -> dict:
    """Write path: build_index with library defaults over a Zipf corpus,
    then append/delete rounds and a compaction of the same index."""
    from light_splade_spark.index.build import build_dims, build_index
    from light_splade_spark.index.compact import compact_index
    from light_splade_spark.index.manifest import IndexManifest
    from light_splade_spark.index.tombstones import delete_docs
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.functions.analyzers import doc_terms
    from light_splade_spark.engine import Engine
    from light_splade_spark.streaming.incremental import append_batch

    spark, rng = run.spark, np.random.default_rng(run.seed)
    parts = run.setup("inputs", lambda i: write_corpus(run, f"inputs{i}", {
        "corpus": BUILD_DOCS,
        **{f"batch{r}": APPEND_DOCS for r in range(ROUNDS)}}),
        repeats=INPUT_REPEATS)
    corpus = parts.pop("corpus")
    batches = list(parts.values())
    run.inputs.update(corpus_docs=BUILD_DOCS, append_docs=APPEND_DOCS,
                      rounds=ROUNDS)
    check_qs = query_texts(rng, CHECK_QUERIES, 1, 4, absent=False)
    n_pass = [0]

    def one_pass() -> None:
        n_pass[0] += 1
        idx = run.path(f"index{n_pass[0]}")
        run.call("build.build_index", build_index, spark, corpus, idx)
        if n_pass[0] == 1:
            run.layer.update(lineage_facts(idx))
            run.layer["analyzers.tokens"] = round(
                IndexManifest.load(idx).avgdl * BUILD_DOCS)
        deleted: set[int] = set()
        for r, batch in enumerate(batches):
            with run.spans("write.round"):
                run.call("incremental.append_batch", append_batch, spark,
                         idx, batch, f"b{r}")
                ids = [int(d) for d in rng.choice(
                    BUILD_DOCS + (r + 1) * APPEND_DOCS, DELETES_PER_ROUND,
                    replace=False)]
                run.call("tombstones.delete_docs", delete_docs, spark, idx,
                         ids)
                deleted.update(ids)
        with run.spans("write.checks"):
            info = Engine(spark, idx).info()
            run.layer.update({
                "manifest.live_groups": len(info["live_groups"]),
                "manifest.posting_files": posting_files(idx)[0],
                "tombstones.pending": info["pending_tombstones"]})
            before = result_rows(wand_topk(spark, idx, check_qs, top_k=TOP_K,
                                           local="force"))
            run.check("no_tombstoned_hit",
                      not deleted & {row[2] for row in before})
        run.call("compact.compact_index", compact_index, spark, idx)
        with run.spans("write.checks"):
            run.layer["compact.rewritten_mb"] = posting_files(idx)[1] / 1e6
            after = result_rows(wand_topk(spark, idx, check_qs, top_k=TOP_K,
                                          local="force"))
            run.check("compaction_preserves_results", after == before)

    run.passes("write", one_pass)
    if run.spans.traced:
        with run.spans("write.layers"):
            run.call("analyzers.doc_terms",
                     lambda: noop(doc_terms(corpus)))
            run.call("build.build_dims", lambda: noop(build_dims(
                corpus, expansion_path=run.path("dims_expansion"))[1]))
    return {"throughput": ("build.build_index", BUILD_DOCS),
            "latency": ("incremental.append_batch", "tombstones.delete_docs")}


CURATE_OPS = ("dedup.exact_dedup", "dedup.minhash_lsh_pairs", "dedup.simhash",
              "text_quality.all_quality_metrics", "text_quality.lang_id",
              "dedup.ngram_jaccard_pairs")


def curate_layers(run: Run) -> None:
    """Each curation operator once over a seeded documents table (the
    all-pairs jaccard over its 200-doc subset), timed as spans, and the
    exact-dedup count checked against a driver-side distinct count.

    Runs in traced read runs only: the curation operators share no code
    with the query path, and one pass of them would add a fifth to every
    timed read run."""
    from light_splade_spark.functions.text_quality import (
        all_quality_metrics, lang_id)
    from light_splade_spark.operators.dedup import (
        exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash)

    path, texts = write_documents(run, CURATE_DOCS)
    docs = run.spark.read.parquet(path)
    keep = np.random.default_rng(run.seed).choice(
        CURATE_DOCS, JACCARD_DOCS, replace=False)
    sub_path = run.path("subset.parquet")
    docs.where(docs.doc_id.isin([int(i) for i in keep])).coalesce(1) \
        .write.parquet(sub_path)
    subset = run.spark.read.parquet(sub_path)
    ops = dict(zip(CURATE_OPS, (exact_dedup, minhash_lsh_pairs, simhash,
                                all_quality_metrics, lang_id,
                                ngram_jaccard_pairs)))
    for op in ops.values():   # JIT and plan code generation, small input
        noop(op(subset))
    for name, op in ops.items():
        data = subset if name == "dedup.ngram_jaccard_pairs" else docs
        run.call(name, lambda: noop(op(data)))
    run.check("exact_dedup_count",
              exact_dedup(docs).count() == len(set(texts)))


def read(run: Run) -> dict:
    """Read path: point queries (driver-local route), distributed query
    batches and a conjunctive batch against an index built in set-up."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.phrase import conjunctive_topk
    from light_splade_spark.index.wand import build_query_plan, wand_topk
    from light_splade_spark.plans.bm25_sql import bm25_topk_docs

    spark, rng = run.spark, np.random.default_rng(run.seed)
    idx = run.path("index")
    points = mix_texts(rng, POINT_MIX)
    batches = [query_texts(rng, BATCH_QUERIES, 2, 6) for _ in range(BATCHES)]
    conj = conj_texts(rng, CONJ_QUERIES)
    corpus = run.setup("inputs", lambda i: write_corpus(
        run, f"inputs{i}", {"corpus": QUERY_DOCS})["corpus"],
        repeats=INPUT_REPEATS)
    # one shard group: the build runs one posting job instead of four,
    # which halves set-up; the read path sees the same shards/buckets
    run.setup("index", lambda i: build_index(spark, corpus, idx,
                                             n_shard_groups=1))

    def warmup(i: int) -> None:
        # the first call of each query route pays code generation and
        # Python-worker start-up; pay it here. The batch route gets a full
        # batch: after a 50-query warm-up the first timed batch still took
        # a fifth more CPU than the second
        wand_topk(spark, idx, points[-1:], top_k=TOP_K).collect()
        wand_topk(spark, idx, batches[0], top_k=TOP_K).collect()
        conjunctive_topk(spark, idx, conj[:4], top_k=TOP_K).collect()

    run.setup("warmup", warmup)
    run.inputs.update(corpus_docs=QUERY_DOCS, point_queries=len(points),
                      batch_queries=BATCH_QUERIES, batches=BATCHES,
                      conj_queries=CONJ_QUERIES)
    run.layer.update(lineage_facts(idx))

    def one_pass() -> None:
        for q in points:
            run.call("wand.point",
                     lambda: wand_topk(spark, idx, [q], top_k=TOP_K).collect())
        for batch in batches:
            run.call("wand.batch", lambda: wand_topk(
                spark, idx, batch, top_k=TOP_K).collect())
        run.call("phrase.conjunctive_topk", lambda: conjunctive_topk(
            spark, idx, conj, top_k=TOP_K).collect())

    run.passes("read", one_pass)
    with run.spans("read.checks"):
        sample = [batches[0][int(i)] for i in
                  rng.choice(BATCH_QUERIES, CHECK_QUERIES, replace=False)]
        got = result_rows(wand_topk(spark, idx, sample, top_k=TOP_K,
                                    local="never"))
        ref = result_rows(bm25_topk_docs(corpus, sample, top_k=TOP_K))
        run.check("wand_matches_sql_reference", rank_identical(got, ref))
        pts = points[:4]
        run.check("local_matches_distributed",
                  result_rows(wand_topk(spark, idx, pts, top_k=TOP_K,
                                        local="force"))
                  == result_rows(wand_topk(spark, idx, pts, top_k=TOP_K,
                                           local="never")))
    if run.spans.traced:
        run.inputs.update(documents=CURATE_DOCS, jaccard_docs=JACCARD_DOCS)
        with run.spans("read.layers"):
            curate_layers(run)
            for q in points:
                run.call("wand.build_query_plan", build_query_plan, spark,
                         idx, [q])
            run.layer["vbyte.decode_mpostings_per_s"] = decode_rate(run, idx)
    pts_ms = sorted(1e3 * s for s in run.samples["wand.point"])
    run.layer["wand.point_p95_ms"] = float(
        np.percentile(pts_ms, 95, method="inverted_cdf"))
    return {"throughput": ("wand.batch", BATCH_QUERIES),
            "latency": ("wand.point",)}


WORKLOADS = {"write": write, "read": read}
