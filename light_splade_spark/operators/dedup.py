"""Deduplication operators for web-scale training-data pipelines.

All hashing is md5-based so every operator has an exact DuckDB oracle (md5 is
identical across engines); all expressions are JVM-side built-ins — no Python
in the hot path. At 100 TB each of these is shuffle-bound on its group key:

* exact dedup shuffles on a 128-bit digest (uniform, no skew);
* MinHash/LSH shuffles on band signatures (near-uniform);
* the pairwise joins only ever join on bucketed candidates, never cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import tokens_col
from light_splade_spark.partitioning import spread_input

# --- exact dedup -----------------------------------------------------------


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (keeper, dup_count, doc_ids CSV).

    keeper = min doc_id per md5(text); only groups with >1 member returned.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(text_col).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("dup_count"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
        .select("keeper", "dup_count", "doc_ids")
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (min doc_id wins) — the 100 TB-safe
    groupBy-on-digest form of dropDuplicates([text])."""
    w = docs.select(F.col(id_col).alias("doc_id"), F.md5(text_col).alias("h"))
    keep = w.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, docs[id_col] == keep["doc_id"], "left_semi")


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               max_occurrences: int = 1) -> DataFrame:
    """C4/CCNet-style corpus-level boilerplate-line removal: a trimmed
    non-empty line appearing in more than ``max_occurrences`` DISTINCT
    documents (nav bars, cookie banners, footers) is removed from EVERY
    document. Returns ``docs`` with ``text`` rebuilt from the surviving
    lines in original order ('\\n'-joined trimmed lines — empty lines and
    edge whitespace do not survive the rebuild, deterministically on both
    engine and oracle), plus ``n_lines_in`` / ``n_lines_kept`` audit
    columns. A document whose every line is boilerplate keeps its row
    with empty text (the downstream quality filter is the stage that
    drops it — stage accounting stays honest).

    Plan shape at 100 TB: posexplode -> one groupBy(line) agg (partial
    count-distinct on doc_id) -> left_anti join of line occurrences
    against the over-frequent line set (small in practice — boilerplate
    is by definition heavy-tailed — but never assumed driver-sized: it
    stays a distributed equi-join, hot-line skew absorbed by AQE) ->
    groupBy(doc) ordered rebuild. No Python anywhere.
    """
    lines = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.posexplode(F.split(F.col(text_col), "\n"))
                    .alias("pos", "raw"))
        .select("doc_id", "pos", F.trim("raw").alias("line"))
        .where(F.col("line") != "")
    )
    bad = (lines.groupBy("line")
           .agg(F.countDistinct("doc_id").alias("ndocs"))
           .where(F.col("ndocs") > max_occurrences)
           .select("line"))
    kept = lines.join(bad, "line", "left_anti")
    rebuilt = (
        kept.groupBy(F.col("doc_id").alias("__rb_id"))
        .agg(F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"])).alias("__clean"),
             F.count(F.lit(1)).alias("n_lines_kept"))
    )
    n_in = (lines.groupBy(F.col("doc_id").alias("__in_id"))
            .agg(F.count(F.lit(1)).alias("n_lines_in")))
    out = (
        docs.join(n_in, F.col(id_col) == F.col("__in_id"), "left")
        .join(rebuilt, F.col(id_col) == F.col("__rb_id"), "left")
        .withColumn(text_col, F.coalesce(F.col("__clean"), F.lit("")))
        .withColumn("n_lines_in", F.coalesce("n_lines_in", F.lit(0)))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .drop("__clean", "__rb_id", "__in_id")
    )
    return out


# --- shingles + MinHash LSH --------------------------------------------------

MINHASH_K = 16           # signature length
LSH_BAND_SIZE = 4        # rows per band -> 4 bands
SHINGLE_N = 3


def shingles_col(toks, n: int = SHINGLE_N):
    """Distinct word n-gram shingles (JVM-side) from an
    ALREADY-MATERIALIZED token-array attribute. ``toks`` must be a real
    column, never a computed tree: the sliding-window lambda references
    it per index, and an inlined tokenize subtree would re-evaluate per
    shingle — O(n_tokens²) per doc (the in-lambda rule documented in
    functions/text_quality.py and index/build.py). Use
    ``shingled(docs, ...)`` to stage tokens and shingle in one step."""
    # transform over sliding windows: index i -> tokens[i..i+n-1] joined
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(toks) >= n, sh).otherwise(empty))


def shingled(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) — one row per distinct word n-gram shingle, with the
    token array staged as its own projection first (in-lambda rule)."""
    # tokenize+shingle is the expensive narrow span before the first
    # shuffle; guard against an under-partitioned scan (guide §2.5)
    staged = spread_input(docs).select(F.col(id_col).alias("doc_id"),
                                       tokens_col(text_col).alias("__toks"))
    return staged.select(
        "doc_id", F.explode(shingles_col(F.col("__toks"), n)).alias("sh"))


def minhash_signature(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = MINHASH_K,
                      shingle_n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) — min over shingles of md5(shingle || '#' || i).

    md5-hex string MIN is a valid minhash (uniform order statistic) and is
    bit-identical in DuckDB, giving the oracle. One explode + one groupBy:
    shuffle size = shingles * 1 row, aggregated map-side first.
    """
    sh = shingled(docs, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = MINHASH_K,
                      band_size: int = LSH_BAND_SIZE,
                      shingle_n: int = SHINGLE_N,
                      max_bucket_size: int | None = 1000) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing >=1 LSH band.

    Bands of `band_size` consecutive signature slots are concatenated and
    md5'd; docs are grouped per band value (the LSH bucket join) — never a
    cross join. Dedup across bands via DISTINCT on the pair.

    ``max_bucket_size`` (default 1000 — safe-by-default): at web scale a
    boilerplate mega-cluster (one band value shared by millions of pages)
    makes the bucket self-join quadratic, so buckets above the cap are
    excluded here (count via window, one pass) — the standard move: route
    oversized buckets to exact-hash grouping (`exact_duplicates`) or to
    clustering on the keeper instead. Pass ``None`` to explicitly opt out
    (exact candidate recall on bounded corpora).

    BEHAVIOR CHANGE (round 2): the default went from None to 1000. Callers
    on corpora where any band bucket exceeds 1000 docs silently lose the
    pairs inside those mega-buckets relative to the uncapped measure; pass
    ``max_bucket_size=None`` explicitly to match an uncapped oracle.
    """
    sig = minhash_signature(docs, id_col, text_col, k, shingle_n)
    n_bands = k // band_size
    # one projection computing every band hash + one explode — NOT a union
    # of n_bands re-selections of ``sig``: the union form re-ran the whole
    # shingle+signature aggregation subtree once per band (n_bands
    # concurrent map stages over the same input; only the exchange was
    # reused). Same (doc_id, band) rows, one signature computation.
    band_cols = [
        F.md5(F.concat_ws(
            "|", F.lit(str(bidx)),
            *[F.col(f"mh_{i}")
              for i in range(bidx * band_size, (bidx + 1) * band_size)]))
        for bidx in range(n_bands)
    ]
    allb = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band"))
    # pair generation: ONE groupBy(band) + in-array pair expansion, not a
    # band self-join. The previous shape paid a window (shuffle+sort) for
    # the bucket cap, then a sort-merge self-join over the same exchange,
    # then the distinct — two sorts and a join for pairs that are a
    # row-local product once the bucket is a single row. The cap bounds
    # the per-row pair array at C(max_bucket_size, 2); uncapped callers
    # accept quadratic buckets by opting out, exactly as before. Pair set
    # is identical: all (a < b) within a bucket, deduped across bands.
    grouped = (allb.groupBy("band")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ds")))
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("ds") <= max_bucket_size)
    ds = F.col("ds")
    pairs = F.flatten(F.transform(
        ds, lambda a, i: F.transform(
            F.slice(ds, i + 2, F.size(ds)),
            lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")))))
    return (grouped.select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = SHINGLE_N,
                        threshold: float = 0.5,
                        candidates: DataFrame | None = None,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """(doc_a, doc_b, jaccard) over n-gram shingle sets, jaccard >= threshold.

    Intersection sizes come from a self-equi-join on the shingle value —
    shuffle on shingle, never a cross join. Two scale guards keep a hot
    shingle from turning that join quadratic:

    * ``candidates`` (doc_a, doc_b — e.g. minhash_lsh_pairs output) is
      applied BEFORE the join: only docs that appear in some candidate pair
      ship their shingles into the self-join, and the pair-level semi-join
      afterwards restricts to the exact candidate set. The join cost is then
      bounded by the candidate docs, not the corpus.
    * ``max_shingle_df`` (default 1000): a boilerplate shingle present in
      ~every doc contributes df² join rows while carrying ~zero signal.
      Shingles above the cap are dropped from BOTH intersection and sizes
      (one extra map-side-combined groupBy), i.e. jaccard over informative
      shingles — the standard stop-shingle move. df is measured over the
      FULL corpus (before any ``candidates`` restriction), so a given pair's
      jaccard value never depends on which candidate set requested it.
      Pass ``None`` for the exact all-shingles measure on bounded corpora.

    BEHAVIOR CHANGE (round 2): ``max_shingle_df`` default went from None to
    1000 — safe-by-default at scale. On corpora where some shingle's corpus
    df exceeds 1000, results differ from the uncapped measure (hot shingles
    no longer counted); pass ``max_shingle_df=None`` explicitly to match an
    uncapped oracle.
    """
    sh = shingled(docs, id_col, text_col, n)
    if max_shingle_df is not None:
        # corpus-level df, computed BEFORE the candidate restriction: the
        # stop-shingle set is a property of the corpus, not of the caller's
        # candidate list (one extra linear map-side-combined pass)
        sh_df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        keep_sh = sh_df.where(F.col("_df") <= max_shingle_df).select("sh")
        sh = sh.join(keep_sh, "sh", "left_semi")
    if candidates is not None:
        cand_docs = (candidates.select(F.col("doc_a").alias("doc_id"))
                     .unionByName(candidates.select(F.col("doc_b")
                                                    .alias("doc_id")))
                     .distinct())
        sh = sh.join(cand_docs, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit int everywhere


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash BIGINT) — classic Charikar simhash over distinct terms.

    Bit i of the result = sign of Σ_terms (bit_i(h(term)) ? +1 : -1). Built
    entirely from JVM expressions so the DuckDB oracle can mirror it;
    tf-weighting deliberately omitted (distinct terms) to keep the oracle
    exact.

    MAP-ONLY shape (guide §2.4, remove shuffles outright): the per-doc
    distinct-term hash array is staged once (in-lambda rule — the filters
    below reference only the attribute), then bit i's sign is a row-local
    popcount-vs-half test (2 * |{h: bit_i(h)}| > n ⟺ Σ(+1/-1) > 0). The
    previous explode -> groupBy(doc_id) with ``bits`` conditional sums was
    an exchange plus a 60-aggregate codegen unit per call for what is a
    row-local computation. Zero-term docs (no tokens, or NULL text) emit
    no row — identical to the explode form, which never produced a row to
    aggregate for them."""
    staged = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(tokens_col(text_col)).alias("__terms"))
    hashed = staged.where(F.size("__terms") > 0).select(
        "doc_id",
        F.transform(
            F.col("__terms"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("bigint")).alias("__h"))
    h = F.col("__h")
    n = F.size(h)
    expr = F.lit(0).cast("bigint")
    for i in range(bits):
        nset = F.size(F.filter(h, lambda x: x.bitwiseAND(F.lit(1 << i))
                               != 0))
        expr = expr + F.when(nset * 2 > n,
                             F.lit(1).cast("bigint") * (2 ** i)).otherwise(0)
    return hashed.select("doc_id", expr.alias("simhash"))


def simhash_dupes(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= max_hamming.

    Candidate generation: split the fingerprint into (max_hamming+1) chunks —
    any pair within distance max_hamming shares at least one exact chunk
    (pigeonhole), so the join is on (chunk_idx, chunk_value), never O(n^2)."""
    sh = simhash(docs, id_col, text_col, bits)
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    chunks = None
    for c in range(n_chunks):
        lo = c * chunk_bits
        width = chunk_bits if c < n_chunks - 1 else bits - lo
        part = sh.select(
            "doc_id", "simhash",
            F.lit(c).alias("ci"),
            F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
        )
        chunks = part if chunks is None else chunks.unionByName(part)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- duplicate clusters (connected components) -------------------------------


def _sym(e: DataFrame) -> DataFrame:
    """Symmetrize + dedupe an (src, dst) edge set."""
    return (e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _min_star(e: DataFrame) -> DataFrame:
    """Per center: m = min(neighbors ∪ {self}) -> (src, m)."""
    return (e.groupBy("src").agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", F.col("src")).alias("m")))


def connected_components_star(pairs: DataFrame,
                              max_iter: int = 50) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014 — public algorithm):
    O(log² n) rounds on ANY graph shape, vs O(diameter) for plain label
    propagation — the difference between 3 and 60 rounds on a crawl-chain
    graph. Returns (labels, rounds_used); each round is two join+groupBy
    passes over the (shrinking) edge set, localCheckpointed to cut lineage.
    """
    E = _sym(pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))).localCheckpoint()
    nodes = E.select(F.col("src").alias("node")).distinct().localCheckpoint()
    prev_sig = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # large-star: every strictly-larger neighbor hooks to the center min
        m = _min_star(E)
        ls = (E.join(m, "src").where(F.col("dst") > F.col("src"))
              .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        E1 = _sym(ls).localCheckpoint()
        # small-star: smaller-or-equal neighbors AND the center hook to min
        m2 = _min_star(E1)
        ss = (E1.join(m2, "src").where(F.col("dst") <= F.col("src"))
              .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
              .unionByName(m2.select("src", F.col("m").alias("dst"))))
        E = _sym(ss).localCheckpoint()
        # overflow-free edge-set signature: count + xor of per-edge hashes
        sig = tuple(E.agg(F.count(F.lit(1)),
                          F.expr("bit_xor(xxhash64(src, dst))")).collect()[0])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # the final labeling below is only correct on the star-shaped
        # fixpoint; returning intermediate labels would silently mislabel
        raise RuntimeError(
            f"connected_components_star did not reach the edge-set "
            f"fixpoint in {max_iter} rounds; raise max_iter (rounds are "
            "O(log^2 |component|) — this indicates an extraordinarily "
            "large or adversarial component)")
    # converged graph is a union of stars: component = min(self, neighbors)
    labels = (
        nodes.join(E, nodes.node == E.src, "left")
        .groupBy("node")
        .agg(F.least(F.min("dst"), F.first("node")).alias("component"))
        .select("node", F.coalesce("component", F.col("node"))
                .alias("component"))
    )
    return labels, rounds


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         algorithm: str = "star") -> DataFrame:
    """(node BIGINT, component BIGINT) — component = min node id reachable.

    ``algorithm="star"`` (default): alternating large-star/small-star —
    round count is O(log²) in component size, independent of graph diameter
    (the 100 TB-crawl-safe choice). ``algorithm="label"``: plain min-label
    propagation, O(diameter) joins — kept as the easily-audited baseline.
    """
    if algorithm == "star":
        labels, _ = connected_components_star(pairs, max_iter)
        return labels
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels.node == neigh_min.src, "left")
            .select(
                "node",
                F.least(F.col("component"),
                        F.coalesce(F.col("nmin"), F.col("component")))
                .alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def dup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Collapse near-dup pairs into clusters: (component, size, keeper,
    doc_ids CSV). Singletons (docs in no pair) are excluded."""
    cc = connected_components(pairs)
    return (
        cc.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("node").alias("keeper"),
            F.array_join(F.sort_array(F.collect_list("node")), ",").alias("doc_ids"),
        )
        .where(F.col("size") > 1)
    )
