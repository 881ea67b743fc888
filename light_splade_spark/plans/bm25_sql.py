"""Exact BM25 top-k scoring — the SQL-expressible path (parity twin of WAND).

Re-expresses the reference's exhaustive scoring semantics
(``sparse_retriever.py:78-96``): scores = sparse dot product of query term
weights with doc term weights, ``score >= threshold`` filter, descending sort,
truncate to top_k. The reference's term weights are neural; ours are BM25
(pinned reference config k1=1.2, b=0.75 — the reference ships no BM25 config).
Tie-break is pinned to (score DESC, doc_id ASC); the reference's argsort tie
order is internal, so both this engine and every oracle apply the same rule.

Physically this is: broadcast-able query-terms join postings on term ->
partial+final hash aggregation per (qid, doc_id) -> per-query window top-k.
Catalyst handles pushdown/pruning; the join key is `term`, so Zipfian skew on
head terms is absorbed by AQE skew-join splitting (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from light_splade_spark.functions.analyzers import (
    ANALYZER_V1,
    Analyzer,
    doc_terms,
)

K1 = 1.2
B = 0.75
SCORE_DECIMALS = 4  # cross-engine float guard: rank on round(score, 4)


def idf_col(n_docs: int):
    """Lucene-style non-negative BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


def _saturation_denominator(avgdl: float):
    return F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.lit(float(avgdl)))


def bm25_weight_col(avgdl: float):
    """tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)) — term saturation."""
    return (F.col("tf") * (K1 + 1.0)) / _saturation_denominator(avgdl)


def bm25_impact_col(avgdl: float):
    """float32 posting impact idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    over (idf, tf, dl) columns — what build and append store per posting.
    Evaluated as (idf * numerator) / denominator, NOT idf * weight: the
    operation order fixes the float32 bits every index already holds."""
    return (F.col("idf") * (F.col("tf") * (K1 + 1.0))
            / _saturation_denominator(avgdl)).cast("float")


def score_bm25(
    postings: DataFrame,  # (doc_id, dl, term, tf) from analyzers.doc_terms
    qterms: DataFrame,    # (qid, term, qtf)
    n_docs: int,
    avgdl: float,
    top_k: int = 10,
    threshold: float = 0.0,
) -> DataFrame:
    """-> (qid, rank, doc_id, score) rounded + deterministically tie-broken.

    top_k=0 means "all docs" (reference ``sparse_retriever.py:81-82``).
    The query side is broadcast (a query batch is always small next to the
    corpus); the per-(qid,doc_id) SUM is a partial+final hash agg — no
    row explosion reaches the shuffle beyond matched (q,term,doc) triples.
    """
    df_dim = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        F.broadcast(qterms)
        .join(postings, "term")
        .join(F.broadcast(df_dim), "term")
        .select(
            "qid",
            "doc_id",
            (F.col("qtf") * idf_col(n_docs) * bm25_weight_col(avgdl)).alias("c"),
        )
    )
    scored = (
        contrib.groupBy("qid", "doc_id")
        .agg(F.round(F.sum("c"), SCORE_DECIMALS).alias("score"))
        .where(F.col("score") >= F.lit(threshold))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if top_k and top_k > 0:
        ranked = ranked.where(F.col("rank") <= top_k)
    return ranked.select("qid", "rank", "doc_id", "score")


def bm25_topk_docs(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    top_k: int = 10,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: Analyzer = ANALYZER_V1,
) -> DataFrame:
    """End-to-end: corpus DataFrame + literal query batch -> top-k ranking.

    N and avgdl count ALL docs (zero-token docs contribute dl=0), matching
    index/build.build_dims and the numpy oracle — so this path, the WAND
    index path, and every oracle agree on corpus stats even when the corpus
    contains empty or symbol-only documents. avgdl = Σdl / N is an exact
    integer ratio, bit-identical across engines.
    """
    spark = docs.sparkSession
    postings = doc_terms(docs, id_col, text_col, analyzer=analyzer).cache()
    # ONE scalar job for both corpus stats (was two: count, then a
    # groupBy+sum over the cached expansion). sum(size(tokens)) over all
    # docs == the old per-doc first(dl) sum: zero-token docs contribute 0
    # either way (absent from the expansion / size()==0 here), null text
    # is skipped by sum() and counted by count(1) — identical N and avgdl.
    r0 = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(analyzer.spark_tokens(text_col))).alias("s"),
    ).collect()[0]
    n_total = int(r0["n"])
    if n_total == 0:
        raise ValueError("cannot score an empty corpus")
    avgdl = int(r0["s"] or 0) / n_total
    qt_rows = query_term_rows(queries, analyzer)
    qterms = spark.createDataFrame(qt_rows, "qid BIGINT, term STRING, qtf BIGINT")
    return score_bm25(postings, qterms, n_total, avgdl, top_k, threshold)


def query_term_rows(queries: list[tuple[int, str]],
                    analyzer: Analyzer = ANALYZER_V1
                    ) -> list[tuple[int, str, int]]:
    """Tokenize a literal query batch driver-side -> (qid, term, qtf) rows.
    Shared by the Spark path and the oracle-SQL generator so both sides see
    the exact same query terms by construction."""
    rows: list[tuple[int, str, int]] = []
    for qid, text in queries:
        counts: dict[str, int] = {}
        for t in analyzer.py_tokenize(text):
            counts[t] = counts.get(t, 0) + 1
        rows.extend((qid, t, c) for t, c in sorted(counts.items()))
    return rows


# --------------------------------------------------------------------------
# DuckDB oracle SQL — mirrors the computation above over the same parquet.
# --------------------------------------------------------------------------

def tokens_sql(col: str) -> str:
    """DuckDB expression equal to analyzers.tokens_col (v1)."""
    return ANALYZER_V1.duckdb_tokens(col)


def bm25_oracle_sql(queries: list[tuple[int, str]], top_k: int = 10,
                    threshold: float = 0.0, table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text",
                    float32_impacts: bool = False,
                    analyzer: Analyzer = ANALYZER_V1,
                    exclude_doc_pred: str | None = None,
                    require_all_terms: bool = False) -> str:
    """ANSI/DuckDB SQL computing the identical (qid, rank, doc_id, score).

    N and avgdl count ALL docs (avgdl = Σdl / N, an exact integer ratio),
    matching bm25_topk_docs and index/build.build_dims.

    ``exclude_doc_pred`` (SQL boolean over ``dt.doc_id``) drops docs from
    SCORING while corpus statistics stay frozen — the tombstone-delete
    contract (index/tombstones.py): N/avgdl/df still count deleted docs.

    ``float32_impacts=True`` mirrors the WAND index path instead of the
    all-double SQL path: the per-(term, doc) impact w = idf * saturation is
    rounded through FLOAT (the index stores float32 impacts,
    reference sparse_indexer.py:47), then the score is Σ qtf * w in DOUBLE —
    exactly what index/wand._score_shard computes, making the flagship WAND
    operator hash-comparable against DuckDB.

    ``require_all_terms=True`` keeps only documents matching ALL of a
    query's distinct terms (``nm == n_terms`` — the boolean-AND gate of
    index/phrase.conjunctive_topk); a query with a corpus-absent term
    yields zero rows on both sides by construction.
    """
    qt = query_term_rows(queries, analyzer)
    values = ", ".join(
        f"({qid}, '{term}', {qtf})" for qid, term, qtf in qt
    )
    limit_pred = f"WHERE rank <= {top_k}" if top_k and top_k > 0 else ""
    exclude_clause = (f"WHERE NOT ({exclude_doc_pred})\n  "
                      if exclude_doc_pred else "")
    impact = (f"ln(1.0 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))\n"
              f"           * (dt.tf * ({K1} + 1.0))\n"
              f"             / (dt.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))")
    if float32_impacts:
        # parenthesization matches index/build.py's impact expression:
        # (idf * (tf*(k1+1))) / denom, computed in double then cast to float32
        contrib = f"qt.qtf * CAST(CAST({impact} AS FLOAT) AS DOUBLE)"
    else:
        contrib = f"qt.qtf\n           * {impact}"
    nq_cte = ("nq AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY qid),"
              "\n" if require_all_terms else "")
    nm_sel = ",\n         count(*) AS nm" if require_all_terms else ""
    ranked_src = ("scored JOIN nq ON scored.qid = nq.qid "
                  "AND scored.nm = nq.n_terms"
                  if require_all_terms else "scored")
    return f"""
WITH tok AS (
  SELECT {id_col} AS doc_id, unnest({analyzer.duckdb_tokens(text_col)}) AS term
  FROM {table}
),
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM {table}) AS n,
                 (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) FROM dl)
                   / (SELECT count(*) FROM {table}) AS avgdl),
tdf AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
qt(qid, term, qtf) AS (VALUES {values}),
{nq_cte}scored AS (
  SELECT qt.qid, dt.doc_id,
         round(sum(
           {contrib}
         ), {SCORE_DECIMALS}) AS score{nm_sel}
  FROM qt
  JOIN dt  ON qt.term = dt.term
  JOIN tdf ON qt.term = tdf.term
  JOIN dl  ON dt.doc_id = dl.doc_id
  CROSS JOIN stats s
  {exclude_clause}GROUP BY qt.qid, dt.doc_id
),
ranked AS (
  SELECT scored.qid, doc_id, score,
         row_number() OVER (PARTITION BY scored.qid
                            ORDER BY score DESC, doc_id ASC)
           AS rank
  FROM {ranked_src}
  WHERE score >= {threshold}
)
SELECT qid, rank, doc_id, score FROM ranked {limit_pred}
ORDER BY qid, rank
"""


def bm25_append_oracle_sql(queries: list[tuple[int, str]],
                           base_pred: str, app_pred: str | list[str],
                           top_k: int = 10, threshold: float = 0.0,
                           table: str = "documents",
                           id_col: str = "doc_id", text_col: str = "text",
                           analyzer: Analyzer = ANALYZER_V1) -> str:
    """Oracle for an index built over ``base_pred`` docs then APPENDED with
    one or more batches of ``app_pred`` docs, in order
    (streaming/incremental.append_batch semantics, which mirror the
    reference's frozen-encoder micro-batch append):

    * N and avgdl are FROZEN at build time (base docs only);
    * terms present in the base keep their build idf (base df — appends
      never update df);
    * a term first seen in append batch i gets idf from its batch-i df
      against the frozen N, PINNED there: a later batch re-introducing it
      never updates it (append_batch only appends left-anti-new terms to
      the terms dim) — the sequential first-seen fold is what the chained
      FULL JOIN + priority coalesce below computes;
    * appended docs score with their own dl against the frozen avgdl.

    Impacts are float32-rounded like the index blobs (sparse_indexer.py:47
    dtype), so the result is hash-comparable with the WAND/compacted
    routes."""
    app_preds = [app_pred] if isinstance(app_pred, str) else list(app_pred)
    qt = query_term_rows(queries, analyzer)
    values = ", ".join(f"({qid}, '{term}', {qtf})" for qid, term, qtf in qt)
    limit_pred = f"WHERE rank <= {top_k}" if top_k and top_k > 0 else ""
    any_app = " OR ".join(f"({p})" for p in app_preds)
    df_batches = ",\n".join(
        f"""df_a{i} AS (
  SELECT term, count(*) AS df FROM dt
  WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {p})
  GROUP BY term)""" for i, p in enumerate(app_preds))
    # chained FULL JOINs in batch order; coalesce priority = first-seen
    aliases = ["b"] + [f"a{i}" for i in range(len(app_preds))]
    joins = "df_base b"
    for i in range(len(app_preds)):
        seen = ", ".join(f"{a}.term" for a in aliases[: i + 1])
        joins += (f"\n  FULL JOIN df_a{i} a{i} "
                  f"ON coalesce({seen}) = a{i}.term")
    term_expr = ", ".join(f"{a}.term" for a in aliases)
    df_expr = ", ".join(f"{a}.df" for a in aliases)
    return f"""
WITH tok AS (
  SELECT {id_col} AS doc_id, unnest({analyzer.duckdb_tokens(text_col)}) AS term
  FROM {table} WHERE ({base_pred}) OR ({any_app})
),
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM {table} WHERE {base_pred}) AS n,
         (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) FROM dl
          WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {base_pred}))
           / (SELECT count(*) FROM {table} WHERE {base_pred}) AS avgdl),
df_base AS (
  SELECT term, count(*) AS df FROM dt
  WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {base_pred})
  GROUP BY term),
{df_batches},
tidf AS (
  SELECT coalesce({term_expr}) AS term,
         ln(1.0 + (s.n - coalesce({df_expr}) + 0.5)
                / (coalesce({df_expr}) + 0.5)) AS idf
  FROM {joins}
  CROSS JOIN stats s),
qt(qid, term, qtf) AS (VALUES {values}),
scored AS (
  SELECT qt.qid, dt.doc_id,
         round(sum(
           qt.qtf * CAST(CAST(
             tidf.idf * (dt.tf * ({K1} + 1.0))
               / (dt.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))
           AS FLOAT) AS DOUBLE)
         ), {SCORE_DECIMALS}) AS score
  FROM qt
  JOIN dt   ON qt.term = dt.term
  JOIN tidf ON qt.term = tidf.term
  JOIN dl   ON dt.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY qt.qid, dt.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC)
           AS rank
  FROM scored
  WHERE score >= {threshold}
)
SELECT qid, rank, doc_id, score FROM ranked {limit_pred}
ORDER BY qid, rank
"""


def conjunctive_oracle_sql(queries: list[tuple[int, str]], top_k: int = 10,
                           table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text",
                           analyzer: Analyzer = ANALYZER_V1,
                           exclude: str | None = None) -> str:
    """Oracle for ``index/phrase.conjunctive_topk``: ``bm25_oracle_sql``
    with float32 impacts (mirroring the index blobs) and the boolean-AND
    full-match gate — one shared SQL generator, so a future change to the
    impact formula or the stats rule cannot silently diverge between the
    OR and AND oracles. ``exclude`` mirrors the NOT arm: docs containing
    ANY of the excluded text's analyzed terms are banned via the shared
    ``exclude_doc_pred`` hook (the same mechanism the tombstone oracle
    uses)."""
    pred = None
    if exclude:
        ex_terms = sorted(set(analyzer.py_tokenize(exclude)))
        if ex_terms:
            quoted = ", ".join("'" + t.replace("'", "''") + "'"
                               for t in ex_terms)
            pred = (f"dt.doc_id IN (SELECT doc_id FROM tok "
                    f"WHERE term IN ({quoted}))")
    return bm25_oracle_sql(queries, top_k=top_k, table=table,
                           id_col=id_col, text_col=text_col,
                           float32_impacts=True, analyzer=analyzer,
                           require_all_terms=True, exclude_doc_pred=pred)


def phrase_oracle_sql(phrases: list[tuple[int, str]], top_k: int = 10,
                      table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text",
                      analyzer: Analyzer = ANALYZER_V1) -> str:
    """Oracle for ``index/phrase.phrase_topk``: BM25 top-k (float32 impacts,
    mirroring the index blobs exactly as ``bm25_oracle_sql``'s
    float32_impacts=True arm) restricted to documents containing the phrase
    as a contiguous token run.

    Adjacency is a per-phrase generated predicate over the tokenized doc:
    position i matches iff toks[i+j] equals the phrase's j-th token for all
    j — the same contiguous-subsequence rule the Spark side evaluates with
    exists/sequence/slice. Phrase tokens come from the SAME driver-side
    tokenization (``query_term_rows`` / ``analyzer.py_tokenize``), so both
    sides agree by construction."""
    qt = query_term_rows(phrases, analyzer)
    values = ", ".join(f"({qid}, '{term}', {qtf})" for qid, term, qtf in qt)
    limit_pred = f"WHERE rank <= {top_k}" if top_k and top_k > 0 else ""
    adj_selects = []
    for pid, text in phrases:
        p = analyzer.py_tokenize(text)
        if not p:
            continue
        pred = " AND ".join(
            f"toks[i + {j}] = '{tok}'" for j, tok in enumerate(p))
        adj_selects.append(
            f"SELECT {pid} AS qid, doc_id FROM toka\n"
            f"  WHERE len(list_filter(range(1, len(toks) - {len(p)} + 2),"
            f" i -> {pred})) > 0")
    adj = "\n  UNION ALL\n  ".join(adj_selects)
    return f"""
WITH toka AS (
  SELECT {id_col} AS doc_id, {analyzer.duckdb_tokens(text_col)} AS toks
  FROM {table}
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM toka),
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM {table}) AS n,
                 (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) FROM dl)
                   / (SELECT count(*) FROM {table}) AS avgdl),
tdf AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
qt(qid, term, qtf) AS (VALUES {values}),
adj AS (
  {adj}
),
scored AS (
  SELECT qt.qid, dt.doc_id,
         round(sum(
           qt.qtf * CAST(CAST(
             ln(1.0 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))
               * (dt.tf * ({K1} + 1.0))
               / (dt.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))
           AS FLOAT) AS DOUBLE)
         ), {SCORE_DECIMALS}) AS score
  FROM qt
  JOIN dt  ON qt.term = dt.term
  JOIN tdf ON qt.term = tdf.term
  JOIN dl  ON dt.doc_id = dl.doc_id
  JOIN adj ON qt.qid = adj.qid AND dt.doc_id = adj.doc_id
  CROSS JOIN stats s
  GROUP BY qt.qid, dt.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC)
           AS rank
  FROM scored
)
SELECT qid, rank, doc_id, score FROM ranked {limit_pred}
ORDER BY qid, rank
"""
