"""Boolean-AND retrieval (conjunctive_topk) + result snippets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_splade_spark.engine import Engine
from light_splade_spark.operators.snippets import snippets

CORPUS = [
    (0, "spark hash join merge sort"),
    (1, "hash join only here"),
    (2, "spark join and nothing else"),
    (3, "spark spark spark hash hash join"),
    (4, "completely unrelated words"),
    (5, ""),  # empty doc — stats edge case
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    docs = spark.createDataFrame(CORPUS, "doc_id BIGINT, text STRING")
    d = tmp_path_factory.mktemp("conj") / "idx"
    return Engine.build(spark, docs, str(d), n_buckets=4, n_salts=2,
                        n_shard_groups=1, block_size=32), docs


def test_conjunctive_matches_only_full_matches(eng):
    engine, _ = eng
    out = engine.conjunctive([(0, "spark hash join")], top_k=0).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 3]  # both terms+join
    # disjunctive retrieve finds partial matches too
    dis = engine.retrieve([(0, "spark hash join")], top_k=0).collect()
    assert len(dis) > len(out)


def test_conjunctive_scores_equal_disjunctive(eng):
    """AND-mode scores are byte-identical to retrieve()'s for the same
    (query, doc) pairs — same impacts, same rounding, same tie-break."""
    engine, _ = eng
    q = [(7, "spark hash join"), (8, "hash join")]
    conj = {(r["qid"], r["doc_id"]): r["score"]
            for r in engine.conjunctive(q, top_k=0).collect()}
    dis = {(r["qid"], r["doc_id"]): r["score"]
           for r in engine.retrieve(q, top_k=0).collect()}
    assert conj and all(dis[k] == v for k, v in conj.items())


def test_conjunctive_absent_term_and_ranks(eng):
    engine, _ = eng
    # a term missing from the index -> zero rows (never partial matches)
    assert engine.conjunctive([(0, "spark zzzabsent")], top_k=0).count() == 0
    # ranks are 1..n, score-desc, doc_id tie-break
    rows = engine.conjunctive([(0, "hash join")], top_k=2).collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2]


def test_conjunctive_duckdb_oracle(eng):
    """Full mirror: BM25 over shared terms, docs containing ALL terms."""
    import duckdb

    engine, _ = eng
    got = sorted((r["qid"], r["doc_id"], r["score"])
                 for r in engine.conjunctive(
                     [(0, "spark hash"), (1, "join")], top_k=0).collect())
    k1, b = engine.manifest.k1, engine.manifest.b
    n, avgdl = engine.manifest.n_docs, engine.manifest.avgdl
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", CORPUS)
    got_sql = sorted(tuple(r) for r in con.sql(f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM docs WHERE text <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
q(qid, term, qtf) AS (VALUES (0, 'spark', 1), (0, 'hash', 1), (1, 'join', 1)),
nq AS (SELECT qid, count(*) AS n_terms FROM q GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(CAST(
           ln(1 + ({n} - df.df + 0.5) / (df.df + 0.5)) *
           (tf.tf * ({k1} + 1)) /
           (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / {avgdl}))
         AS FLOAT) AS DOUBLE) AS w
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)),
sc AS (
  SELECT q.qid, w.doc_id, round(sum(q.qtf * w.w), 4) AS score,
         count(*) AS nm
  FROM q JOIN w ON q.term = w.term GROUP BY 1, 2)
SELECT sc.qid, sc.doc_id, sc.score
FROM sc JOIN nq USING (qid) WHERE sc.nm = nq.n_terms
ORDER BY 1, 2""").fetchall())
    assert got == got_sql


def test_snippets_golden_and_nulls(eng, spark):
    engine, docs = eng
    res = engine.conjunctive([(0, "hash join")], top_k=0)
    out = {r["doc_id"]: r for r in
           snippets(res, docs, [(0, "hash join")], window=6).collect()}
    # doc 0: earliest occurrence of 'hash' at pos 7 ("spark hash ...")
    assert out[0]["matched_term"] == "hash"
    assert "hash" in out[0]["snippet"]
    # window clipping adds ellipses only where text was cut
    assert out[0]["snippet"].startswith("…") or out[0]["snippet"].startswith("spark")
    # every result row survives, even if no substring match existed
    assert set(out) == {r["doc_id"] for r in res.collect()}


def test_snippets_duckdb_mirror(spark):
    """The whole operator is ANSI-mirrorable: strpos/substr in DuckDB
    produce the same (matched_term, snippet) values."""
    import duckdb

    rows = [(0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "xx gamma yy"), (2, "no match here at all")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    res = spark.createDataFrame([(9, 0), (9, 1), (9, 2)],
                                "qid BIGINT, doc_id BIGINT")
    got = sorted((r["doc_id"], r["matched_term"], r["snippet"])
                 for r in snippets(res, docs, [(9, "gamma zeta")],
                                   window=5).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.sql("""
WITH q(qid, term) AS (VALUES (9, 'gamma'), (9, 'zeta')),
hit AS (
  SELECT d.doc_id, q.term, strpos(lower(d.text), q.term) AS pos, d.text
  FROM docs d CROSS JOIN q WHERE strpos(lower(d.text), q.term) > 0),
best AS (
  SELECT doc_id, term, pos, text,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos, term) AS rn
  FROM hit)
SELECT r.doc_id,
       b.term AS matched_term,
       CASE WHEN b.doc_id IS NULL THEN NULL ELSE
         (CASE WHEN greatest(1, b.pos - 5) > 1 THEN '…' ELSE '' END) ||
         substr(b.text, greatest(1, b.pos - 5), length(b.term) + 10) ||
         (CASE WHEN greatest(1, b.pos - 5) + length(b.term) + 10
                    <= length(b.text) THEN '…' ELSE '' END)
       END AS snippet
FROM (SELECT DISTINCT doc_id FROM docs) r
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
ORDER BY 1""").fetchall())
    assert got == want


def test_snippets_unicode_length_changing_case(spark):
    """Positions are found on the lowered text; when case folding changes
    string length ('İ' U+0130 lowers to 2 chars) the window must still
    contain the match (extraction falls back to the folded text)."""
    docs = spark.createDataFrame([(0, "İİİ gamma delta")],
                                 "doc_id BIGINT, text STRING")
    res = spark.createDataFrame([(1, 0)], "qid BIGINT, doc_id BIGINT")
    row = snippets(res, docs, [(1, "gamma")], window=0).collect()[0]
    assert "gamma" in row["snippet"], row["snippet"]


def test_snippets_no_python_plan(eng, spark):
    engine, docs = eng
    res = engine.conjunctive([(0, "hash join")], top_k=0)
    out = snippets(res, docs, [(0, "hash join")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_conjunctive_exclude_terms(eng):
    """NOT arm: docs containing any excluded term are banned before
    ranking; survivors keep their exact scores; an index-absent excluded
    term bans nothing."""
    engine, _ = eng
    base = {r["doc_id"]: r["score"]
            for r in engine.conjunctive([(0, "hash join")], top_k=0)
            .collect()}
    # 'spark' appears in docs 0, 2, 3 -> only doc 1 survives
    out = engine.conjunctive([(0, "hash join")], top_k=0,
                             exclude="spark").collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["score"] == base[1]          # score unchanged
    assert out[0]["rank"] == 1                 # ranks re-densify
    # absent excluded term bans nothing
    same = engine.conjunctive([(0, "hash join")], top_k=0,
                              exclude="zzzabsent").collect()
    assert {r["doc_id"] for r in same} == set(base)


def test_absent_term_queries_run_no_spark_job(eng, spark, spark_jobs):
    """A query whose plan is empty comes back as an Arrow local relation:
    collecting it runs no Spark job (an empty list or pandas frame would
    be a pickled Python RDD, one job per call)."""
    from light_splade_spark.index.phrase import conjunctive_topk
    from light_splade_spark.index.wand import wand_topk

    engine, _ = eng
    rows, jobs = spark_jobs(lambda: wand_topk(
        spark, engine.index_dir, [(0, "zzzabsent")], top_k=10).collect())
    assert rows == [] and jobs == []
    rows, jobs = spark_jobs(lambda: conjunctive_topk(
        spark, engine.index_dir, [(0, "spark zzzabsent")],
        top_k=10).collect())
    assert rows == [] and jobs == []


_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
          "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
          "pi", "rho", "sigma", "tau", "upsilon"]


def _zipf_docs(rng, ids):
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    return [(int(i), " ".join(rng.choice(_WORDS, int(rng.integers(4, 11)),
                                         p=p / p.sum())))
            for i in ids]


def _and_rows(spark, idx, queries, top_k, exclude, local):
    """conjunctive_topk with its route pinned to ``local``."""
    import light_splade_spark.index.phrase as phrase

    real = phrase.shard_topk
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(phrase, "shard_topk",
                   lambda *a, **kw: real(*a, local=local, **kw))
        return sorted(tuple(r) for r in phrase.conjunctive_topk(
            spark, idx, queries, top_k=top_k, exclude=exclude).collect())


def test_and_routes_identical_matrix(spark, tmp_path):
    """The driver-local and distributed AND routes return identical
    (qid, rank, doc_id, score) rows on float32 and weight_bits=8 indexes
    with an appended shard group, tombstones and re-appended doc ids,
    with and without an excluded term, at top_k 0/2/10, for a 2-query
    batch and a 70-query batch (past the kernel's 64-query shared-scorer
    switch, which the AND mode must bypass). The full-match sets are
    checked against the corpus text, with scores taken from the
    disjunctive route.

    A re-appended id keeps its old postings beside the new ones (the
    zombie contract, streaming/incremental.append_batch), so its term
    lists hold the id twice: it matches the union of both texts' terms,
    and must not match a query only because one term lists it twice."""
    from light_splade_spark.index.build import build_index
    from light_splade_spark.index.tombstones import delete_docs
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.streaming.incremental import append_batch

    rng = np.random.default_rng(7)
    base = _zipf_docs(rng, range(300))
    extra = _zipf_docs(rng, range(5000, 5040))
    top = _WORDS[:10]
    big = [(q, " ".join(rng.choice(top, int(rng.integers(2, 4)),
                                   replace=False)))
           for q in range(70)]
    small = big[:2]
    for wb in (32, 8):
        idx = str(tmp_path / f"and{wb}")
        build_index(spark, spark.createDataFrame(
            base, "doc_id BIGINT, text STRING"), idx, n_shards=4,
            n_buckets=4, n_salts=2, n_shard_groups=1, block_size=16,
            weight_bits=wb)
        append_batch(spark, idx, spark.createDataFrame(
            extra, "doc_id BIGINT, text STRING"), "p1")
        # doc 1 re-appended as is, doc 4 deleted then re-appended, and
        # 5039 (the highest id) re-appended holding two top terms only
        delete_docs(spark, idx, [4])
        zombies = [(1, base[1][1]), (4, " ".join(top[:3])),
                   (5039, " ".join(top[:2]))]
        append_batch(spark, idx, spark.createDataFrame(
            zombies, "doc_id BIGINT, text STRING"), "z1")
        victims = [r[2] for r in _and_rows(spark, idx, small, 3, None,
                                           "never")
                   if r[2] not in dict(zombies)]
        delete_docs(spark, idx, victims + [5001])
        dead = set(victims) | {5001}
        terms = {d: set(t.split()) for d, t in base + extra if d not in dead}
        for d, t in zombies:
            terms[d] |= set(t.split())
        score = {(r.qid, r.doc_id): r.score for r in wand_topk(
            spark, idx, big, top_k=0, local="never").collect()}
        for exclude in (None, "theta"):
            full = sorted(
                (q, d) for q, text in big for d, ts in terms.items()
                if set(text.split()) <= ts
                and not (exclude and exclude in ts))
            for top_k in (0, 2, 10):
                for batch in (small, big):
                    loc = _and_rows(spark, idx, batch, top_k, exclude,
                                    "force")
                    dist = _and_rows(spark, idx, batch, top_k, exclude,
                                     "never")
                    assert loc == dist and loc, (wb, exclude, top_k,
                                                 len(batch))
                    assert not dead & {d for _, _, d, _ in loc}
                if top_k == 0:  # loc: the 70-query batch's rows
                    assert [(q, d) for q, _, d, _ in sorted(
                        loc, key=lambda r: (r[0], r[2]))] == full
                    assert all(score[q, d] == s for q, _, d, s in loc)


def test_and_routes_after_compacting_reappended_ids(spark, tmp_path):
    """Compaction folds a re-appended id's old and new postings into ONE
    list that holds the id twice. Doc 3 re-appended with "spark" only:
    "spark join" still matches it through its old text; doc 6 (past every
    "join" posting) re-appended with "spark" only must not match "spark
    join". Both AND routes agree, and scores equal the disjunctive
    route's (both copies' impacts summed) on the per-query and the
    64-query shared-scorer paths."""
    from light_splade_spark.index.wand import wand_topk
    from light_splade_spark.streaming.incremental import append_batch

    corpus = CORPUS + [(6, "spark only here")]
    idx = str(tmp_path / "zc")
    eng = Engine.build(spark, spark.createDataFrame(
        corpus, "doc_id BIGINT, text STRING"), idx, n_shards=1,
        n_buckets=4, n_salts=2, n_shard_groups=1, block_size=2)
    append_batch(spark, idx, spark.createDataFrame(
        [(3, "spark"), (6, "spark")], "doc_id BIGINT, text STRING"), "z")
    eng.compact()
    qs = [(0, "spark join"), (1, "spark hash")]
    want = {0: [0, 2, 3], 1: [0, 3]}
    for batch in (qs, qs * 32):  # 64 queries: the shared-scorer switch
        batch = [(i, t) for i, (_, t) in enumerate(batch)]
        score = {(r.qid, r.doc_id): r.score for r in wand_topk(
            spark, idx, batch, top_k=0, local="never").collect()}
        for local in ("force", "never"):
            rows = _and_rows(spark, idx, batch, 10, None, local)
            for q, _ in batch:
                assert sorted(d for qq, _, d, _ in rows if qq == q) \
                    == want[q % 2], (local, len(batch), q)
            assert all(score[q, d] == s for q, _, d, s in rows)
