"""Keyword + hybrid search (the reference's designed-but-unbuilt search
subsystem, SEMANTIC-SEARCH-ROADMAP.md:104-135): BM25 term scoring and
Reciprocal-Rank-Fusion of two ranked lists.

BM25 is classic explode → agg → join: DF from groupBy(term), TF from
groupBy(doc, term); the tiny per-term DF table broadcasts into the TF join,
so the only real shuffle is the TF aggregation (partial map-side combine).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import words_of
from ..sinks.metrics import local_frame


def _bm25_tokens(docs: DataFrame, id_col: str, text_col: str,
                 tokens_col: str | None = None) -> DataFrame:
    """(id, w, dl) over the shared tokenizer — the common BM25 head. A
    precomputed ``tokens_col`` array column skips the tokenize (the shared
    corpus-scan pattern: one words_of pass feeds every arm)."""
    w = F.col(tokens_col) if tokens_col else words_of(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("id"), w.alias("w")
    ).withColumn("dl", F.size("w"))


def _bm25_from_tf(toks: DataFrame, tf: DataFrame, k1: float, b: float) -> DataFrame:
    """Shared BM25 tail: given the token frame (for corpus stats) and the
    per-(id, term) tf frame, compute (id, score). idf =
    ln(1 + (N - df + 0.5)/(df + 0.5)); standard Robertson form. Factored
    so the list-terms and DataFrame-terms variants cannot desynchronize on
    k1/b/idf details."""
    n_docs_avgdl = toks.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs_avgdl))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("id").agg(F.round(F.sum("term_score"), 6).alias("score"))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, score) BM25 over the shared tokenizer, query terms fixed as a
    driver-side literal isin filter (pushdown-friendly — the 100 TB form
    for hand-typed queries)."""
    toks = _bm25_tokens(docs, id_col, text_col, tokens_col)
    tf = (
        toks.select("id", "dl", F.explode("w").alias("term"))
        .where(F.col("term").isin(query_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    return _bm25_from_tf(toks, tf, k1, b)


def hydrate(results: DataFrame, docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", snippet_len: int = 80) -> DataFrame:
    """J1/J3 hydration join (SEMANTIC-SEARCH-ROADMAP.md:41,91-98): attach
    document text snippets to ranked (id, score) results. The result set is
    k rows → broadcast it into the big documents table so hydration is a
    map-side join (no shuffle of the corpus)."""
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    return (
        d.join(F.broadcast(results), "id")
        .select("id", "score", F.substring("_t", 1, snippet_len).alias("snippet"))
    )


def topk(df: DataFrame, n: int, score_col: str = "score", id_col: str = "id") -> DataFrame:
    """Bounded top-n: orderBy+limit plans as TakeOrderedAndProject —
    per-partition partial top-n, single tiny final merge, never a global
    sort (asserted in tests/test_plans.py)."""
    return df.orderBy(F.desc(score_col), F.asc(id_col)).limit(n)


def _rank_bounded(df: DataFrame, name: str, score_col: str = "score",
                  id_col: str = "id") -> DataFrame:
    """Rank a BOUNDED (top-n, n ≲ 1k) result set with NO window at all:
    rank(x) = |{y : y sorts ≤ x by (score desc, id asc)}| via a broadcast
    self-join + count. n² comparisons with bounded n is trivia, fully
    parallel, and avoids the partition-less Window's single-task sort —
    the round-1 scale weakness of this module. Returns (id, rank:int).
    """
    x, y = df.alias("x"), df.alias("y")
    sx, sy = F.col(f"x.{score_col}"), F.col(f"y.{score_col}")
    ix, iy = F.col(f"x.{id_col}"), F.col(f"y.{id_col}")
    before_or_self = (sy > sx) | ((sy == sx) & (iy <= ix))
    return (
        x.join(F.broadcast(y), before_or_self)
        .groupBy(ix.alias(id_col))
        .agg(F.count(F.lit(1)).cast("int").alias(name))
    )


def eval_retrieval(retrieved: DataFrame, relevant: DataFrame, k: int = 10) -> DataFrame:
    """A5 eval metrics (SEMANTIC-SEARCH-ROADMAP.md:506-511): recall@k,
    precision@k, MRR for one ranked result list.

    ``retrieved``: (id, score) — ranked by score desc, id asc; ``relevant``:
    (id). Top-k is a TakeOrderedAndProject and ranks come from the bounded
    windowless ranker, so the plan has no partition-less Window; the recall
    denominator is computed INSIDE the plan (no eager count, n_rel=0 yields
    recall 0.0 rather than null/NaN). Returns ONE row. For eval sets use
    :func:`eval_retrieval_by_query`.
    """
    ranked = _rank_bounded(topk(retrieved, k), "rank")
    # qrels files concatenate — duplicate judgments must not fan out the
    # join (hits would double-count, precision could exceed 1.0)
    relevant = relevant.select("id").distinct()
    rel = relevant.select(F.col("id").alias("rid")).withColumn("hit", F.lit(1))
    n_rel = relevant.agg(F.count(F.lit(1)).alias("n_rel"))
    joined = (
        ranked.join(F.broadcast(rel), ranked.id == rel.rid, "left")
        .crossJoin(F.broadcast(n_rel))
    )
    hits = F.sum(F.coalesce("hit", F.lit(0)))
    return joined.agg(
        F.round(
            F.coalesce(F.when(F.max("n_rel") > 0, hits / F.max("n_rel")), F.lit(0.0)), 6
        ).alias("recall_at_k"),
        F.round(F.coalesce(hits, F.lit(0)) / F.lit(float(k)), 6).alias("precision_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.min(F.when(F.col("hit") == 1, F.col("rank"))), F.lit(0.0)),
            6,
        ).alias("mrr"),
    )


def eval_retrieval_by_query(retrieved: DataFrame, relevant: DataFrame, k: int = 10,
                            query_col: str = "query_id") -> DataFrame:
    """Multi-query eval (the reference eval-harness shape,
    SEMANTIC-SEARCH-ROADMAP.md:492-511): one metrics row per query.

    ``retrieved``: (query_col, id, score); ``relevant``: (query_col, id).
    Ranks use a window PARTITIONED by query_col — each query's list sorts in
    its own task, so the stage parallelizes across queries (the scale axis
    of an eval set). Recall denominators come from a per-query aggregation
    joined in; queries with no relevant rows get recall 0.0.
    """
    w = Window.partitionBy(query_col).orderBy(F.desc("score"), F.asc("id"))
    ranked = retrieved.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    # dedupe judgments: see eval_retrieval
    relevant = relevant.select(query_col, "id").distinct()
    rel = relevant.select(query_col, "id").withColumn("hit", F.lit(1))
    joined = ranked.join(rel, [query_col, "id"], "left")
    per_q = joined.groupBy(query_col).agg(
        F.sum(F.coalesce("hit", F.lit(0))).alias("hits"),
        F.min(F.when(F.col("hit") == 1, F.col("rank"))).alias("best"),
    )
    rel_n = relevant.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_rel"))
    return per_q.join(rel_n, query_col, "left").select(
        query_col,
        F.round(
            F.coalesce(
                F.when(F.col("n_rel") > 0, F.col("hits") / F.col("n_rel")), F.lit(0.0)
            ),
            6,
        ).alias("recall_at_k"),
        F.round(F.col("hits") / F.lit(float(k)), 6).alias("precision_at_k"),
        F.round(F.coalesce(F.lit(1.0) / F.col("best"), F.lit(0.0)), 6).alias("mrr"),
    )


def rerank(
    candidates: DataFrame,
    query_terms: list[str],
    text_col: str = "content",
    alpha: float = 0.5,
) -> DataFrame:
    """Rerank stage of hybrid search (SEMANTIC-SEARCH-ROADMAP.md:137-144:
    an optional cross-encoder re-scores retrieval candidates; retrieval
    scores are preserved for debugging/blending).

    ``candidates``: (id, score, <text_col>) — the k hydrated results. The
    cross-encoder is STUBBED deterministically (no model runs in this data
    plane): term-coverage (distinct query terms present / total) blended
    with a saturating term-frequency component. A real model slots in as
    an Arrow-batched pandas UDF over the same k-row frame — candidates are
    top-k sized, so model cost dominates and the Spark plan shape (narrow
    projection over a broadcast-joined candidate set) is already right.

    Returns (id, score, rerank_score, final_score) with
    final = α·rerank + (1-α)·score.
    """
    # dedupe: the coverage denominator counts DISTINCT query terms (the
    # numerator is array_intersect, already distinct — a duplicated term
    # would deflate coverage); sorted for a deterministic plan. Empty
    # queries fail fast instead of building a /0 ANSI-crash plan.
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    w = words_of(F.col(text_col))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    matched = F.size(F.array_intersect(w, terms_arr))
    tf_total = F.size(F.filter(w, lambda x: x.isin(*terms)))
    rerank_score = F.round(
        (matched.cast("double") / F.lit(float(len(terms)))) * 0.7
        + F.least(tf_total.cast("double") / F.lit(20.0), F.lit(1.0)) * 0.3,
        6,
    )
    return candidates.select(
        "id",
        "score",
        rerank_score.alias("rerank_score"),
        # blend in DECIMAL space: both operands are round(·,6) values, so
        # alpha=0.5 puts the sum's 7th decimal at an exact half boundary
        # where Spark's BigDecimal HALF_UP and DuckDB's double rounding
        # legitimately disagree (found by the sf1.0 gate: 0.5004365 →
        # 0.500437 vs 0.500436). Decimal products/sums are exact and both
        # engines round decimals half-away-from-zero identically.
        F.round(
            F.lit(alpha).cast("decimal(8,6)")
            * rerank_score.cast("decimal(10,6)")
            + F.lit(1.0 - alpha).cast("decimal(8,6)")
            * F.col("score").cast("decimal(10,6)"),
            6,
        ).cast("double").alias("final_score"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
    top_n: int | None = None,
    query_col: str | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (roadmap :130-135): full-outer on id,
    score = Σ 1/(k + rank); missing list contributes 0.

    Inputs: (id, score) frames (plus ``query_col`` for multi-query fusion);
    ranks derived per-list by score desc, id asc. Three plan shapes:

    - ``query_col`` set: windows partition by query — every query's lists
      rank in parallel; the scale path for batched search.
    - ``top_n`` set (single query): each list is first cut to its top-n by
      TakeOrderedAndProject, then ranked by the bounded windowless ranker —
      the fused plan contains NO Window (RRF only needs top ranks; beyond
      top_n the 1/(k+rank) tail is ~0).
    - neither: exact full-list fusion with a global window — only for small
      bounded lists (kept for parity tests; not the 100 TB shape).
    """
    def ranked(df: DataFrame, name: str) -> DataFrame:
        if query_col is not None:
            w = Window.partitionBy(query_col).orderBy(F.desc("score"), F.asc("id"))
            out = df.select(query_col, "id", F.row_number().over(w).alias(name))
            if top_n is not None:
                out = out.filter(F.col(name) <= top_n)
            return out
        if top_n is not None:
            return _rank_bounded(topk(df, top_n), name)
        w = Window.orderBy(F.desc("score"), F.asc("id"))
        return df.select("id", F.row_number().over(w).alias(name))

    keys = [query_col, "id"] if query_col is not None else ["id"]
    a = ranked(ranked_a, "rank_a")
    b = ranked(ranked_b, "rank_b")
    return (
        a.join(b, keys, "full_outer")
        .select(
            *keys,
            F.round(
                F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )


def bm25_scores_for_terms(
    docs: DataFrame,
    terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str | None = None,
) -> DataFrame:
    """:func:`bm25_scores` with the query terms as a DataFrame (one ``term``
    column) instead of a Python list — the form RM3 needs, where the second-
    pass terms are DATA (the expansion set), not driver-side constants. The
    terms frame broadcasts into the token stream (deduped — a repeated
    expansion term must not fan out tf rows); scoring shares
    :func:`_bm25_from_tf` with the isin() variant."""
    toks = _bm25_tokens(docs, id_col, text_col, tokens_col)
    tf = (
        toks.select("id", "dl", F.explode("w").alias("term"))
        .join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    return _bm25_from_tf(toks, tf, k1, b)


def rm3_expansion_terms(
    docs: DataFrame,
    query_terms: list[str],
    first_pass: DataFrame | None = None,
    k_fb: int = 10,
    m: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """RM3 pseudo-relevance feedback expansion terms (Lavrenko & Croft 2001
    relevance models; the Anserini-default RM3 shape): take the top ``k_fb``
    first-pass BM25 docs, weight every non-query term by
    Σ_d score(d) · tf(t,d)/dl(d) (the relevance-model estimate with BM25
    scores standing in for query likelihood), and keep the top ``m`` terms.
    Weight rounded to 6 decimals BEFORE ranking (sum-order discipline),
    ties broken by term — the selection is engine-deterministic.

    Returns (term, rm_weight), at most m rows. ``first_pass`` lets the
    caller reuse an already-checkpointed stage-1 frame."""
    s1 = first_pass if first_pass is not None else bm25_scores(
        docs, query_terms, id_col, text_col, tokens_col=tokens_col
    )
    fb = s1.orderBy(F.desc("score"), F.asc("id")).limit(k_fb)
    occ = _bm25_tokens(docs, id_col, text_col, tokens_col).select(
        "id", "dl", F.explode("w").alias("term")
    )
    return (
        occ.join(F.broadcast(fb), "id")  # k_fb rows — always broadcastable
        .where(~F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.round(F.sum(F.col("score") / F.col("dl")), 6).alias("rm_weight"))
        .orderBy(F.desc("rm_weight"), F.asc("term"))
        .limit(m)
    )


def rm3_scores(
    docs: DataFrame,
    query_terms: list[str],
    k_fb: int = 10,
    m: int = 5,
    beta: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Full RM3: first-pass BM25 + expansion + interpolated second pass —
    final(d) = round(s1(d) + beta · s2(d), 6) over the union of both result
    sets, where s2 scores ONLY the expansion terms (the original terms keep
    their exact first-pass weight; beta is the feedback interpolation).

    Scale shape: stage 1 is the plain BM25 plan; the (id, score) result is
    localCheckpoint'ed because both the feedback join and the final
    interpolation consume it (the conversion_funnel recompute lesson — the
    frame is two columns, far smaller than re-running the explode). The
    expansion set is ≤ m rows, broadcast into the second pass; the final
    merge is a full outer join of two score frames keyed on id."""
    s1 = bm25_scores(
        docs, query_terms, id_col, text_col, tokens_col=tokens_col
    ).localCheckpoint(eager=True)
    exp = rm3_expansion_terms(
        docs, query_terms, first_pass=s1, k_fb=k_fb, m=m,
        id_col=id_col, text_col=text_col, tokens_col=tokens_col,
    )
    s2 = bm25_scores_for_terms(docs, exp, id_col, text_col,
                               tokens_col=tokens_col)
    a = s1.withColumnRenamed("score", "s1")
    c = s2.withColumnRenamed("score", "s2")
    return (
        a.join(c, "id", "full_outer")
        .select(
            "id",
            F.round(
                F.coalesce(F.col("s1"), F.lit(0.0))
                + F.lit(beta) * F.coalesce(F.col("s2"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )


def rm3_sql(
    words_sql: str,
    table: str,
    id_expr: str,
    query_terms: list[str],
    k_fb: int = 10,
    m: int = 5,
    beta: float = 0.4,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`rm3_scores` — a complete SELECT returning
    (id, score), expression-for-expression the Spark double math."""
    qt = ", ".join(f"'{t}'" for t in query_terms)

    def bm25_ctes(tag: str, term_pred: str) -> str:
        return f"""
tf{tag} AS (SELECT id, dl, term, count(*) AS tf FROM rm3t2
       WHERE {term_pred} GROUP BY 1, 2, 3),
dft{tag} AS (SELECT term, count(DISTINCT id) AS df FROM tf{tag} GROUP BY term),
sc{tag} AS (
  SELECT tf{tag}.id,
         ln(1 + (rm3stats.n - dft{tag}.df + 0.5) / (dft{tag}.df + 0.5))
         * (tf{tag}.tf * ({k1} + 1))
         / (tf{tag}.tf + {k1} * (1 - {b} + {b} * tf{tag}.dl / rm3stats.avgdl)) AS ts
  FROM tf{tag} JOIN dft{tag} ON tf{tag}.term = dft{tag}.term CROSS JOIN rm3stats),
s{tag} AS (SELECT id, round(sum(ts), 6) AS score FROM sc{tag} GROUP BY id)"""

    return f"""
WITH rm3toks AS (SELECT {id_expr} AS id, {words_sql} AS w FROM {table}),
rm3stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM rm3toks),
rm3t2 AS (SELECT id, CAST(len(w) AS INTEGER) AS dl, unnest(w) AS term FROM rm3toks),
{bm25_ctes("1", f"term IN ({qt})")},
rm3fb AS (SELECT id, score FROM s1 ORDER BY score DESC, id ASC LIMIT {k_fb}),
rm3w AS (SELECT term, round(sum(rm3fb.score / rm3t2.dl), 6) AS rm_weight
         FROM rm3t2 JOIN rm3fb USING (id)
         WHERE term NOT IN ({qt})
         GROUP BY term),
rm3exp AS (SELECT term FROM rm3w ORDER BY rm_weight DESC, term ASC LIMIT {m}),
{bm25_ctes("2", "term IN (SELECT term FROM rm3exp)")}
SELECT coalesce(s1.id, s2.id) AS id,
       round(coalesce(s1.score, 0.0) + {beta} * coalesce(s2.score, 0.0), 6) AS score
FROM s1 FULL OUTER JOIN s2 ON s1.id = s2.id
""".strip()


def ql_scores(
    docs: DataFrame,
    query_terms: list[str],
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty 2001) —
    the language-model retrieval classic beside BM25:

        score(d) = Σ_q ln( (tf(q,d) + μ·cf(q)/|C|) / (dl(d) + μ) )

    EVERY document scores (smoothing gives unseen terms mass), so the
    result has one row per doc; final sum rounded to 6 decimals. Query
    terms absent from the corpus entirely are dropped from the query (the
    standard convention — their cf is 0 and ln(0) is undefined).

    Scale shape: corpus stats are one aggregate (|C|) + one filtered
    term count (≤ |query| rows, broadcast); per-doc tf is the usual
    filtered explode + (id, term) partial agg; the scorer is a crossJoin
    against the ≤|query|-row term table + one left join + per-doc sum."""
    toks = _bm25_tokens(docs, id_col, text_col, tokens_col)
    total = toks.agg(F.sum("dl").cast("double").alias("t"))
    cf = (
        toks.select(F.explode("w").alias("term"))
        .where(F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("cf"))
        .crossJoin(F.broadcast(total))
        .select("term", (F.col("cf") / F.col("t")).alias("p_c"))
    )
    tf = (
        toks.select("id", F.explode("w").alias("term"))
        .where(F.col("term").isin(query_terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    return (
        toks.select("id", "dl")
        .crossJoin(F.broadcast(cf))
        .join(tf, ["id", "term"], "left")
        .groupBy("id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.coalesce(F.col("tf"), F.lit(0.0)) + F.lit(mu) * F.col("p_c"))
                        / (F.col("dl") + F.lit(mu))
                    )
                ),
                6,
            ).alias("score")
        )
    )


def ql_sql(
    words_sql: str,
    table: str,
    id_expr: str,
    query_terms: list[str],
    mu: float = 2000.0,
) -> str:
    """DuckDB mirror of :func:`ql_scores`."""
    qt = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH qlt AS (SELECT {id_expr} AS id, {words_sql} AS w FROM {table}),
qld AS (SELECT id, CAST(len(w) AS INTEGER) AS dl, w FROM qlt),
qltot AS (SELECT CAST(sum(dl) AS DOUBLE) AS t FROM qld),
qlcf AS (SELECT term, CAST(count(*) AS DOUBLE) / (SELECT t FROM qltot) AS p_c
         FROM (SELECT unnest(w) AS term FROM qld)
         WHERE term IN ({qt}) GROUP BY term),
qltf AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf
         FROM (SELECT id, unnest(w) AS term FROM qld)
         WHERE term IN ({qt}) GROUP BY id, term)
SELECT qld.id,
       round(sum(ln((coalesce(qltf.tf, 0.0) + {mu} * qlcf.p_c) / (qld.dl + {mu}))), 6)
         AS score
FROM qld CROSS JOIN qlcf
LEFT JOIN qltf ON qld.id = qltf.id AND qlcf.term = qltf.term
GROUP BY qld.id
""".strip()


def best_window_snippet(
    results: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
) -> DataFrame:
    """Query-aware snippet for a ranked result set: score every
    ``window``-token span of each hit by DISTINCT query-term coverage,
    return the earliest best span (space-joined) plus its hit count —
    the search-results UX surface the reference's roadmap sketches for
    result presentation.

    Scale posture: the k-row result set broadcasts into the documents
    scan (map-side hydrate, corpus never shuffles), and the interpreted
    higher-order span scoring — transform/slice/array_intersect are NOT
    codegen'd — runs on exactly k hydrated rows, so its O(tokens·window)
    cost is per-result, never per-corpus-row. Ties break earliest
    (array_position returns the first maximal span) in both engines.

    Returns (id, score, snippet string, n_hits int).
    """
    terms = F.array(*[F.lit(t.lower()) for t in query_terms])
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    hyd = d.join(F.broadcast(results.select("id", "score")), "id")
    scored = hyd.select(
        "id", "score", words_of(F.col("_t")).alias("_w")
    ).withColumn(
        "_sc",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("_w") - F.lit(window - 1), F.lit(1))),
            lambda i: F.size(F.array_intersect(F.slice("_w", i, window), terms)),
        ),
    ).withColumn("_best", F.array_max("_sc")).withColumn(
        "_pos", F.expr("array_position(_sc, _best)").cast("int")
    )
    return scored.select(
        "id",
        "score",
        F.concat_ws(" ", F.slice("_w", F.col("_pos"), window)).alias("snippet"),
        F.col("_best").alias("n_hits"),
    )


def best_window_snippet_sql(
    topk_sql: str,
    query_terms: list[str],
    window: int = 12,
    words_sql: str = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')",
) -> str:
    """DuckDB mirror of best_window_snippet over ``documents`` hydrated
    from ``topk_sql`` (an (id, score) subquery): identical tokenizer,
    span scoring (list_intersect dedupes exactly like array_intersect),
    and earliest-max tie-break (list_position)."""
    terms = "[" + ", ".join(f"'{t.lower()}'" for t in query_terms) + "]"
    return f"""
WITH topk AS ({topk_sql}),
h AS (SELECT d.doc_id AS id, t.score, {words_sql} AS w
      FROM documents d JOIN topk t ON d.doc_id = t.id),
s AS (SELECT id, score, w,
             list_transform(range(1, greatest(len(w) - {window - 1}, 1) + 1),
               i -> len(list_intersect(list_slice(w, i, i + {window - 1}), {terms}))) AS sc
      FROM h)
SELECT id, score,
       array_to_string(list_slice(w, list_position(sc, list_max(sc)),
                                  list_position(sc, list_max(sc)) + {window - 1}), ' ') AS snippet,
       CAST(list_max(sc) AS INTEGER) AS n_hits
FROM s
""".strip()


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top-``k`` most salient
    terms of every document — the classic doc-analysis/fingerprinting op
    (tags for faceting, routing keys, weak labels for classifier
    bootstraps).

    score = tf · (ln((N+1)/(df+1)) + 1), the smoothed sklearn-style idf;
    ranking compares the 6-decimal-ROUNDED score (then term asc) so both
    engines order ties identically. Returns (id, rank, term, score).

    Scale shape (same skeleton as :func:`bm25_scores`): tf is a map-side
    partial (id, term) count; df aggregates the tf frame (vocab-sized,
    NOT doc-sized); N rides a broadcast one-row cross join; the per-doc
    top-k is a WindowGroupLimit-pushed rank over each doc's distinct
    terms — no global sort, no driver collect. The tf↔df join keys on
    term and is left to AQE: a web-scale vocab (junk tokens make it
    billions of rows) is not reliably broadcastable.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(words_of(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "term", "score")
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information: the top-``k``
    term PAIRS whose document co-occurrence beats chance, PMI =
    ln(N·df_ab / (df_a·df_b)) over document-level co-occurrence — the
    classic corpus-analysis signal (multi-word entities, template
    phrases, topic anchors).

    Returns (term_a, term_b, df_ab, pmi) with term_a < term_b, ranked by
    (pmi desc, pair asc) on the 6-decimal-ROUNDED pmi (cross-engine tie
    stability), limited to ``k``.

    Scale shape: distinct (doc, term) first (bounds the self-join at
    per-doc vocabulary, not token count); terms pruned to df >= min_df
    BEFORE pairing (the standard co-occurrence cap — rare terms produce
    quadratically many meaningless pairs); the pair join keys on the doc
    id so candidates never leave their document's partition; final top-k
    is one TakeOrderedAndProject, no global sort.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(words_of(F.col(text_col))).alias("term"),
    ).distinct()
    df_t = toks.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_t.filter(F.col("df") >= min_df)
    pruned = toks.join(F.broadcast(vocab.select("term")), "term")
    a = pruned.select("id", F.col("term").alias("term_a"))
    b = pruned.select("id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("df_ab"))
    )
    nd = docs.agg(F.count("*").alias("n"))
    scored = (
        pairs.join(
            F.broadcast(vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a", "term_b", "df_ab",
            F.round(
                F.log(
                    F.col("df_ab").cast("double") * F.col("n")
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("term_a"), F.asc("term_b")
    ).limit(k)


def _positions_1based(w, term: str):
    """1-based token positions of ``term`` inside the token array ``w`` —
    pure index-lambda algebra (no element_at, so empty arrays are safe
    under ANSI mode)."""
    return F.filter(
        F.transform(w, lambda x, i: F.when(x == term, i + 1).otherwise(F.lit(-1))),
        lambda p: p > 0,
    )


def phrase_match(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact token-phrase search: (id, n_hits) for every document whose
    token sequence contains ``phrase`` contiguously, with occurrence
    counts — the positional-retrieval primitive BM25's bag-of-words
    scoring cannot express (reference roadmap's keyword-search stage,
    SEMANTIC-SEARCH-ROADMAP.md:104-119, upgraded to phrase semantics).

    Scale shape: ONE narrow scan, zero shuffle. The verify is
    OCCURRENCE-sized, not token-sized: first-term positions (one array
    pass, like proximity_pairs), then k-1 direct F.get probes per
    candidate start — never a slice-allocation per token position (the
    slice-per-position first cut measured 6x slower on the same scan).
    The containment prefilter short-circuits non-candidates inside the
    same projection. With the persisted inverted index (jobs/index.py
    postings) the candidate set instead comes from a semi-join on the
    phrase's rarest term — the generate-then-verify composition used
    across the dedup family; the doc-local verify below is unchanged
    either way.
    """
    k = len(phrase)
    wcol = F.col(tokens_col) if tokens_col else words_of(F.col(text_col))
    cand = docs.select(F.col(id_col).alias("id"), wcol.alias("w"))
    # containment prefilter: candidates must contain every phrase term
    # (same projection, short-circuits the verify on non-candidates)
    for t in set(phrase):
        cand = cand.filter(F.array_contains("w", t))
    w = F.col("w")

    def _is_start(p):
        # p is the 1-based position of phrase[0]; F.get is 0-based and
        # NULL-safe out of bounds (ANSI-safe, unlike element_at)
        cond = p + (k - 1) <= F.size(w)
        for j in range(1, k):
            cond = cond & (F.get(w, p + (j - 1)) == F.lit(phrase[j]))
        return cond

    starts = F.filter(_positions_1based(w, phrase[0]), _is_start)
    return (
        cand.select("id", F.size(starts).alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


def phrase_sql(words_sql: str, table: str, id_expr: str, phrase: list[str]) -> str:
    """DuckDB mirror of :func:`phrase_match` (1-based list slicing)."""
    k = len(phrase)
    lit = "[" + ", ".join(f"'{t}'" for t in phrase) + "]"
    return f"""
SELECT id, n_hits FROM (
  SELECT {id_expr} AS id,
         CAST(len(list_filter(range(1, len(w) - {k} + 2),
                              i -> list_slice(w, i, i + {k - 1}) = {lit})) AS INTEGER) AS n_hits
  FROM (SELECT {id_expr}, {words_sql} AS w FROM {table})
) WHERE n_hits > 0
"""


def proximity_pairs(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Proximity search: (id, min_dist) — the minimum token distance
    between any occurrence of ``term_a`` and any of ``term_b`` in each
    document containing both (the NEAR/k operator; ranks snippets and
    co-mention evidence where bag-of-words scores are blind).

    Scale shape: zero shuffle — both position lists and their min
    pairwise |a-b| are doc-local array algebra; position lists are
    occurrence-sized (tiny after the term filter), so the nested
    transform is O(occ_a x occ_b) per doc, never corpus-quadratic.
    """
    w = F.col(tokens_col) if tokens_col else words_of(F.col(text_col))
    # materialize the token array as a projection column first: the
    # position-list lambdas index it per element, and an unbound words_of
    # expression would re-tokenize per position (assembly.let_ lesson;
    # phrase_match already works this way)
    base = docs.select(F.col(id_col).alias("id"), w.alias("_w"))
    pa = _positions_1based(F.col("_w"), term_a)
    pb = _positions_1based(F.col("_w"), term_b)
    return (
        base.select("id", pa.alias("pa"), pb.alias("pb"))
        .filter((F.size("pa") > 0) & (F.size("pb") > 0))
        .select(
            "id",
            F.array_min(
                F.transform(
                    "pa",
                    lambda x: F.array_min(
                        F.transform("pb", lambda y: F.abs(x - y))
                    ),
                )
            ).cast("int").alias("min_dist"),
        )
    )


def proximity_sql(words_sql: str, table: str, id_expr: str,
                  term_a: str, term_b: str) -> str:
    """DuckDB mirror of :func:`proximity_pairs`."""
    return f"""
SELECT id,
       CAST(list_min(list_transform(pa, x ->
            list_min(list_transform(pb, y -> abs(x - y))))) AS INTEGER) AS min_dist
FROM (
  SELECT {id_expr} AS id,
         list_filter(range(1, len(w) + 1), i -> w[i] = '{term_a}') AS pa,
         list_filter(range(1, len(w) + 1), i -> w[i] = '{term_b}') AS pb
  FROM (SELECT {id_expr}, {words_sql} AS w FROM {table})
)
WHERE len(pa) > 0 AND len(pb) > 0
"""


def mmr_rerank(
    cands: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "id",
    rel_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998):
    greedily select ``k`` results maximizing ``lam*rel − (1−lam)*max
    cosine-similarity to the already-selected set`` — the diversity-aware
    final stage of the reference's designed search pipeline
    (SEMANTIC-SEARCH-ROADMAP.md:137-144's rerank slot), which plain
    score-sorted top-k cannot express (it returns near-duplicate hits).

    Scale shape: ``cands`` is a BOUNDED top-N candidate list (the output
    of TakeOrderedAndProject upstream), so the collect is model-sized by
    construction — the IVF-codebook posture, not a corpus collect. The
    greedy is O(k·N) driver-side float64 arithmetic with the SAME
    sequential index-order dot-product fold as the DuckDB mirror, so
    selections are bit-reproducible across engines. Ties break by
    ascending id at every step.

    Returns (rank, id, rel, mmr): selection order, the candidate's
    original relevance, and its marginal score at selection time.
    """
    rows = cands.select(id_col, rel_col, vec_col).collect()
    items = [(r[0], float(r[1]), [float(x) for x in r[2]]) for r in rows]

    def _dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    # 1e-300 floor: an all-zero embedding (padding / failed-embed row)
    # must not ZeroDivisionError the greedy; mmr_sql floors identically
    norm = {i: max(math.sqrt(_dot(v, v)), 1e-300) for i, _, v in items}
    one_minus = 1.0 - lam

    def _sim(a, b):
        return _dot(a[2], b[2]) / (norm[a[0]] * norm[b[0]])

    remaining = list(items)
    picked: list[tuple] = []
    out = []
    while remaining and len(out) < k:
        if not picked:
            best = min(remaining, key=lambda c: (-c[1], c[0]))
            marg = best[1]
        else:
            best, marg = None, None
            for c in remaining:
                m = lam * c[1] - one_minus * max(_sim(c, p) for p in picked)
                if best is None or m > marg or (m == marg and c[0] < best[0]):
                    best, marg = c, m
            assert best is not None
        picked.append(best)
        remaining = [c for c in remaining if c[0] != best[0]]
        out.append((len(out) + 1, best[0], best[1], float(marg)))

    id_type = cands.schema[id_col].dataType.simpleString()
    return local_frame(
        cands.sparkSession, out, f"rank int, id {id_type}, rel double, mmr double"
    )


def mmr_sql(cands_sql: str, k: int, lam: float) -> str:
    """DuckDB mirror of :func:`mmr_rerank`: the greedy loop as a recursive
    CTE carrying the picked-id list, one LATERAL argmax per step. The
    pairwise cosine uses the same index-order sequential fold
    (list_aggregate 'sum'), so every marginal is bit-identical to the
    driver-side Python and both engines pick the same candidate at every
    step. ``cands_sql`` must yield (id, rel, emb)."""
    one_minus = 1.0 - lam
    dot = ("list_aggregate(list_transform(range(1, len(a.emb)+1), "
           "i -> CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)), 'sum')")
    na = ("list_aggregate(list_transform(range(1, len(a.emb)+1), "
          "i -> CAST(a.emb[i] AS DOUBLE) * CAST(a.emb[i] AS DOUBLE)), 'sum')")
    nb = ("list_aggregate(list_transform(range(1, len(b.emb)+1), "
          "i -> CAST(b.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)), 'sum')")
    return f"""
WITH RECURSIVE mmr_cands AS ({cands_sql}),
mmr_sims AS (
  SELECT a.id AS ia, b.id AS ib,
         {dot} / (greatest(sqrt({na}), 1e-300) * greatest(sqrt({nb}), 1e-300)) AS s
  FROM mmr_cands a, mmr_cands b WHERE a.id <> b.id),
mmr_sel AS (
  (SELECT 1 AS step, [id] AS picked, id AS pick_id, rel AS sel_rel,
          CAST(rel AS DOUBLE) AS marg
   FROM mmr_cands ORDER BY rel DESC, id ASC LIMIT 1)
  UNION ALL
  SELECT step + 1, list_append(picked, w.id), w.id, w.rel, w.marg
  FROM mmr_sel, LATERAL (
    SELECT c.id, c.rel,
           {lam!r} * c.rel - {one_minus!r} * (
             SELECT max(s.s) FROM mmr_sims s
             WHERE s.ia = c.id AND list_contains(mmr_sel.picked, s.ib)) AS marg
    FROM mmr_cands c WHERE NOT list_contains(mmr_sel.picked, c.id)
    ORDER BY marg DESC, c.id ASC LIMIT 1
  ) w
  WHERE step < {k}
)
SELECT CAST(step AS INTEGER) AS rank, pick_id AS id, sel_rel AS rel, marg AS mmr
FROM mmr_sel
"""


def rag_answer(
    docs: DataFrame,
    vector_scores: DataFrame,
    keyword_scores: DataFrame,
    query_terms: list[str],
    k: int = 5,
    rrf_k: int = 60,
    top_n: int = 100,
    window: int = 12,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic extractive RAG answer assembly — the roadmap's
    ``runRAG()`` surface (SEMANTIC-SEARCH-ROADMAP.md:146-169: RAGResponse
    {answer, chunks, debug}) composed from the existing retrieval chain
    with NO model in the loop: rrf_fuse(vector ∪ keyword) → rerank (the
    deterministic cross-encoder stub) → top-k → best_window_snippet →
    answer = rank-ordered snippets stitched with [n] citation markers.

    Returns one frame with three row kinds (part column):
    - 'citation' (k rows): rank, id, fused score, rerank_score,
      final_score, content = the chunk's query-aware snippet — the
      RAGChunk analog.
    - 'answer' (1 row): content = the stitched extractive answer.
    - 'debug' (1 row): content = per-stage result counts
      ("vector=.. keyword=.. fused=.. reranked=.."), the deterministic
      analog of the roadmap's debug.stats (latencies aren't replayable;
      stage cardinalities are).

    Scale posture: fusion cuts both lists to top_n via
    TakeOrderedAndProject + the windowless bounded ranker; everything
    after operates on ≤ 2k rows broadcast into the documents scan; the
    answer aggregation is a single k-row collect_list. The corpus is
    scanned once per retrieval list and once for hydration — never
    shuffled."""
    # the fused/reranked frames feed SEVERAL consumers (citations, the
    # answer aggregation, the debug counts): localCheckpoint them so one
    # rag_answer action costs one keyword scan + one vector scan, not one
    # per consumer (the rm3_scores shared-first-pass convention)
    fused = rrf_fuse(
        vector_scores, keyword_scores, k=rrf_k, top_n=top_n
    ).localCheckpoint(eager=False)
    cands = topk(
        fused.withColumnRenamed("rrf_score", "score"), 2 * k
    )
    hydrated = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias(text_col)
    ).join(F.broadcast(cands), "id")
    rr = rerank(
        hydrated, query_terms, text_col=text_col, alpha=alpha
    ).localCheckpoint(eager=False)
    final = topk(rr, k, score_col="final_score").localCheckpoint(eager=False)
    ranked = final.join(
        _rank_bounded(final, "rank", score_col="final_score"), "id"
    )
    snip = best_window_snippet(
        final.select("id", F.col("final_score").alias("score")),
        docs, query_terms, id_col=id_col, text_col=text_col, window=window,
    ).select("id", F.col("snippet"))
    cit = ranked.join(F.broadcast(snip), "id").select(
        F.lit("citation").alias("part"), "rank", "id", "score",
        "rerank_score", "final_score", F.col("snippet").alias("content"),
    ).localCheckpoint(eager=False)   # consumed by both output and answer agg
    null_cols = [
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast(cit.schema["id"].dataType.simpleString()).alias("id"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("double").alias("rerank_score"),
        F.lit(None).cast("double").alias("final_score"),
    ]
    answer = cit.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "content"))),
                lambda s: F.concat(
                    F.lit("["), s["rank"].cast("string"), F.lit("] "),
                    s["content"],
                ),
            ),
            " ",
        ).alias("content")
    ).select(F.lit("answer").alias("part"), *null_cols, "content")
    counts = (
        vector_scores.agg(F.count("*").alias("n_vector"))
        .crossJoin(keyword_scores.agg(F.count("*").alias("n_keyword")))
        .crossJoin(fused.agg(F.count("*").alias("n_fused")))
        .crossJoin(rr.agg(F.count("*").alias("n_reranked")))
    )
    debug = counts.select(
        F.lit("debug").alias("part"), *null_cols,
        F.format_string(
            "vector=%d keyword=%d fused=%d reranked=%d",
            "n_vector", "n_keyword", "n_fused", "n_reranked",
        ).alias("content"),
    )
    return cit.unionByName(answer).unionByName(debug)


def rag_answer_sql(
    vector_sql: str,
    keyword_sql: str,
    query_terms: list[str],
    k: int = 5,
    rrf_k: int = 60,
    top_n: int = 100,
    window: int = 12,
    alpha: float = 0.5,
) -> str:
    """DuckDB mirror of :func:`rag_answer` — identical fusion, rerank
    arithmetic, ranking tie-breaks, snippet selection, answer stitching,
    and debug counts. ``vector_sql``/``keyword_sql`` are (id, score)
    subqueries over ``documents``-joinable ids."""
    terms = sorted({t.lower() for t in query_terms})
    tlist = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    snip = best_window_snippet_sql(
        "SELECT id, final_score AS score FROM rag_final", query_terms,
        window=window,
    )
    return f"""
WITH sa AS ({vector_sql}),
sb AS ({keyword_sql}),
ra AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_a FROM sa),
rb AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_b FROM sb),
ta AS (SELECT * FROM ra WHERE rank_a <= {top_n}),
tb AS (SELECT * FROM rb WHERE rank_b <= {top_n}),
fused AS (
  SELECT coalesce(ta.id, tb.id) AS id,
         round(coalesce(1.0 / ({rrf_k} + rank_a), 0.0)
               + coalesce(1.0 / ({rrf_k} + rank_b), 0.0), 6) AS score
  FROM ta FULL OUTER JOIN tb ON ta.id = tb.id),
cands AS (SELECT id, score FROM fused ORDER BY score DESC, id ASC LIMIT {2 * k}),
hyd AS (SELECT d.doc_id AS id, c.score,
               list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                           w -> w <> '') AS w
        FROM documents d JOIN cands c ON d.doc_id = c.id),
rr AS (
  SELECT id, score,
         round((CAST(len(list_intersect(w, {tlist})) AS DOUBLE)
                / {float(len(terms))}) * 0.7
               + least(CAST(len(list_filter(w, x -> list_contains({tlist}, x)))
                            AS DOUBLE) / 20.0, 1.0) * 0.3, 6) AS rerank_score
  FROM hyd),
rr2 AS (SELECT id, score, rerank_score,
               CAST(round(CAST({alpha} AS DECIMAL(8,6))
                            * CAST(rerank_score AS DECIMAL(10,6))
                          + CAST({1.0 - alpha} AS DECIMAL(8,6))
                            * CAST(score AS DECIMAL(10,6)), 6) AS DOUBLE)
                 AS final_score
        FROM rr),
rag_final AS (SELECT * FROM rr2 ORDER BY final_score DESC, id ASC LIMIT {k}),
rag_rank AS (
  SELECT id, score, rerank_score, final_score,
         CAST(row_number() OVER (ORDER BY final_score DESC, id ASC) AS INTEGER)
           AS rank
  FROM rag_final),
rag_snip AS ({snip}),
cit AS (
  SELECT 'citation' AS part, r.rank, r.id, r.score, r.rerank_score,
         r.final_score, s.snippet AS content
  FROM rag_rank r JOIN rag_snip s ON r.id = s.id)
SELECT * FROM cit
UNION ALL
SELECT 'answer', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       string_agg('[' || CAST(rank AS VARCHAR) || '] ' || content, ' '
                  ORDER BY rank) FROM cit
UNION ALL
SELECT 'debug', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       'vector=' || CAST((SELECT count(*) FROM sa) AS VARCHAR)
       || ' keyword=' || CAST((SELECT count(*) FROM sb) AS VARCHAR)
       || ' fused=' || CAST((SELECT count(*) FROM fused) AS VARCHAR)
       || ' reranked=' || CAST((SELECT count(*) FROM rr2) AS VARCHAR)
"""


def eval_retrieval_by_category(
    per_query: DataFrame,
    categories: DataFrame,
    query_col: str = "query_id",
) -> DataFrame:
    """EvalResult.byCategory (SEMANTIC-SEARCH-ROADMAP.md:506-511): roll the
    per-query eval metrics up to query categories — one EvalResult row per
    category, macro-averaged (mean of per-query recall/precision/MRR, the
    convention that weights every query equally regardless of its relevant-
    set size). ``categories``: (query_col, category); unmapped queries land
    in 'uncategorized'. The category table is eval-set-sized → broadcast."""
    c = categories.select(query_col, "category")
    j = per_query.join(F.broadcast(c), query_col, "left").withColumn(
        "category", F.coalesce("category", F.lit("uncategorized"))
    )
    return j.groupBy("category").agg(
        F.round(F.avg("recall_at_k"), 6).alias("recall_at_k"),
        F.round(F.avg("precision_at_k"), 6).alias("precision_at_k"),
        F.round(F.avg("mrr"), 6).alias("mrr"),
        F.count(F.lit(1)).alias("n_queries"),
    )


def bm25_scores_multi(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str | None = None,
) -> DataFrame:
    """Batched BM25: score EVERY query of an eval set in one corpus pass —
    (query_id, id, score) for all (query, matching doc) pairs.

    ``queries``: (query_id, terms array<string>). The eval-harness /
    batched-search shape (roadmap `doc eval --dataset`): per-query loops
    re-scan the corpus |Q| times; here the query set explodes to a
    (query_id, term) table (eval-set-sized → broadcast), document tf and
    per-term df compute ONCE from a single filtered token explode, and
    each query's score is a per-(query_id, id) sum. A duplicated term
    within one query must not double-count: the (query_id, term) table
    dedupes. Corpus cost is one scan + one (id, term) aggregation
    regardless of |Q|."""
    qt = (
        queries.select(
            "query_id", F.explode("terms").alias("term")
        ).distinct()
    )
    toks = _bm25_tokens(docs, id_col, text_col, tokens_col)
    n_docs_avgdl = toks.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    )
    # tf over the UNION of all queries' terms — one corpus explode
    tf = (
        toks.select("id", "dl", F.explode("w").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count_distinct("id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qt), "term")     # fan out to the queries using the term
        .crossJoin(F.broadcast(n_docs_avgdl))
    )
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.withColumn("ts", idf * tf_part)
        .groupBy("query_id", "id")
        .agg(F.round(F.sum("ts"), 6).alias("score"))
    )


def bm25_multi_sql(
    words_sql: str,
    table: str,
    id_expr: str,
    queries_sql: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`bm25_scores_multi`. ``queries_sql``: a
    (query_id, term) subquery (already exploded + deduped)."""
    return f"""
WITH mq AS (SELECT DISTINCT query_id, term FROM ({queries_sql})),
mtoks AS (SELECT {id_expr} AS id, {words_sql} AS w FROM {table}),
mstats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM mtoks),
mt2 AS (SELECT id, CAST(len(w) AS INTEGER) AS dl, unnest(w) AS term FROM mtoks),
mtf AS (SELECT id, dl, term, count(*) AS tf FROM mt2
        WHERE term IN (SELECT DISTINCT term FROM mq) GROUP BY 1, 2, 3),
mdf AS (SELECT term, count(DISTINCT id) AS df FROM mtf GROUP BY term),
msc AS (
  SELECT mq.query_id, mtf.id,
         ln(1 + (mstats.n - mdf.df + 0.5) / (mdf.df + 0.5))
         * (mtf.tf * ({k1} + 1))
         / (mtf.tf + {k1} * (1 - {b} + {b} * mtf.dl / mstats.avgdl)) AS ts
  FROM mtf JOIN mdf ON mtf.term = mdf.term
           JOIN mq ON mq.term = mtf.term
           CROSS JOIN mstats)
SELECT query_id, id, round(sum(ts), 6) AS score
FROM msc GROUP BY query_id, id
"""
