"""Service-surface analog of the reference's MCP server
(/root/reference/packages/cli/src/mcp/server.ts:12-60: named tools
`extract_document`, `search_documents` over stdio) — SURVEY §3.2's stated
mapping: "same plan, different sink".

A transport (MCP/REST/CLI) is a thin driver-side shell; everything here
returns a DataFrame so the caller picks the sink (collect for an RPC
response, write for a batch job). Operations are registered by name with a
typed parameter schema, mirroring the reference's tool registry, and each
delegates to the library operators — no plan logic lives in this layer.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Operation:
    name: str
    description: str
    params: dict[str, type]          # name -> python type (the z.object analog)
    defaults: dict[str, Any] = field(default_factory=dict)
    fn: Callable[..., DataFrame] = None
    # input columns preflight() validates before launching a cluster job.
    # Alternative column sets are a frozenset of "a|b" strings (any one of
    # the |-joined names satisfies the requirement). Declared HERE so a new
    # Operation cannot silently skip validation — preflight has no shadow
    # per-op table to forget.
    required_cols: frozenset = frozenset()

    def __call__(self, spark: SparkSession, **kwargs) -> DataFrame:
        args = {**self.defaults, **kwargs}
        unknown = set(args) - set(self.params)
        if unknown:
            raise TypeError(f"{self.name}: unknown parameter(s) {sorted(unknown)}")
        missing = [p for p in self.params if p not in args]
        if missing:
            raise TypeError(f"{self.name}: missing parameter(s) {missing}")
        for p, t in self.params.items():
            if not isinstance(args[p], t):
                raise TypeError(f"{self.name}: {p} must be {t.__name__}")
        return self.fn(spark, **args)


def _extract_document(spark: SparkSession, input_path: str) -> DataFrame:
    from .operators import extractor
    from .sources.tables import spans_from_documents

    docs = spark.read.parquet(input_path)
    if "spans" not in docs.columns:
        docs = spans_from_documents(docs)
    return extractor.extracted_spans(docs)


def _parse_filter(docs: DataFrame, filter_expr: str) -> DataFrame:
    """`--filter "key:value"` (roadmap search option): equality predicate
    on a metadata column, validated against the schema (an unknown key
    must fail fast, not silently match nothing). The value compares
    through a cast to the column's type so numeric columns filter
    naturally from the string form."""
    key, sep, value = filter_expr.partition(":")
    if not sep or not key:
        raise ValueError(f"filter must be 'key:value', got {filter_expr!r}")
    if key not in docs.columns:
        raise ValueError(
            f"unknown filter column {key!r}; have: {', '.join(docs.columns)}"
        )
    col_type = docs.schema[key].dataType
    lit = F.lit(value).cast(col_type)
    # an uncastable value makes the literal NULL and the predicate match
    # NOTHING silently — the exact failure this validation exists to stop
    spark = docs.sparkSession
    if spark.range(1).select(lit.alias("v")).head()["v"] is None:
        raise ValueError(
            f"filter value {value!r} does not parse as the "
            f"{col_type.simpleString()} column {key!r}"
        )
    return docs.filter(F.col(key) == lit)


def _embed_cosine_scores(docs: DataFrame, query: str, dim: int = 16,
                         provider: str = "",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(id, score): deterministic embedding cosine of every row against
    the embedded query — the one definition of the vector-retrieval list
    (rounding/dim/provider conventions live here, not in four copies)."""
    from .functions import embedder
    from .functions.vectors import cosine

    vecs = embedder.embed(docs, id_col, text_col, dim=dim, provider=provider)
    qv = embedder.fake_embedding(F.lit(query), dim, provider)
    return vecs.select(
        "id", F.round(cosine(F.col("embedding"), qv), 6).alias("score")
    )


def _search_documents(spark: SparkSession, input_path: str, query: str,
                      limit: int, mode: str = "keyword",
                      filter: str = "", rerank: bool = False) -> DataFrame:
    """`doc search` with the roadmap's mode/filter options: 'keyword' =
    BM25; 'vector' = deterministic doc-grain embedding cosine; 'hybrid' =
    RRF fusion of both lists (roadmap :130-135). Every mode hydrates the
    top-k with snippets; `filter` ("key:value") restricts the corpus
    BEFORE retrieval so corpus statistics (df, avgdl) reflect the
    filtered collection."""
    import re

    from .operators import search

    docs = spark.read.parquet(input_path)
    if filter:
        docs = _parse_filter(docs, filter)
    # tokenize the query EXACTLY like the documents (textfns.words_of:
    # split on non-alphanumerics) — a whitespace split would emit terms
    # like "spark-join" or "what's" that can never equal a document token
    terms = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]

    if mode == "keyword":
        scores = search.bm25_scores(docs, terms)
    elif mode == "vector":
        scores = _embed_cosine_scores(docs, query)
    elif mode == "hybrid":
        scores = search.rrf_fuse(
            _embed_cosine_scores(docs, query),
            search.bm25_scores(docs, terms), top_n=100
        ).withColumnRenamed("rrf_score", "score")
    elif mode == "media":
        # multi-modal search (roadmap :353): the query string is treated as
        # media CONTENT, dHashed driver-side (an integer signature) with the
        # same codec kernel the corpus pass uses, and retrieved by banded
        # Hamming-kNN — rows sharing >= 1 of 8 byte bands with the query
        # are exact-verified. max_hamming=7 is the 8-band pigeonhole bound,
        # so every returned row is exact: nothing farther than 7 bits
        # comes back. score = 64 - hamming so "higher is better" like the
        # other modes.
        from .operators import multimodal

        sigs = multimodal.image_dhash(multimodal.media_from_documents(docs))
        _, _, qsig = multimodal.dhash_of_bytes(query.encode("utf-8"))
        # rerank widens the candidate pool to 2x limit like every other
        # mode (the knn k IS the retrieval cut); ties at the cut break on
        # the NUMERIC doc id, matching search.topk's id-asc convention
        knn = multimodal.hamming_knn(
            sigs, qsig, k=(2 * limit if rerank else limit), max_hamming=7,
            tie=F.regexp_extract("media_ref", r"media://doc/(\d+)/", 1)
            .cast("long"),
        )
        scores = knn.select(
            F.regexp_extract("ref", r"media://doc/(\d+)/", 1)
            .cast("long").alias("id"),
            (F.lit(64) - F.col("hamming")).cast("double").alias("score"),
        )
    else:
        raise ValueError(
            f"unknown mode {mode!r}; one of: keyword, vector, hybrid, media"
        )
    if rerank:
        # --rerank (roadmap): the deterministic cross-encoder stub
        # re-scores a wider candidate set, final order by blended score;
        # retrieval score rides along (the Reranker contract)
        cands = docs.select(F.col("doc_id").alias("id"), "text").join(
            F.broadcast(search.topk(scores, 2 * limit)), "id"
        )
        rr = search.rerank(cands, terms, text_col="text")
        top = search.topk(rr, limit, score_col="final_score")
        hyd = search.hydrate(
            top.select("id", F.col("final_score").alias("score")), docs
        )
        return hyd.join(
            F.broadcast(top.select("id", F.col("score").alias("retrieval_score"),
                                   "rerank_score", "final_score")), "id",
        ).select("id", "retrieval_score", "rerank_score", "final_score",
                 "snippet").orderBy(F.desc("final_score"), F.asc("id"))
    return search.hydrate(search.topk(scores, limit), docs)


def _semantic_search(spark: SparkSession, input_path: str, query: str,
                     limit: int, words_per_chunk: int) -> DataFrame:
    """The reference's full retrieval mode over chunks: chunk → embed
    (deterministic provider) → cosine top-k vs the embedded query →
    hydrate chunk + document metadata."""
    from .functions import embedder
    from .functions.vectors import cosine
    from .operators import chunking, search

    docs = spark.read.parquet(input_path)
    chunks = chunking.chunk_documents(
        docs, strategy="semantic", words_per_chunk=words_per_chunk
    )
    vecs = embedder.embed(chunks, "chunk_id", "content", dim=16)
    qv = embedder.fake_embedding(F.lit(query), 16)
    scores = vecs.select(
        "id", F.round(cosine(F.col("embedding"), qv), 6).alias("score")
    )
    return chunking.hydrate_chunks(search.topk(scores, limit), chunks, docs)


def _rag_search(spark: SparkSession, input_path: str, query: str,
                limit: int, filter: str = "") -> DataFrame:
    """The roadmap's RAG surface (`doc search --rag` / `POST /rag`,
    SEMANTIC-SEARCH-ROADMAP.md:146-169): hybrid retrieval (deterministic
    doc-grain embedding cosine ∪ BM25) fused by RRF, reranked, top-k
    cited with query-aware snippets, and a stitched extractive answer —
    RAGResponse{answer, chunks, debug} as (part, rank, id, …) rows."""
    import re

    from .operators import search

    docs = spark.read.parquet(input_path)
    if filter:
        docs = _parse_filter(docs, filter)
    terms = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    if not terms:
        raise ValueError("query must contain at least one token")
    vec_scores = _embed_cosine_scores(docs, query)
    kw_scores = search.bm25_scores(docs, terms)
    return search.rag_answer(docs, vec_scores, kw_scores, terms, k=limit)


def _evaluate_dataset(spark: SparkSession, input_path: str, dataset_path: str,
                      limit: int, compare: str = "") -> DataFrame:
    """The roadmap's eval harness (`doc eval --dataset <path>`,
    SEMANTIC-SEARCH-ROADMAP.md:492-511): run BATCHED keyword retrieval for
    every query of an EvalDataset in one corpus pass
    (search.bm25_scores_multi), score recall@k / precision@k / MRR per
    query, and roll up per category plus a macro-averaged overall row.

    ``dataset_path``: parquet with (query_id long, query string,
    relevant_ids array<long>, category string nullable) — the EvalQuery
    shape (relevantChunkIds ∪ category). Output rows are tagged by scope
    ('query' | 'category' | 'overall').

    ``compare``: comma-separated provider names (`doc eval --compare
    ollama,openai,gemini`) — additionally runs VECTOR retrieval under
    each named (deterministic) embedding provider and appends one
    macro-averaged row per provider (scope='provider', category=name),
    so embedding spaces rank against the same qrels."""
    from .functions import embedder
    from .functions.vectors import cosine
    from .operators import search

    docs = spark.read.parquet(input_path)
    ds = spark.read.parquet(dataset_path)
    terms = F.array_distinct(
        F.filter(F.split(F.lower(F.col("query")), r"[^a-z0-9]+"),
                 lambda w: w != "")
    )
    queries = ds.select("query_id", terms.alias("terms"))
    retrieved = search.bm25_scores_multi(docs, queries)
    relevant = ds.select(
        "query_id", F.explode("relevant_ids").alias("id")
    )
    def zero_filled(per_query):
        # a query whose terms match NOTHING retrieves zero rows and would
        # silently vanish from the report — an eval must show the failure
        return (
            ds.select("query_id").distinct()
            .join(per_query, "query_id", "left")
            .fillna(0.0, ["recall_at_k", "precision_at_k", "mrr"])
        )

    def macro_row(per_query, scope, category):
        return per_query.agg(
            F.round(F.avg("recall_at_k"), 6).alias("recall_at_k"),
            F.round(F.avg("precision_at_k"), 6).alias("precision_at_k"),
            F.round(F.avg("mrr"), 6).alias("mrr"),
        ).select(
            F.lit(scope).alias("scope"),
            F.lit(None).cast("long").alias("query_id"),
            F.lit(category).cast("string").alias("category"),
            "recall_at_k", "precision_at_k", "mrr",
        )

    per_q = zero_filled(
        search.eval_retrieval_by_query(retrieved, relevant, k=limit)
    )
    cats = ds.select("query_id", "category")
    by_cat = search.eval_retrieval_by_category(per_q, cats)
    q_rows = per_q.select(
        F.lit("query").alias("scope"), "query_id",
        F.lit(None).cast("string").alias("category"),
        "recall_at_k", "precision_at_k", "mrr",
    )
    c_rows = by_cat.select(
        F.lit("category").alias("scope"),
        F.lit(None).cast("long").alias("query_id"),
        "category", "recall_at_k", "precision_at_k", "mrr",
    )
    out = q_rows.unionByName(c_rows).unionByName(
        macro_row(per_q, "overall", None)
    )
    # strip + dedupe preserving order: " openai" must not become a
    # DIFFERENT embedding space than "openai", and repeats add nothing
    provs = list(dict.fromkeys(
        p.strip() for p in compare.split(",") if p.strip()
    ))
    for prov in provs:
        demb = embedder.embed(docs, "doc_id", "text", dim=16, provider=prov)
        qemb = ds.select(
            "query_id",
            embedder.fake_embedding(F.col("query"), 16, prov).alias("qv"),
        )
        vret = demb.crossJoin(F.broadcast(qemb)).select(
            "query_id", "id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        vper = zero_filled(
            search.eval_retrieval_by_query(vret, relevant, k=limit)
        )
        out = out.unionByName(macro_row(vper, "provider", prov))
    return out


def _list_documents(spark: SparkSession, input_path: str, limit: int) -> DataFrame:
    from .functions.format import format_bytes

    docs = spark.read.parquet(input_path)
    order = [F.desc("created_at")] if "created_at" in docs.columns else []
    out = docs.drop("text").orderBy(*order, F.asc("doc_id")).limit(limit)
    if "n_chars" in out.columns:  # F15: the reference CLI shows sizes humanized
        out = out.withColumn("size_h", format_bytes(F.col("n_chars")))
    return out


OPERATIONS: dict[str, Operation] = {
    op.name: op
    for op in (
        Operation(
            "extract_document",
            "Extract structured span sequences from a document corpus",
            {"input_path": str},
            fn=_extract_document,
            required_cols=frozenset({"doc_id", "spans|text"}),
        ),
        Operation(
            "search_documents",
            "Search indexed documents (keyword | vector | hybrid, "
            "optional key:value filter)",
            {"input_path": str, "query": str, "limit": int,
             "mode": str, "filter": str, "rerank": bool},
            {"limit": 10, "mode": "keyword", "filter": "", "rerank": False},
            fn=_search_documents,
            required_cols=frozenset({"doc_id", "text"}),
        ),
        Operation(
            "semantic_search",
            "Chunk-grained vector search with document hydration",
            {"input_path": str, "query": str, "limit": int, "words_per_chunk": int},
            {"limit": 10, "words_per_chunk": 50},
            fn=_semantic_search,
            # hydrate_chunks selects lang from the doc side — preflight
            # must fail on its absence, not pass and then blow up on the
            # cluster (the whole point of preflight)
            required_cols=frozenset({"doc_id", "text", "lang"}),
        ),
        Operation(
            "evaluate_dataset",
            "Eval harness: batched retrieval + recall/precision/MRR "
            "per query, per category, overall",
            {"input_path": str, "dataset_path": str, "limit": int,
             "compare": str},
            {"limit": 10, "compare": ""},
            fn=_evaluate_dataset,
            required_cols=frozenset({"doc_id", "text"}),
        ),
        Operation(
            "rag_search",
            "RAG answer with citations (hybrid retrieval + extractive answer)",
            {"input_path": str, "query": str, "limit": int, "filter": str},
            {"limit": 5, "filter": ""},
            fn=_rag_search,
            required_cols=frozenset({"doc_id", "text"}),
        ),
        Operation(
            "list_documents",
            "List documents, newest first",
            {"input_path": str, "limit": int},
            {"limit": 25},
            fn=_list_documents,
            required_cols=frozenset({"doc_id"}),
        ),
    )
}


def execute(spark: SparkSession, operation: str, **params) -> DataFrame:
    """Dispatch a named operation — the transport-agnostic entry a MCP/REST
    shell would call. Raises KeyError for unknown operations (the registry
    IS the capability list, like the reference's tool registration)."""
    return OPERATIONS[operation](spark, **params)


def capability_available(installed: list[str], requested: str) -> bool:
    """P5 — the reference's model-containment check (ollama.ts:137-146):
    an installed name MATCHES when it CONTAINS the requested string
    (`m.name.includes(model)` — 'llama3.2' matches 'llama3.2:latest').
    Environment-management in the reference; exposed here so a deployment
    preflight can apply the same fuzzy-containment rule to any capability
    list (operations, codecs, table names)."""
    return any(requested in name for name in installed)


def preflight(spark: SparkSession, operation: str, input_path: str) -> dict:
    """`ensureOllamaReady` analog (extract.ts:41-68): validate the
    operation exists and the input is readable with the columns the
    operation needs, BEFORE launching a cluster job — fail in seconds, not
    after the first stage. Returns {ok, operation_known, input_readable,
    missing_columns}; never raises."""
    known = operation in OPERATIONS
    out = {"ok": False, "operation_known": known,
           "input_readable": False, "missing_columns": []}
    if not known:
        return out
    try:
        cols = set(spark.read.parquet(input_path).columns)
        out["input_readable"] = True
    except Exception:
        return out
    missing = []
    for need in sorted(OPERATIONS[operation].required_cols):
        if not any(alt in cols for alt in need.split("|")):
            missing.append(need)
    out["missing_columns"] = missing
    out["ok"] = not missing
    return out
