"""Similarity search over embedding columns (SEMANTIC-SEARCH-ROADMAP.md
A3: brute-force cosine top-k; plus an LSH-bucketed ANN scale path).

Brute force is the baseline/oracle: dot products as pure expressions
(JVM, codegen), TakeOrderedAndProject for the top-k — no shuffle beyond
the final k-row gather. The ANN path buckets by sign-random-projection
(functions.vectors.lsh_bucket) so each query only scans its bucket:
candidates ≈ N / 2^planes, the 100 TB-scale strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, lsh_bucket
from ..sinks.metrics import local_frame


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score) of the k nearest by cosine; deterministic tiebreak on id."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col).alias("id"),
        F.round(cosine(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """LSH-bucketed approximate top-k: score only the query's bucket.

    With ``dim`` known, corpus bucketing is the Arrow-batched matmul path
    shared with the banded dedup (dedup._banded_buckets_arrow) — the
    round-2 per-plane interpreted folds over all N rows were the suite's
    worst regression (11.7 s vs 1.8 s at sf0.1). The single query vector's
    bucket is computed driver-side with the SAME plane_signs formula
    (sequential fold, matching the oracle's list_aggregate order)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    if dim is not None:
        from .dedup import _banded_buckets_arrow
        from ..functions.vectors import plane_signs

        base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        buckets = _banded_buckets_arrow(base, n_planes, 1, seed, dim)
        qb = 0
        for j in range(n_planes):
            signs = plane_signs(seed, j, dim)
            proj = 0.0
            for x, s in zip(query_vec, signs):
                proj += float(x) * s
            if proj >= 0:
                qb |= 1 << j
        cand = buckets.filter(F.col("bucket") == qb).select("id")
        return (
            base.join(cand, "id")
            .select("id", F.round(cosine(F.col("v"), q), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(k)
        )
    with_bucket = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), n_planes=n_planes, seed=seed).alias("bucket"),
    )
    qdf = embeddings.sparkSession.range(1).select(
        lsh_bucket(q, n_planes=n_planes, seed=seed).alias("qbucket")
    )
    return (
        with_bucket.join(F.broadcast(qdf), F.col("bucket") == F.col("qbucket"))
        .select("id", F.round(cosine(F.col("v"), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def ivf_codebook(
    embeddings: DataFrame,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The deterministic IVF codebook, two views of it: the ``cents``
    DataFrame (cid, cv) for relational stages (probe ranking), and a Spark
    BROADCAST VARIABLE of ``(cids, M̂)`` — centroid ids plus the row-
    normalized numpy matrix — for Arrow-matmul stages. Model-sized data
    ships as a broadcast, never inlined into the Catalyst tree (the
    round-1 literal-centroid cliff). Shared by ivf_topk, semdedup_drops,
    and graph_ann_topk_sharded so every consumer agrees on cells."""
    cents = embeddings.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    return cents, codebook_broadcast(cents)


def ivf_assign(
    embeddings: DataFrame,
    bc,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): every vector's best cell by one Arrow-batched matmul
    against the broadcast codebook (argmax_c cosine(v,c) = argmax_c
    dot(v, ĉ): |v| is constant per row, so only centroids normalize).
    Codebook rows are sorted by cid, so np.argmax's first-max rule breaks
    exact ties toward the lower centroid id — the oracle's ORDER BY s
    DESC, cid ASC. At 100 TB this runs ONCE at index-build time and the
    table is written partitioned BY cell."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        cids_, M_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            cell = cids_[np.argmax(V @ M_.T, axis=1)]
            yield pd.DataFrame({"id": pdf["id"], "cell": cell})

    # derive the id field's type from the input so non-long id columns work
    # (same contract as dedup._banded_buckets_arrow / verify-pairs scoring)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(assign, f"id {id_type}, cell long")


def ivf_codebook_safe(
    embeddings: DataFrame,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """:func:`ivf_codebook` with the two real-corpus guards every caller
    needs (factored out of jobs/index.py so the sharded graph-ANN serve
    path gets them too):

    - **string-keyed corpora** (the extract→curate path emits 'doc-%08d'
      ids) get a deterministic xxhash64-derived numeric key — the raw
      id % stride selection would CAST-null every row and, under the
      empty-codebook guard, loop to stride 1;
    - **stride degradation**: hash-derived (or sparse) keys guarantee no
      divisible id on a tiny corpus; the stride drops ×10 (metadata-sized
      probe counts) until the codebook is non-empty rather than shipping
      an empty matrix that crashes the Arrow matmul.

    Returns (cents, bc, stride_eff). Numeric corpora at the given stride
    return byte-identical codebooks to :func:`ivf_codebook`."""
    from pyspark.sql.types import NumericType

    if isinstance(embeddings.schema[id_col].dataType, NumericType):
        cb_emb, cb_id = embeddings, id_col
    else:
        cb_emb, cb_id = embeddings.withColumn("_nid", F.xxhash64(id_col)), "_nid"
    stride_eff = centroid_stride
    while (
        stride_eff > 1
        and cb_emb.filter(F.col(cb_id) % stride_eff == 0).limit(1).count() == 0
    ):
        stride_eff = max(stride_eff // 10, 1)
    cents, bc = ivf_codebook(
        cb_emb, centroid_stride=stride_eff, id_col=cb_id, vec_col=vec_col
    )
    return cents, bc, stride_eff


def codebook_broadcast(cents: DataFrame):
    """Rebuild the Arrow-matmul broadcast form from a COMMITTED codebook
    table (cid, cv) — the consumer half of the jobs/index.py contract
    ('the broadcast form is rebuilt by consumers from the committed
    table'): model-sized collect, same sort and normalization as
    :func:`ivf_codebook`, so cells agree bit-for-bit across runs."""
    import numpy as np

    rows = sorted((int(r.cid), list(r.cv)) for r in cents.collect())
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    M = np.array([v for _, v in rows], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    return cents.sparkSession.sparkContext.broadcast((cids, M))


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    centroid_stride: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Cells: a deterministic centroid subset (every ``centroid_stride``-th
    vector — stand-in for a persisted k-means codebook). The codebook is
    never inlined into literal expression trees (the round-1 weakness: a
    realistic 4k-64k-cell codebook as literals is a multi-hundred-MB
    Catalyst tree) — it ships as a Spark broadcast variable. Only the
    single query vector is a literal.

    Plan: (1) assignment — Arrow-batched matmul against the broadcast
    normalized codebook, argmax ties to the lower centroid id; (2) probe —
    the query's ``nprobe`` best cells via TakeOrderedAndProject over the
    codebook DataFrame; (3) candidates = assignment ⋈ probe
    (BroadcastHashJoin), ≈ N·nprobe/n_cells ids, broadcast back into the
    vector table (BroadcastHashJoin) so exact scoring touches only probed
    cells — scores computed by the exact JVM cosine expressions. At 100 TB
    the assignment runs ONCE at index-build time and the table is written
    partitioned BY cell, so a probe prunes at the scan; the query-time
    tree is identical minus stage (1).
    """
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])

    # Codebook → a SPARK BROADCAST VARIABLE of a normalized numpy matrix,
    # assignment → one Arrow-batched matmul per partition (ivf_assign).
    # The first relational formulation (broadcast nested-loop + max_by)
    # was value-identical but fold-interpreted: N·C·D scalar ops dominated
    # the query (measured 18.7 s vs ~1 s at sf0.1 with 1000 cells) — dense
    # linear algebra is exactly the case for a vectorized pandas stage.
    # _safe: numeric stride-divisible corpora get the identical codebook;
    # string-keyed or sparse-id ones get the hash-key/stride-degrade guards
    # instead of an empty-matrix numpy crash.
    cents, bc, _stride = ivf_codebook_safe(embeddings, centroid_stride, id_col, vec_col)
    assigned = ivf_assign(embeddings, bc, id_col, vec_col)
    probe = (
        cents.select("cid", cosine(F.col("cv"), qcol).alias("qs"))
        .orderBy(F.desc("qs"), F.asc("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("pcid"))
    )
    cand = assigned.join(
        F.broadcast(probe), F.col("cell") == F.col("pcid")
    ).select("id")
    emb = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        emb.join(F.broadcast(cand), "id")
        .select("id", F.round(cosine(F.col("v"), qcol), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def sq_quantize(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (int8) quantization of an embedding column: per-dimension
    affine codes ``round((x - min_d) * 255 / span_d)`` against corpus-wide
    per-dimension min/max.

    The stats are ONE aggregation pass folded to a single broadcast row —
    at 100 TB the stored codes are 4× smaller than float32 (16× vs the
    float64 oracle form), which is the difference between an in-memory and
    a spilling ANN scan. Returns (id, codes array<int>, mins, spans) —
    mins/spans ride along so downstream dequantization needs no second
    stats join. Constant dimensions (span 0) code to 0 and dequantize to
    the dimension's constant.
    """
    v = F.col(vec_col)
    stats = embeddings.agg(
        F.array(*[F.min(F.element_at(v, i + 1).cast("double")) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(F.element_at(v, i + 1).cast("double")) for i in range(dim)]).alias("maxs"),
    ).select(
        "mins",
        F.zip_with("maxs", "mins", lambda a, b: a - b).alias("spans"),
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    code = lambda i: F.when(  # noqa: E731
        F.element_at("spans", i + 1) > 0,
        F.round(
            (F.element_at(v, i + 1).cast("double") - F.element_at("mins", i + 1))
            * 255.0 / F.element_at("spans", i + 1),
            0,
        ).cast("int"),
    ).otherwise(F.lit(0))
    return (
        embeddings.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col).alias("id"),
            F.transform(idx, code).alias("codes"),
            "mins",
            "spans",
        )
    )


def sq_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric quantized search: the CORPUS is int8-coded (sq_quantize),
    the query stays full precision; scores are cosine against the
    dequantized codes, top-k via TakeOrderedAndProject. The standard
    memory/recall trade: scan bandwidth drops 4×, scores shift by at most
    span/510 per dimension."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sq = sq_quantize(embeddings, dim, id_col=id_col, vec_col=vec_col)
    deq = F.expr(
        "transform(codes, (c, i) -> element_at(mins, i + 1) + "
        "c * element_at(spans, i + 1) / 255.0)"
    )
    return (
        sq.select("id", F.round(cosine(deq, q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def mrl_funnel_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    d_prime: int = 16,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka funnel retrieval (adaptive two-stage search, Kusupati
    et al. 2022): stage 1 scores only the ``d_prime``-dim PREFIX of every
    vector and keeps a ``shortlist``-sized candidate set; stage 2 re-scores
    just the shortlist with the full-dim exact cosine. With MRL-trained
    embeddings the prefix is itself a usable low-rank embedding, so the
    shortlist recall is high at d'/d of the scan bandwidth — at scale the
    prefix lives in its own narrow column (or a separate short-vector
    table) and stage 1's scan reads d'/d of the bytes while stage 2 is a
    shortlist-sized broadcast semi join, never a second corpus pass.

    Both stages are TakeOrderedAndProject with a rounded score and an id
    tiebreak so the shortlist boundary is deterministic cross-engine; the
    DuckDB oracle mirrors the two stages with list_slice + the identical
    fold."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qp = F.array(*[F.lit(float(x)) for x in query_vec[:d_prime]])
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    short = (
        base.select(
            "id",
            F.round(cosine(F.slice(F.col("v"), 1, d_prime), qp), 6).alias("ps"),
        )
        .orderBy(F.desc("ps"), F.asc("id"))
        .limit(shortlist)
        .select("id")
    )
    return (
        base.join(F.broadcast(short), "id")
        .select("id", F.round(cosine(F.col("v"), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def knn_join_brute(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k nearest right-rows per left-row (small right side → broadcast)."""
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("lid"), F.col(vec_col).alias("lv"))
    r = right.select(F.col(right_id).alias("rid"), F.col(vec_col).alias("rv"))
    scored = l.join(F.broadcast(r)).select(
        "lid", "rid", F.round(cosine(F.col("lv"), F.col("rv")), 6).alias("score")
    )
    w = Window.partitionBy("lid").orderBy(F.desc("score"), F.asc("rid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_codebooks(
    embeddings: DataFrame,
    n_sub: int = 8,
    codebook_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebooks: the deterministic strided sample's
    vectors, split into ``n_sub`` contiguous subvectors — one codebook per
    subspace, shipped as a Spark broadcast of ``(cids, C)`` where C has
    shape (n_codes, dim). Stand-in for a trained per-subspace k-means
    codebook, same persistence story as the IVF codebook."""
    import numpy as np

    cb = embeddings.filter(F.col(id_col) % codebook_stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    rows = sorted((int(r.cid), list(r.cv)) for r in cb.collect())
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)
    if C.ndim != 2 or C.shape[0] == 0:
        raise ValueError(
            f"PQ codebook sample is empty at stride {codebook_stride}; "
            "lower codebook_stride (or use a stride-divisible id domain)"
        )
    if C.shape[1] % n_sub != 0:
        # a non-divisible split would leave the trailing dim % n_sub
        # dimensions out of every subspace — codes and reconstructions
        # silently wrong (and dv's tail uninitialized). Fail at build.
        raise ValueError(
            f"embedding dim {C.shape[1]} is not divisible by n_sub={n_sub}"
        )
    return embeddings.sparkSession.sparkContext.broadcast((cids, C, n_sub))


def pq_reconstruct(
    embeddings: DataFrame,
    bc,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes, dv): per-subspace nearest codeword (L2, ties to the
    lower codeword id — codebook rows sorted by cid so np.argmin's
    first-min rule matches the oracle's ORDER BY d ASC, cid ASC) plus the
    reconstructed vector. Distances use the direct squared-difference form
    — the same FP shape as the SQL fold; the ‖v‖²-2v·c+‖c‖² matmul
    expansion is the at-scale optimization (one GEMM per subspace) at the
    cost of 1e-16-level drift that only matters on exact ties.

    PQ's scale story: codes are n_sub bytes per vector vs dim·8 — a 64×
    scan compression; at 10^12 rows the codes table is what's stored and
    ADC-scored, with exact re-rank over the short list only."""

    def recon(batches):
        import numpy as np
        import pandas as pd

        cids_, C_, n_sub_ = bc.value
        dim = C_.shape[1]
        d_sub = dim // n_sub_
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if V.shape[1] != dim:
                raise ValueError(
                    f"vector dim {V.shape[1]} != codebook dim {dim}"
                )
            codes = np.empty((len(V), n_sub_), dtype=np.int64)
            dv = np.empty_like(V)
            for s in range(n_sub_):
                sl = slice(s * d_sub, (s + 1) * d_sub)
                D = ((V[:, None, sl] - C_[None, :, sl]) ** 2).sum(axis=2)
                j = np.argmin(D, axis=1)
                codes[:, s] = cids_[j]
                dv[:, sl] = C_[j][:, sl]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "codes": list(codes),
                    "dv": list(dv),
                }
            )

    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(recon, f"id {id_type}, codes array<long>, dv array<double>")


def pq_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_sub: int = 8,
    codebook_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score): top-k by cosine against the PQ-reconstructed vectors —
    the asymmetric-distance (ADC) ranking, with the decimal-6 round kept
    in the JVM cosine expression for oracle parity (the SQ pattern)."""
    bc = pq_codebooks(embeddings, n_sub, codebook_stride, id_col, vec_col)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        pq_reconstruct(embeddings, bc, id_col, vec_col)
        .select("id", F.round(cosine(F.col("dv"), qcol), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def kmeans_fit(
    embeddings: DataFrame,
    iters: int = 2,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed spherical k-means (Lloyd) for codebook TRAINING — the
    index-build step the stride-sampled ivf_codebook skips (FAISS trains
    IVF codebooks exactly this way). Deterministic end to end: seeds are
    the stride-sampled vectors (no RNG), assignment is the shared
    argmax-cosine rule (ties break to the lower centroid id), and each
    update rounds the new means to 6 decimals so the fixpoint is stable
    across partitionings and engines; empty cells keep their previous
    centroid (no resampling).

    Scale shape, per iteration: ONE Arrow mapInPandas pass that both
    assigns a batch (matmul against the broadcast normalized codebook) and
    pre-aggregates it to per-batch (cell, pos, sum, count) partials — the
    Python-side map-side combine — so the shuffle carries batches × k × dim
    tiny rows instead of N vectors or N×dim elements, and the driver
    collects exactly k × dim means. No per-iteration join back to the
    vectors, no window.

    Returns (cents DataFrame (cid, cv array<double>), broadcast of
    (cids, row-normalized numpy matrix)) — the ivf_codebook contract, so
    ivf_assign / ivf_topk / semdedup / sharded graph-ANN can consume a
    TRAINED codebook unchanged.
    """
    import numpy as np

    spark = embeddings.sparkSession
    sc = spark.sparkContext

    def norm_rows(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)

    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    rows = sorted(
        (int(r.id), list(r.v))
        for r in emb.filter(F.col("id") % centroid_stride == 0).collect()
    )
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    M = np.array([v for _, v in rows], dtype=np.float64)
    k, dim = M.shape

    for _ in range(iters):
        bc_it = sc.broadcast((cids, norm_rows(M)))

        def partials(batches, _bc=bc_it, _k=k, _dim=dim):
            import numpy as np
            import pandas as pd

            _, nm = _bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                a = np.argmax(V @ nm.T, axis=1)
                sums = np.zeros((_k, _dim))
                counts = np.zeros(_k, dtype=np.int64)
                np.add.at(sums, a, V)
                np.add.at(counts, a, 1)
                nz = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "ci": np.repeat(nz, _dim),
                        "pos": np.tile(np.arange(_dim), len(nz)),
                        "s": sums[nz].ravel(),
                        "c": np.repeat(counts[nz], _dim),
                    }
                )

        mm = (
            emb.mapInPandas(partials, "ci long, pos long, s double, c long")
            .groupBy("ci", "pos")
            .agg(F.round(F.sum("s") / F.sum("c"), 6).alias("m"))
            .collect()
        )
        newM = M.copy()
        for r in mm:
            newM[r["ci"], r["pos"]] = r["m"]
        M = newM

    cents = local_frame(
        spark,
        [(int(c), [float(x) for x in row]) for c, row in zip(cids, M)],
        "cid long, cv array<double>",
    )
    return cents, sc.broadcast((cids, norm_rows(M)))


def kmeans_sql(
    iters: int = 2,
    centroid_stride: int = 50,
    source: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror of kmeans_fit + a final assignment pass: unrolled CTE
    per Lloyd iteration (the dup_clusters/pagerank fixpoint-oracle
    pattern). Produces (id, cell) of every vector against the trained
    codebook — the gate pins seeds, every update's rounded means, and the
    assignment rule in one result."""
    dv = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    parts = [
        f"emb AS (SELECT {id_col} AS id, {dv} AS dv FROM {source})",
        f"cents0 AS (SELECT id AS cid, dv AS cv FROM emb WHERE id % {centroid_stride} = 0)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""nc{p} AS (SELECT cid, list_transform(cv,
  x -> x / greatest(sqrt(list_dot_product(cv, cv)), 1e-300)) AS ncv FROM cents{p}),
as{i} AS (SELECT id, cid FROM (
  SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id
    ORDER BY list_dot_product(e.dv, c.ncv) DESC, c.cid ASC) AS rn
  FROM emb e CROSS JOIN nc{p} c) WHERE rn = 1),
ex{i} AS (SELECT cid, u.pos AS pos, u.val AS val FROM (
  SELECT a.cid, unnest(list_transform(range(1, len(e.dv) + 1),
    p -> {{'pos': p, 'val': e.dv[p]}})) AS u
  FROM as{i} a JOIN emb e ON a.id = e.id)),
mm{i} AS (SELECT cid, pos, round(avg(val), 6) AS m FROM ex{i} GROUP BY cid, pos),
cents{i} AS (SELECT s.cid, coalesce(l.cv2, s.cv) AS cv FROM cents{p} s
  LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS cv2 FROM mm{i} GROUP BY cid) l
  ON s.cid = l.cid)"""
        )
    parts.append(
        f"""ncf AS (SELECT cid, list_transform(cv,
  x -> x / greatest(sqrt(list_dot_product(cv, cv)), 1e-300)) AS ncv FROM cents{iters})"""
    )
    ctes = ",\n".join(parts)
    # (id, score) with score = assigned cell id — the vector_topk_methods
    # union-arm shape (the gate compares every vector's final assignment)
    return f"""
WITH {ctes}
SELECT id, CAST(cid AS DOUBLE) AS score FROM (
  SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id
    ORDER BY list_dot_product(e.dv, c.ncv) DESC, c.cid ASC) AS rn
  FROM emb e CROSS JOIN ncf c) WHERE rn = 1
""".strip()


def bq_quantize(
    embeddings: DataFrame,
    dim: int = 64,
    word_bits: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary (1-bit) quantization: bit i of the signature is set iff
    component i > 0, packed little-endian into ``word_bits``-bit words
    stored as longs — 32x smaller than float32 (dim=64 -> two words).

    The packing is a flat sum of per-bit CASE terms, not an F.aggregate
    fold, so the whole signature stays inside whole-stage codegen (the
    repo's documented interpreted-fold lesson, BASELINE.md §4). Sign
    bits are the classic extreme-compression index for normalized /
    random-projected embeddings: at 100 TB the signatures of a 10^10-row
    corpus fit in ~80 GB, a broadcast-or-scan-resident prefilter while
    the float vectors stay in cold storage for the rerank join.
    Returns (id, words array<long>).
    """
    v = F.col(vec_col)
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        acc = None
        for b in range(word_bits):
            i = w * word_bits + b
            if i >= dim:
                break
            t = (
                F.when(F.element_at(v, i + 1) > 0, F.lit(1 << b).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            acc = t if acc is None else acc + t
        words.append(acc)
    return embeddings.select(F.col(id_col).alias("id"), F.array(*words).alias("words"))


def pack_sign_bits(vec: list[float], dim: int = 64, word_bits: int = 32) -> list[int]:
    """Driver-side mirror of bq_quantize for a single (query) vector."""
    n_words = (dim + word_bits - 1) // word_bits
    out = []
    for w in range(n_words):
        acc = 0
        for b in range(word_bits):
            i = w * word_bits + b
            if i < dim and float(vec[i]) > 0:
                acc |= 1 << b
        out.append(acc)
    return out


def bq_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int = 64,
    word_bits: int = 32,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary-quantized search: Hamming distance over packed
    sign bits prefilters ``n_candidates`` ids (ties broken by id), then
    the exact cosine reranks only those via a broadcast semi-join back
    to the float vectors — the scan touches 1 bit/dim, full precision
    touches n_candidates rows. Deterministic end to end.
    """
    sig = bq_quantize(embeddings, dim=dim, word_bits=word_bits,
                      id_col=id_col, vec_col=vec_col)
    qw = pack_sign_bits(query_vec, dim=dim, word_bits=word_bits)
    ham = None
    for j, w in enumerate(qw):
        t = F.bit_count(F.element_at("words", j + 1).bitwiseXOR(F.lit(w).cast("long")))
        ham = t if ham is None else ham + t
    cand = (
        sig.select("id", ham.cast("int").alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("id"))
        .limit(n_candidates)
        .select("id")
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.join(F.broadcast(cand), F.col(id_col) == F.col("id"))
        .select("id", F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def bq_sql(
    query_vec_id: int = 0,
    dim: int = 64,
    word_bits: int = 32,
    n_candidates: int = 50,
    k: int = 10,
    cos_sql: str | None = None,
) -> str:
    """DuckDB mirror of bq_cosine_topk over the ``embeddings`` view:
    identical sign packing, Hamming prefilter, and exact-cosine rerank."""
    n_words = (dim + word_bits - 1) // word_bits
    hx = " + ".join(
        f"bit_count(xor(CAST(s.words[{j + 1}] AS BIGINT), CAST(q.words[{j + 1}] AS BIGINT)))"
        for j in range(n_words)
    )
    if cos_sql is None:
        cos_sql = (
            "list_aggregate(list_transform(range(1, len(e.embedding) + 1),"
            " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qv[i] AS DOUBLE)), 'sum')"
            " / (sqrt(list_aggregate(list_transform(range(1, len(e.embedding) + 1),"
            " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))"
            " * sqrt(list_aggregate(list_transform(range(1, len(qv.qv) + 1),"
            " i -> CAST(qv.qv[i] AS DOUBLE) * CAST(qv.qv[i] AS DOUBLE)), 'sum')))"
        )
    return f"""
WITH sig AS (
  SELECT vec_id AS id,
         list_transform(range(0, {n_words}), w ->
           list_aggregate(list_transform(range(1, {word_bits + 1}),
             b -> CASE WHEN embedding[w * {word_bits} + b] > 0
                       THEN 1::BIGINT << (b - 1) ELSE 0::BIGINT END), 'sum')) AS words
  FROM embeddings),
q AS (SELECT words FROM sig WHERE id = {query_vec_id}),
ham AS (SELECT s.id, {hx} AS h FROM sig s CROSS JOIN q),
cand AS (SELECT id FROM ham ORDER BY h ASC, id ASC LIMIT {n_candidates}),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id AS id, round({cos_sql}, 6) AS score
FROM embeddings e JOIN cand c ON e.vec_id = c.id CROSS JOIN qv
ORDER BY score DESC, id ASC LIMIT {k}
""".strip()


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    positives: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    pos_q: str = "qid",
    pos_d: str = "did",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (the DPR /
    dense-retriever recipe, Karpukhin et al. 2020 §3.2): for each query
    vector, the ``k`` most-similar corpus items that are NOT among its
    labeled positives — the negatives that actually move a contrastive
    loss, vs random negatives the model already separates.

    Scale shape: score (queries × corpus, corpus broadcast here — swap in
    the LSH/IVF bucket path for a web-scale corpus, the candidate set is
    what changes, not this composition), then a (qid, did) EQUI anti-join
    removes labeled positives BEFORE the per-query bounded rank, so
    negative ranks are contiguous and the positives table (training
    labels — tiny relative to the corpus) never gates the scan.
    Returns (lid, rid, score, rank) like knn_join_brute.
    """
    from pyspark.sql import Window

    q = queries.select(F.col(q_id).alias("lid"), F.col(vec_col).alias("lv"))
    c = corpus.select(F.col(c_id).alias("rid"), F.col(vec_col).alias("rv"))
    scored = q.join(F.broadcast(c)).select(
        "lid", "rid", F.round(cosine(F.col("lv"), F.col("rv")), 6).alias("score")
    )
    p = positives.select(F.col(pos_q).alias("lid"), F.col(pos_d).alias("rid"))
    neg = scored.join(p, ["lid", "rid"], "left_anti")
    w = Window.partitionBy("lid").orderBy(F.desc("score"), F.asc("rid"))
    return neg.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
