"""Graph-based ANN — the Spark-native analog of the reference's named HNSW
index (/root/reference/SEMANTIC-SEARCH-ROADMAP.md:260-283 lists HNSW as the
index structure; LSH/IVF/SQ in similarity.py are the bucketed substitutes).

HNSW itself is a sequentially-built, pointer-chasing in-RAM structure — a
poor fit for a data-parallel engine. This module keeps the two properties
that matter (a navigable neighbor graph; greedy/beam search over it) and
re-expresses each phase in the engine's strengths:

- BUILD (distributed): candidate pairs from multi-table sign-RP LSH banding
  (the same Arrow-matmul bucketing as dedup), exact cosine on candidates
  only, then per-node top-M neighbors via a partitioned window — every step
  an equi-join/aggregation, O(N) shuffle, never all-pairs.
- SERVE (distributed over QUERIES): the finished graph + normalized vector
  matrix are broadcast — like any in-memory ANN index, the index rides the
  node and the query stream is the parallel axis. Each query runs a
  deterministic best-first beam search (fixed strided entry points, ties by
  id) inside one Arrow batch.

Scale posture: graph_ann_topk's broadcast index is (N·M ints + N·D floats)
— the same "index fits the serving node" assumption HNSW itself makes.
graph_ann_topk_sharded removes it: the corpus is partitioned into IVF
cells (the same deterministic codebook as similarity.ivf_topk), one graph
is built PER CELL, queries are routed to their nprobe best cells, and the
search runs in a cell-cogrouped Arrow stage — each task holds only its
cell's shard, so the index as a whole never has to fit anywhere.

Determinism: LSH planes are md5-derived (functions.vectors.plane_signs),
window ties break on id, beam ties break on (score, id) — identical output
at any parallelism (pinned by tests/test_graph_ann.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sinks.metrics import local_frame


def _beam_search(V, pos, adj, entries, qv, k, beam):
    """Deterministic best-first beam search over one in-memory shard:
    maintain the ``beam`` best scored nodes; expand the best unexpanded
    node's neighbors; stop when the best frontier candidate scores below
    the beam's floor (the standard HNSW layer-0 termination). Ties break
    on id. Returns top-k ``[(score, id)]`` sorted by (-score, id).

    Shared by the broadcast serve (graph_ann_topk) and the cell-sharded
    serve (graph_ann_topk_sharded) so the two paths cannot drift."""
    import heapq

    import numpy as np

    q = np.asarray(qv, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-300)

    def s(node):
        return float(V[pos[node]] @ qn)

    best: list = []      # min-heap of (score, id)
    frontier: list = []  # max-heap via -score
    seen = set()
    for e in entries:
        if e in seen:
            continue
        seen.add(e)
        se = s(e)
        heapq.heappush(frontier, (-se, e))
        heapq.heappush(best, (se, e))
    while frontier:
        neg, node = heapq.heappop(frontier)
        if len(best) >= beam and -neg < best[0][0]:
            break  # frontier can no longer improve the beam
        for nb in adj.get(node, ()):
            if nb in seen:
                continue
            seen.add(nb)
            snb = s(nb)
            heapq.heappush(frontier, (-snb, nb))
            heapq.heappush(best, (snb, nb))
            if len(best) > beam:
                heapq.heappop(best)
    return sorted(best, key=lambda t: (-t[0], t[1]))[:k]


def build_knn_graph(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 12,
    n_planes: int = 5,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    cells: DataFrame | None = None,
) -> DataFrame:
    """(src, dst, cosine): each node's top-``m`` neighbors among its LSH
    candidates, symmetrized before ranking (an edge found once serves both
    endpoints — doubles effective recall for free).

    More tables raise graph recall (a true neighbor missed by every table
    is lost); more planes shrink buckets. Candidate volume ≈ T·N²/2^planes
    — the same dial as the banded dedup.

    ``cells`` (id, cell) restricts candidates to same-cell pairs by adding
    the cell to the banding equi-join key — the per-shard build used by
    graph_ann_topk_sharded. Edges then never cross cells, so a cell's
    shard is self-contained."""
    from .dedup import _banded_buckets_arrow

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    buckets = _banded_buckets_arrow(base, n_planes, n_tables, seed, dim)
    keys = ["tbl", "bucket"]
    if cells is not None:
        buckets = buckets.join(cells, "id")
        keys = ["cell", "tbl", "bucket"]
    cand = (
        buckets.alias("a").join(buckets.alias("b"), keys)
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    paired = cand.join(va, "id_a").join(vb, "id_b")

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array([np.asarray(x, dtype=np.float64) for x in pdf["va"]])
            B = np.array([np.asarray(x, dtype=np.float64) for x in pdf["vb"]])
            c = (A * B).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"], "c": c})

    id_type = base.schema["id"].dataType.simpleString()
    scored = paired.mapInPandas(score, f"id_a {id_type}, id_b {id_type}, c double")
    sym = scored.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), F.col("c").alias("cosine")
    ).unionByName(
        scored.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
            F.col("c").alias("cosine"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        sym.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= m)
        .select("src", "dst", F.round("cosine", 6).alias("cosine"))
    )


def graph_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 12,
    beam: int = 48,
    n_entries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    dim: int = 64,
    graph: DataFrame | None = None,
    **build_kw,
) -> DataFrame:
    """(query_id, id, score): top-k per query via beam search over the kNN
    graph. ``queries`` is a DataFrame — the distributed axis; pass ``graph``
    to reuse a prebuilt index (else built here with ``build_kw``).

    Beam search: maintain the ``beam`` best scored nodes; repeatedly expand
    the best unexpanded node's neighbors; stop when the best frontier
    candidate scores below the beam's floor (the standard HNSW layer-0
    termination). Entry points are an id-strided sample — deterministic,
    no stored medoids."""
    import numpy as np

    if graph is None:
        graph = build_knn_graph(emb, id_col, vec_col, m=m, dim=dim, **build_kw)

    id_type = emb.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    out_schema = f"query_id {qid_type}, id {id_type}, score double"

    rows = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    if not rows:  # empty corpus: top-k of nothing is nothing
        return local_frame(emb.sparkSession, [], out_schema)
    rows.sort(key=lambda r: r.id)
    # ids stay raw (long OR string — the index is id-type-agnostic, like
    # build_knn_graph); only the vectors become a dense matrix
    ids = [r.id for r in rows]
    V = np.array([np.asarray(r.v, dtype=np.float64) for r in rows])
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    pos = {i: p for p, i in enumerate(ids)}
    adj: dict = {}
    for r in graph.select("src", "dst").collect():
        adj.setdefault(r.src, []).append(r.dst)
    for v in adj.values():
        v.sort()
    stride = max(len(ids) // max(n_entries, 1), 1)
    entries = ids[::stride][:n_entries]

    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((ids, V, pos, adj, entries))

    def search(batches):
        import pandas as pd

        _ids, V_, pos_, adj_, entries_ = bc.value
        for pdf in batches:
            out_q, out_id, out_s = [], [], []
            for qid, qv in zip(pdf[query_id_col], pdf[query_vec_col]):
                top = _beam_search(V_, pos_, adj_, entries_, qv, k, beam)
                out_q.extend([qid] * len(top))
                out_id.extend(i for _, i in top)
                out_s.extend(round(sc_, 6) for sc_, _ in top)
            yield pd.DataFrame({"query_id": out_q, "id": out_id, "score": out_s})

    return queries.select(query_id_col, query_vec_col).mapInPandas(
        search, out_schema
    )


def graph_ann_topk_sharded(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 12,
    beam: int = 48,
    n_entries: int = 8,
    centroid_stride: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    dim: int = 64,
    **build_kw,
) -> DataFrame:
    """(query_id, id, score): sharded graph ANN — no global index broadcast.

    The scale path past graph_ann_topk's "index fits one node" assumption:

    1. CELLS — the same deterministic IVF codebook as similarity.ivf_topk
       (every ``centroid_stride``-th vector, normalized, shipped as a Spark
       broadcast variable — model-sized, never a literal tree). Every
       corpus vector is assigned to its best cell by one Arrow matmul.
    2. BUILD — one kNN graph per cell: build_knn_graph(cells=...) adds the
       cell to the LSH banding key, so candidates, edges and therefore
       shards never cross cells. Per-cell adjacency is folded to a
       neighbor-list column; each node row carries (cell, id, v, nbrs).
    3. ROUTE — each query goes to its ``nprobe`` best cells (Arrow matmul
       against the broadcast codebook; ties to the lower centroid id).
    4. SERVE — cogroup node-shards with routed queries BY CELL: each Arrow
       task materializes only its cell's vectors + adjacency and runs the
       shared _beam_search. Cells are disjoint (a vector lives in exactly
       one), so the probe union needs no dedup — just a per-query top-k.

    At 10^12 rows stage 1-2 run once at index-build time with the node
    table written partitioned BY cell; query-time is route + cogroup over
    only the probed cells' partitions. Recall trades on nprobe exactly as
    IVF does, on top of the graph's own beam/m recall dials.
    """
    import numpy as np

    from .similarity import ivf_assign, ivf_codebook_safe

    # _safe: string-keyed corpora get an xxhash64-derived numeric key and
    # tiny/sparse corpora degrade the stride instead of crashing the Arrow
    # matmul on an empty codebook (the jobs/index.py guards, shared)
    _cents, bc, _ = ivf_codebook_safe(emb, centroid_stride, id_col, vec_col)

    id_type = emb.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    qvec_type = queries.schema[query_vec_col].dataType.simpleString()
    out_schema = f"query_id {qid_type}, id {id_type}, score double"

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # the (id, cell) assignment feeds two DIVERGENT plan branches (the
    # banding key inside build_knn_graph and the nodes join) whose
    # exchanges can't be reused — materialize the corpus-scale Arrow
    # assignment once instead of recomputing it per branch (the
    # conversion_funnel recompute lesson; frame is 2 columns × N)
    assigned = ivf_assign(emb, bc, id_col, vec_col).localCheckpoint(eager=False)
    graph = build_knn_graph(
        emb, id_col, vec_col, m=m, dim=dim, cells=assigned, **build_kw
    )
    adjc = graph.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    nodes = (
        base.join(assigned, "id")
        .join(adjc, "id", "left")
        .select(
            "cell", "id", "v",
            F.coalesce(
                "nbrs", F.expr(f"cast(array() as array<{id_type}>)")
            ).alias("nbrs"),
        )
    )

    def route(batches):
        import pandas as pd

        cids_, M_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array([np.asarray(v, dtype=np.float64) for v in pdf[query_vec_col]])
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S = Q @ M_.T
            out_q, out_v, out_c = [], [], []
            for i in range(len(pdf)):
                # sort by (-score, cid): lexsort's last key is primary
                order = np.lexsort((cids_, -S[i]))[:nprobe]
                for j in order:
                    out_q.append(pdf[query_id_col].iloc[i])
                    out_v.append(pdf[query_vec_col].iloc[i])
                    out_c.append(cids_[j])
            yield pd.DataFrame(
                {"query_id": out_q, "qv": out_v, "cell": out_c}
            )

    routed = queries.select(query_id_col, query_vec_col).mapInPandas(
        route, f"query_id {qid_type}, qv {qvec_type}, cell long"
    )

    def serve(nodes_pdf, queries_pdf):
        import pandas as pd

        if len(nodes_pdf) == 0 or len(queries_pdf) == 0:
            return pd.DataFrame({"query_id": [], "id": [], "score": []})
        order = np.argsort(nodes_pdf["id"].to_numpy(), kind="stable")
        ids = nodes_pdf["id"].to_numpy()[order]
        V = np.array(
            [np.asarray(v, dtype=np.float64) for v in nodes_pdf["v"].to_numpy()[order]]
        )
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        pos = {i: p for p, i in enumerate(ids)}
        adj = {
            i: list(nbrs)
            for i, nbrs in zip(nodes_pdf["id"], nodes_pdf["nbrs"])
            if len(nbrs)
        }
        stride = max(len(ids) // max(n_entries, 1), 1)
        entries = list(ids[::stride][:n_entries])
        out_q, out_id, out_s = [], [], []
        for qid, qv in zip(queries_pdf["query_id"], queries_pdf["qv"]):
            top = _beam_search(V, pos, adj, entries, qv, k, beam)
            out_q.extend([qid] * len(top))
            out_id.extend(i for _, i in top)
            out_s.extend(round(sc_, 6) for sc_, _ in top)
        return pd.DataFrame({"query_id": out_q, "id": out_id, "score": out_s})

    per_cell = (
        nodes.groupBy("cell")
        .cogroup(routed.groupBy("cell"))
        .applyInPandas(serve, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        per_cell.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
