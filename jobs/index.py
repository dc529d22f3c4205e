"""Checkpoint-resumable retrieval-index build job — the fourth deployable
stage (extract → curate → pack → INDEX): materialize every search/ANN
artifact the serving path consumes, each as an independently committed,
independently resumable parquet artifact.

    spark-submit --py-files dist.zip jobs/index.py \\
        --input warehouse.curated --output warehouse.index \\
        --lineage warehouse.lineage --metrics warehouse.metrics \\
        --run-id i42 --dim 16 --centroid-stride 50 --minhash-k 8 --bands 4

Artifacts (under --output):
  embeddings/      (id, embedding)            deterministic embedder
  minhash_bands/   (id, band, bucket)         the LSH index side — batch
                                              pair-gen self-joins it, the
                                              streaming near-dup path
                                              (streaming/pipeline.py)
                                              stream-static-joins it
  ivf_codebook/    (cid, cv)                  broadcastable centroid table
  ivf_cells/       (id, cell)                 written PARTITIONED BY cell,
                                              so a query's probed cells
                                              prune at the file level
  sq_stats/        (mins, spans)              one row, broadcast at query
  sq_codes/        (id, codes)                int8-coded vectors (4× scan)
  bm25_postings/   (term, id, tf)             the full inverted index
  bm25_docstats/   (id, dl)
  bm25_corpus/     (n, avgdl)                 one row

Resume model — artifact-granular, the jobs/curate.py corpus-stat pattern
rather than the bucket pattern: every artifact is a deterministic function
of the input corpus, its parquet write is the commit point, and a re-run
skips any committed artifact: its ``_SUCCESS`` marker exists and one
footer carries the schema Spark wrote, both read on the driver (a crash
mid-write leaves an uncommitted artifact that rebuilds identically).
Every commit goes through sinks/ledger.py: one lineage row per artifact
(partition_id = artifact ordinal), `resumed` in the stats reflects
exactly what was skipped, and a reused artifact reports the row count
its newest lineage row recorded at commit instead of re-counting.

The input is read (its schema inferred) only once some artifact builds.
A fully-resumed run never touches it and launches 3 Spark jobs: the one
lineage collect (two jobs under adaptive execution) and the metrics
append.

Scale notes: every artifact is one relational pass over the corpus;
ivf_cells is the single Arrow stage (broadcast-codebook matmul assign —
index-build time by design, similarity.py). The BM25 postings shuffle
keys on (term, id) AFTER the per-task partial count; postings size is the
token mass, which is why it's an index you build once, not a query-time
scan."""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ARTIFACTS = [
    "embeddings", "minhash_bands", "ivf_codebook", "ivf_cells",
    "sq_stats", "sq_codes", "bm25_postings", "bm25_docstats", "bm25_corpus",
]


def run_index(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    metrics_path: str,
    run_id: str,
    dim: int = 16,
    centroid_stride: int = 50,
    minhash_k: int = 8,
    bands: int = 4,
    rebuild_stale: bool = False,
) -> dict:
    from doc_agent_spark.cache import input_fingerprint
    from doc_agent_spark.functions import embedder
    from doc_agent_spark.functions.textfns import words_of
    from doc_agent_spark.operators import dedup, similarity
    from doc_agent_spark.sinks.ledger import Ledger
    from doc_agent_spark.sinks.metrics import local_frame

    t0 = time.time()
    docs = functools.cache(
        lambda: spark.read.parquet(input_path) if "/" in input_path
        else spark.read.table(input_path)
    )
    # every artifact is a function of (input, dim, stride, k, bands) AND of
    # the embedding space + input snapshot (roadmap :349 embeddings
    # versioning): the stamp carries all of them — embedder_version and
    # input_fp are the stale keys --rebuild-stale may wipe (sinks/ledger.py)
    with Ledger(spark, output_path, lineage_path, run_id, "index", ARTIFACTS, {
        "input": input_path, "dim": dim, "centroid_stride": centroid_stride,
        "minhash_k": minhash_k, "bands": bands,
        "embedder_version": embedder.EMBEDDER_VERSION,
        "input_fp": (input_fingerprint(input_path) if "/" in input_path
                     else "table:" + input_path),
    }, rebuild_stale) as ledger:
        emb = ledger.commit(
            "embeddings",
            lambda: embedder.embed(docs(), "doc_id", "text", dim=dim)
            .select(F.col("id"), F.col("embedding")),
        )
        ledger.commit(
            "minhash_bands",
            lambda: dedup.minhash_band_table(docs(), k=minhash_k, bands=bands),
        )
        # IVF: codebook rows persist relationally; the broadcast form is
        # rebuilt by consumers from the committed table (model-sized collect).
        # The string-id/xxhash64 key derivation and the tiny-corpus stride
        # degradation live in similarity.ivf_codebook_safe (shared with the
        # sharded graph-ANN serve path). Built LAZILY inside commit(): the
        # stride probes + driver collect are corpus-touching work a fully-
        # resumed run must not pay.
        cents_df = ledger.commit(
            "ivf_codebook",
            lambda: similarity.ivf_codebook_safe(
                emb, centroid_stride, id_col="id", vec_col="embedding"
            )[0],
        )
        # ivf_cells always assigns against the COMMITTED codebook (not a
        # freshly re-derived one), so a resume can never pair cells with cids
        # the persisted codebook doesn't contain
        ledger.commit(
            "ivf_cells",
            lambda: similarity.ivf_assign(
                emb, similarity.codebook_broadcast(cents_df),
                id_col="id", vec_col="embedding",
            ),
            partition_by="cell",
        )
        # planned lazily too: building the 2×dim-column quantize plan costs a
        # fully-resumed run ~0.2 s of driver round trips for nothing
        sq = functools.cache(
            lambda: similarity.sq_quantize(emb, dim=dim, id_col="id", vec_col="embedding")
        )
        ledger.commit("sq_stats", lambda: sq().select("mins", "spans").limit(1))
        ledger.commit("sq_codes", lambda: sq().select("id", "codes"))

        toks = functools.cache(
            lambda: docs().select(
                F.col("doc_id").alias("id"), words_of(F.col("text")).alias("w")
            ).withColumn("dl", F.size("w"))
        )
        ledger.commit(
            "bm25_postings",
            lambda: toks().select("id", F.explode("w").alias("term"))
            .groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf")),
        )
        ledger.commit("bm25_docstats", lambda: toks().select("id", "dl"))
        ledger.commit(
            "bm25_corpus",
            lambda: toks().agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")),
        )

    wall_ms = int((time.time() - t0) * 1000)
    built, reused = ledger.counts, ledger.reused
    local_frame(
        spark,
        [(run_id, "index", built.get("embeddings", 0),
          built.get("bm25_postings", 0), sum(reused.values()), wall_ms)],
        "run_id string, stage string, n_vectors long, n_postings long, "
        "artifacts_reused long, wall_ms long",
    ).write.mode("append").parquet(metrics_path)
    return {
        "artifacts": built,
        "reused": reused,
        "artifacts_reused": sum(reused.values()),
        "wall_ms": wall_ms,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--dim", type=int, default=16)
    ap.add_argument("--centroid-stride", type=int, default=50)
    ap.add_argument("--minhash-k", type=int, default=8)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--rebuild-stale", action="store_true",
                    help="on a stale stamp (embedder version / input "
                         "fingerprint) wipe and rebuild instead of failing "
                         "fast; a config mismatch (dim, stride, k, bands, "
                         "input) always fails")
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    from doc_agent_spark.session import get_spark

    spark = get_spark(app=f"index-{args.run_id}")
    ship_package(spark)
    stats = run_index(
        spark, args.input, args.output, args.lineage, args.metrics,
        args.run_id, args.dim, args.centroid_stride, args.minhash_k, args.bands,
        rebuild_stale=args.rebuild_stale,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
