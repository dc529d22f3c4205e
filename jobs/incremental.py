"""Incremental near-dup ingest job — the snapshot-N+1 shape: dedup a NEW
crawl batch against a PERSISTED MinHash band index without recomputing
anything about history.

    spark-submit --py-files dist.zip jobs/incremental.py \\
        --batch warehouse.crawl_2026_08 --history warehouse.curated \\
        --index /warehouse/index --output /warehouse/delta_2026_08 \\
        --lineage /warehouse/lineage --metrics /warehouse/metrics \\
        --run-id inc42 --minhash-k 8 --bands 4 --jaccard 0.5

(``--batch``/``--history`` accept a table name or a path; ``--index`` /
``--output`` / ``--lineage`` / ``--metrics`` are directories — the index
is read as ``<index>/minhash_bands`` parquet and each delta artifact is
written under ``<output>/<name>``.)

Division of labor at 10^12 docs: the batch job (jobs/index.py) owns the
corpus-wide band index; the streaming path (streaming/pipeline.py
near_dup_stream) answers per-document arrival; THIS job is the daily/
weekly batch increment in between — band the new batch (stateless per
row), equi-join it against the index snapshot on (band, bucket), verify
candidates with exact Jaccard (participants-only shingling), and emit
three independently-committed delta artifacts:

  pairs_delta/   (id_new, matched_id, jaccard, kind)  verified near-dup
                 pairs, kind = 'history' (new vs indexed) or 'batch'
                 (new vs new)
  drop_delta/    (doc_id)  new docs to drop: anything matching history
                 (history is canonical — it already shipped in snapshot
                 N), plus non-canonical members of batch-internal
                 clusters (min-label components over the batch pairs,
                 dedup.dup_clusters)
  bands_delta/   (id, band, bucket)  band rows for the KEPT new docs —
                 snapshot N+1's index is read(index)/minhash_bands ∪
                 every delta's bands_delta, NEVER a rewrite of the
                 history table (the filter is mergeable by union, like
                 every sketch in operators/sketches.py)

Nothing here scans history text except the verify stage, and that only
for the docs some candidate pair names (verify_pairs_jaccard left-semi
prunes to participants before shingling) — the cost of an increment
scales with the BATCH and its match surface, not with the corpus.

Resume model: artifact-granular, through the artifact ledger
(sinks/ledger.py) — each artifact is a deterministic function of (batch,
index snapshot), its parquet write is the commit point, a re-run skips
whatever reads back. One lineage row per artifact.

Reference parity: the reference re-extracts and re-upserts one document
at a time (packages/cli/src/commands/extract.ts); incremental corpus
maintenance has no analog there — it is part of the scale-out surface
this engine adds.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ARTIFACTS = ["pairs_delta", "drop_delta", "bands_delta"]


def run_incremental(
    spark: SparkSession,
    batch_path: str,
    history_path: str,
    index_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str,
    minhash_k: int = 8,
    bands: int = 4,
    jaccard: float = 0.5,
    metrics_path: str | None = None,
) -> dict:
    from doc_agent_spark.operators import dedup
    from doc_agent_spark.sinks.ledger import Ledger
    from doc_agent_spark.sinks.metrics import append_rows
    from doc_agent_spark.sources.tables import read_input

    t0 = time.time()
    raw_batch = read_input(spark, batch_path).select("doc_id", "text")
    history = read_input(spark, history_path).select("doc_id", "text")
    # Re-crawled ids (batch doc_id already in history) are NOT near-dup
    # work: history is canonical, so the re-fetch is dropped outright
    # (identical text is trivially a dup; changed text is an UPDATE, which
    # the upsert path owns — sinks/upsert.py — not the dedup increment).
    # Letting them through corrupts everything downstream: the id!=_hid
    # filter hides the self-match, bands_delta re-adds duplicate
    # (id, band, bucket) rows to the merged index, and the verify corpus
    # (batch ∪ history) would carry the SAME id with two texts — doubled
    # shingle rows and garbage Jaccard for any pair naming it. The id-only
    # semi/anti joins below are 8-byte-key joins; at 10^12-row history
    # route them through plans.runtime_filter.bloom_anti_join.
    hist_ids = history.select("doc_id")
    recrawled = raw_batch.join(hist_ids, "doc_id", "left_semi").select("doc_id")
    batch = raw_batch.join(hist_ids, "doc_id", "left_anti")
    # embeddings/index versioning (roadmap :349): a stamped index built
    # under a different embedder version is STALE — its band tables and
    # codebooks live in a different signature/vector space than anything
    # this run would add, so refusing here is the only safe answer (the
    # rebuild path is jobs/index.py --rebuild-stale). Unstamped (pre-
    # versioning) indexes pass, preserving old outputs.
    from doc_agent_spark.functions import embedder as _emb
    from doc_agent_spark.operators.publish import read_stamp

    _stamped = (read_stamp(index_path) or {}).get("embedder_version")
    if _stamped is not None and _stamped != _emb.EMBEDDER_VERSION:
        raise ValueError(
            f"stale index at {index_path}: stamped embedder_version="
            f"{_stamped!r} but this run embeds with "
            f"{_emb.EMBEDDER_VERSION!r}; rebuild the index "
            "(jobs/index.py --rebuild-stale) before ingesting"
        )
    hist_bands = spark.read.parquet(
        index_path.rstrip("/") + "/minhash_bands"
    )
    # batch band rows once; the DAG below branches it three ways
    # (vs-history join, self-join, kept-bands projection). LAZY: banding is
    # the dominant cost of the job, and a fully-resumed re-run must not pay
    # it — the checkpoint happens inside the first builder that needs it,
    # after the artifact-reuse checks short-circuit.
    _bb: list = []

    def batch_bands():
        if not _bb:
            _bb.append(
                dedup.minhash_band_table(
                    batch, k=minhash_k, bands=bands
                ).localCheckpoint(eager=True)
            )
        return _bb[0]

    def build_pairs():
        hb = hist_bands.select(
            F.col("id").alias("_hid"), "band", "bucket"
        )
        cand_hist = (
            batch_bands().join(hb, ["band", "bucket"])
            .filter(F.col("id") != F.col("_hid"))
            .select(F.col("id").alias("id_a"), F.col("_hid").alias("id_b"))
            .distinct()
        )
        b2 = batch_bands().select(
            F.col("id").alias("_bid"), "band", "bucket"
        )
        cand_self = (
            batch_bands().join(b2, ["band", "bucket"])
            .filter(F.col("id") < F.col("_bid"))
            .select(F.col("id").alias("id_a"), F.col("_bid").alias("id_b"))
            .distinct()
        )
        corpus = batch.unionByName(history)
        vh = dedup.verify_pairs_jaccard(
            cand_hist, corpus, threshold=jaccard
        ).select(
            F.col("id_a").alias("id_new"),
            F.col("id_b").alias("matched_id"),
            "jaccard",
            F.lit("history").alias("kind"),
        )
        vs = dedup.verify_pairs_jaccard(
            cand_self, batch, threshold=jaccard
        ).select(
            F.col("id_a").alias("id_new"),
            F.col("id_b").alias("matched_id"),
            "jaccard",
            F.lit("batch").alias("kind"),
        )
        return vh.unionByName(vs)

    def build_drops():
        # anything matching history: history is canonical (it shipped)
        hist_hit = pairs.filter(F.col("kind") == "history").select(
            F.col("id_new").alias("doc_id")
        )
        # batch-internal clusters: min-label components, drop non-canonical
        self_pairs = pairs.filter(F.col("kind") == "batch").select(
            F.col("id_new").alias("id_a"), F.col("matched_id").alias("id_b")
        )
        cc = dedup.dup_clusters(self_pairs)
        non_canon = cc.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        # re-fetches of already-shipped ids drop outright (see top of job)
        return hist_hit.unionByName(non_canon).unionByName(recrawled).distinct()

    with Ledger(spark, output_path, lineage_path, run_id, "incremental",
                ARTIFACTS, None) as ledger:
        pairs = ledger.commit("pairs_delta", build_pairs)
        drops = ledger.commit("drop_delta", build_drops)
        ledger.commit(
            "bands_delta",
            lambda: batch_bands().join(
                drops.withColumnRenamed("doc_id", "id"), "id", "left_anti"
            ),
        )
    built = ledger.counts

    if metrics_path:
        append_rows(
            spark, metrics_path,
            [(run_id, "incremental", built["pairs_delta"],
              built["drop_delta"], built["bands_delta"],
              int((time.time() - t0) * 1000))],
            "run_id string, stage string, pairs long, dropped long,"
            " band_rows long, wall_ms long",
        )

    return {
        "batch_docs": raw_batch.count(),
        "pairs_delta": built["pairs_delta"],
        "dropped": built["drop_delta"],
        "bands_delta": built["bands_delta"],
        "artifacts_reused": sum(ledger.reused.values()),
        "reused": ledger.reused,
        "wall_ms": int((time.time() - t0) * 1000),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", required=True)
    ap.add_argument("--history", required=True)
    ap.add_argument("--index", required=True,
                    help="index dir from jobs/index.py (reads minhash_bands/)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--minhash-k", type=int, default=8)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--jaccard", type=float, default=0.5)
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    from doc_agent_spark.session import get_spark

    spark = get_spark(app=f"incremental-{args.run_id}")
    ship_package(spark)
    stats = run_incremental(
        spark, args.batch, args.history, args.index, args.output,
        args.lineage, args.run_id, args.minhash_k, args.bands, args.jaccard,
        metrics_path=args.metrics,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
