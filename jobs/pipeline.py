"""End-to-end deployable pipeline driver: EXTRACT -> (reassemble/enrich
bridge) -> CURATE -> PACK + INDEX under ONE run-id, one lineage table,
one metrics table, one workdir.

    spark-submit --py-files dist.zip jobs/pipeline.py \\
        --input warehouse.spans --workdir warehouse/run42 --run-id r42 \\
        --buckets 16 --c4-rules --budget 256

Each stage keeps its own resume model (extract/curate: bucket lineage;
pack: shard lineage; index: per-artifact commits), so re-running the
SAME pipeline command after a crash resumes every stage at its own
granularity — the driver adds no state of its own beyond the bridge
artifact. A stage whose lineage already holds every unit (all buckets,
all shards) is complete: it reads only its lineage, skips its plan, its
output write and its lineage job, and appends the same zero-count
metrics row. A fully-resumed index reuses each artifact on its commit
proof and takes its row count from the artifact's newest lineage row
(one lineage collect), not from a count() job.

What a fully resumed run still launches (9 Spark jobs with two buckets
and two shards): extract, curate and pack each collect their lineage and
append one metrics row (2 jobs each) and never read their input; the
bridge launches none; index collects its lineage once (2 jobs under
adaptive execution) and appends its metrics row (3). A commit proof
(sinks/ledger.readable) is driver-side: a FileSystem probe of
``_SUCCESS`` and one parquet footer read for the written schema. Metrics
rows are Arrow-built local relations (sinks/metrics.local_frame), so
none of it runs a Python worker.

The bridge (extract's exploded span rows -> curate's documents contract)
is a real pipeline stage, not glue: per doc it reassembles span text in
``order`` (the W2 invariant), derives ``source`` from whether any span
carries a media_ref ('scanned' vs 'digital' — the provenance axis the
curation quota/stats stages group on), runs the engine's own language-ID
for ``lang``, and counts chars. It commits as a parquet artifact under
the workdir (the sinks/ledger.py commit proof: readable == done, a
crash mid-write rebuilds identically). Its document count, like the
ingest stages', is observed on its write, not read back.

Layout under --workdir:
  extracted/   span rows        (extract stage, bucket-partitioned)
  documents/   doc_id, text, lang, source, n_chars   (bridge artifact)
  curated/     curate output    (bucket-partitioned)
  packed/      pack plan/windows + shard lineage
  index/       nine retrieval artifacts
  lineage/, metrics/            shared across all stages
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from doc_agent_spark.sinks.ledger import readable, write_counted
from jobs.curate import run_curate
from jobs.extract import run_extract
from jobs.index import run_index
from jobs.pack import run_pack
from jobs.publish import run_publish


def build_documents(spark: SparkSession, extracted_path: str, docs_path: str) -> dict:
    """The reassemble/enrich bridge. Scale shape: one groupBy(doc_id)
    with array_sort-after-collect (order from DATA, never partition
    order), then a zero-shuffle enrichment projection."""
    from doc_agent_spark.functions import textfns

    if readable(spark, docs_path) is not None:
        return {"resumed": True}
    spans = spark.read.parquet(extracted_path)
    docs = (
        spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("order"), F.col("text")))
            ).alias("sp"),
            F.max((F.col("media_ref") != "").cast("int")).alias("has_media"),
        )
        .select(
            "doc_id",
            F.array_join(F.transform(F.col("sp"), lambda s: s.text), "\n").alias(
                "text"
            ),
            F.when(F.col("has_media") == 1, F.lit("scanned"))
            .otherwise(F.lit("digital"))
            .alias("source"),
        )
        .withColumn("lang", textfns.lang_id(F.col("text")))
        .withColumn("n_chars", F.length("text"))
    )
    n = write_counted(docs, lambda d: d.write.mode("overwrite").parquet(docs_path))
    return {"resumed": False, "docs": n}


def ingest_jsonl(spark: SparkSession, input_path: str, spans_path: str,
                 quarantine_path: str) -> dict:
    """Optional stage 0: a JSONL crawl drop read with corrupt-record
    quarantine (sources/ingest.py) — malformed lines land whole in
    ``quarantine_path`` for replay, clean rows become the spans parquet.
    Artifact-resume like the bridge (readable == done)."""
    from doc_agent_spark.schema import DOCUMENTS_SPANS
    from doc_agent_spark.sources import ingest

    if readable(spark, spans_path) is not None:
        return {"resumed": True}
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in DOCUMENTS_SPANS.fields
    )
    raw = ingest.read_jsonl(spark, input_path, ddl)
    clean, bad = ingest.split_quarantine(raw, materialize=True)
    n_bad = write_counted(bad, lambda d: d.write.mode("overwrite").json(quarantine_path))
    n = write_counted(clean, lambda d: d.write.mode("overwrite").parquet(spans_path))
    raw.unpersist()
    return {"resumed": False, "docs": n, "quarantined": n_bad}


def ingest_warc(spark: SparkSession, input_path: str, spans_path: str,
                quarantine_path: str) -> dict:
    """Optional stage 0: WARC crawl archives (sources/warc.py) → span rows.
    Clean HTTP-200 response records become single-text-span docs keyed by
    canonical target URI; re-crawled URIs dedup latest-record-wins by
    (file, offset) — crawl archives name files monotonically, so the order
    is the fetch order. Malformed/truncated records land whole in a parquet
    quarantine for replay (the JSONL ingest's never-drop contract; parquet
    because the payload column is binary). Artifact-resume: readable spans
    parquet == done."""
    from pyspark.sql import Window

    from doc_agent_spark.functions import urls
    from doc_agent_spark.sources import warc as warcsrc

    if readable(spark, spans_path) is not None:
        return {"resumed": True}
    records = warcsrc.read_warc(spark, input_path).cache()
    bad = records.filter(F.col("error").isNotNull())
    n_bad = write_counted(bad, lambda d: d.write.mode("overwrite").parquet(quarantine_path))
    ok = records.filter(
        F.col("error").isNull()
        & (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
    )
    latest = Window.partitionBy("doc_id").orderBy(
        F.col("file").desc(), F.col("record_offset").desc()
    )
    spans = (
        ok.select(
            urls.url_canonicalize(F.col("target_uri")).alias("doc_id"),
            # lenient decode: malformed bytes → U+FFFD, never a crashed job
            F.expr("make_valid_utf8(payload)").alias("text"),
            "file", "record_offset",
        )
        .withColumn("_r", F.row_number().over(latest))
        .filter(F.col("_r") == 1)
        .select(
            "doc_id",
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                )
            ).alias("spans"),
        )
    )
    n = write_counted(spans, lambda d: d.write.mode("overwrite").parquet(spans_path))
    records.unpersist()
    return {"resumed": False, "docs": n, "quarantined": n_bad}


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    workdir: str,
    run_id: str,
    buckets: int = 16,
    c4_rules: bool = False,
    min_quality: float = 0.0,
    budget: int = 256,
    shards: int = 8,
    dim: int = 16,
    input_format: str = "parquet",
    publish: bool = False,
) -> dict:
    lineage = os.path.join(workdir, "lineage")
    metrics = os.path.join(workdir, "metrics")
    p = lambda name: os.path.join(workdir, name)  # noqa: E731
    stats: dict = {"run_id": run_id}
    if input_format == "jsonl":
        stats["ingest"] = ingest_jsonl(
            spark, input_path, p("spans"), p("quarantine")
        )
        input_path = p("spans")
    elif input_format == "warc":
        stats["ingest"] = ingest_warc(
            spark, input_path, p("spans"), p("quarantine")
        )
        input_path = p("spans")
    stats["extract"] = run_extract(
        spark, input_path, p("extracted"), lineage, metrics, run_id,
        buckets=buckets,
    )
    stats["bridge"] = build_documents(spark, p("extracted"), p("documents"))
    stats["curate"] = run_curate(
        spark, p("documents"), p("curated"), lineage, metrics, run_id,
        buckets=buckets, min_quality=min_quality, c4_rules=c4_rules,
    )
    stats["pack"] = run_pack(
        spark, p("curated"), p("packed"), lineage, metrics, run_id,
        budget=budget, shards=shards,
    )
    stats["index"] = run_index(
        spark, p("curated"), p("index"), lineage, metrics, run_id, dim=dim,
    )
    if publish:
        stats["publish"] = run_publish(
            spark, p("curated"), p("corpus"), lineage, metrics, run_id,
            shards=shards, verify=True,
        )
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--c4-rules", action="store_true")
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--budget", type=int, default=256)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--dim", type=int, default=16)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsonl", "warc"])
    ap.add_argument("--publish", action="store_true",
                    help="final stage: verified JSONL shard export + manifest")
    args = ap.parse_args()

    from jobs.extract import ship_package

    spark = SparkSession.builder.appName(f"pipeline-{args.run_id}").getOrCreate()
    ship_package(spark)
    try:
        stats = run_pipeline(
            spark, args.input, args.workdir, args.run_id,
            buckets=args.buckets, c4_rules=args.c4_rules,
            min_quality=args.min_quality, budget=args.budget,
            shards=args.shards, dim=args.dim, input_format=args.format,
            publish=args.publish,
        )
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
