"""Checkpoint-resumable extraction job (north_rule: resumable from
checkpoint with per-partition lineage + metrics).

Deployment shape (production):

    spark-submit --py-files dist.zip jobs/extract.py \\
        --input warehouse.documents --output warehouse.extracted_spans \\
        --lineage warehouse.lineage --metrics warehouse.metrics \\
        --run-id r42 --buckets 4096

Resume model: documents are assigned a stable bucket =
pmod(hash(doc_id), buckets) — a function of DATA, not of partition
iteration, so the same doc lands in the same bucket at any cluster size.
Output is written partitioned by bucket with dynamic partition overwrite:
re-running a bucket replaces exactly its own files (idempotent). Lineage
records one row per completed bucket; resume anti-joins completed buckets
and processes only the remainder. Killing the job between buckets loses at
most in-flight buckets, never corrupts finished ones. When lineage already
holds every bucket in range(buckets) the remainder is provably empty, so a
full resume reads only its lineage: no read of the input (not even its
schema), no plan, no output or lineage write — just the (zero-count)
metrics row. If any bucket is missing from lineage (an empty bucket never
gets a row) the job takes the full path.

At 10^12 docs: buckets sized so one bucket ≈ one comfortable task
(e.g. 2^17 buckets × ~8M docs). The extraction itself stays a narrow
zero-shuffle stage; the only exchange is the bucket repartition, which
doubles as the salted spread for skewed inputs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    metrics_path: str,
    run_id: str,
    buckets: int = 64,
    split_heavy_over: int | None = None,
) -> dict:
    from doc_agent_spark.operators import extractor
    from doc_agent_spark.plans.skew import split_heavy
    from doc_agent_spark.schema import METRICS
    from doc_agent_spark.sinks.metrics import (
        append_lineage,
        append_rows,
        completed_partitions,
    )
    from doc_agent_spark.sources.tables import read_input

    t0 = time.time()
    bucket_of = F.pmod(F.hash("doc_id"), F.lit(buckets))
    done = completed_partitions(spark, lineage_path, run_id, "extract")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Skip rule: every row's bucket lies in range(buckets), so when lineage
    # already holds all of them the resume filter provably selects no row.
    # Skip the plan, the output write and the lineage job; the metrics row
    # then carries the zero counts an empty Observation yields.
    m: dict = {}
    if not set(range(buckets)) <= done:
        # read only here: the read infers the input's schema, a Spark job
        docs = read_input(spark, input_path).withColumn("bucket", bucket_of)
        if done:
            docs = docs.filter(~F.col("bucket").isin(*sorted(done)))
        docs = docs.repartition(max(buckets, spark.sparkContext.defaultParallelism), "bucket")

        if split_heavy_over:
            docs = split_heavy(docs.drop("bucket"), max_spans=split_heavy_over).withColumn(
                "bucket", bucket_of
            )

        result = extractor.extract(docs).withColumn("bucket", bucket_of)

        flat = result.select(
            "bucket", "doc_id", "parse_failure", F.explode("out_spans").alias("s")
        ).select(
            "bucket", "doc_id", "parse_failure",
            F.col("s.order").alias("order"), F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"), F.col("s.media_ref").alias("media_ref"),
        )

        # Run-level metrics ride the write action itself (Observation): zero
        # extra scans, zero extra Python. Every doc emits exactly one order-0
        # span, so sum(order=0) ≡ countDistinct(doc_id) without a distinct.
        from pyspark.sql import Observation

        obs = Observation("extract_metrics")
        flat = flat.observe(
            obs,
            F.sum(F.when(F.col("order") == 0, 1).otherwise(0)).alias("docs"),
            F.count(F.lit(1)).alias("spans"),
            F.sum(
                F.when(F.col("parse_failure") & (F.col("order") == 0), 1).otherwise(0)
            ).alias("failures"),
        )

        flat.write.mode("overwrite").partitionBy("bucket").parquet(output_path)
        m = obs.get

        append_lineage(spark, lineage_from_written(spark, output_path, done).collect(),
                       lineage_path, run_id, "extract", int((time.time() - t0) * 1000))

    wall_ms = int((time.time() - t0) * 1000)
    n_docs, n_spans, n_failures = (int(m.get(k) or 0) for k in ("docs", "spans", "failures"))
    append_rows(spark, metrics_path, [(run_id, "extract", n_docs, n_spans, n_failures)], METRICS)
    return {
        "docs_processed": n_docs,
        "spans_emitted": n_spans,
        "parse_failures": n_failures,
        "resumed_buckets_skipped": len(done),
        "wall_ms": wall_ms,
    }


def lineage_from_written(spark, output_path, done):
    """Per-bucket lineage units (``metrics.append_lineage``) from the
    WRITTEN data (source of truth: a crash between write and lineage
    append just re-does those buckets).

    This is a deliberate PRUNED read-back, not a full second scan: bucket
    is the partition directory (no data read) and the scan touches only
    the narrow doc-flag columns — never text/media_ref (plan-asserted in
    tests/test_resume_streaming.py). Every doc emits exactly one order-0
    span, so sum(order=0) ≡ countDistinct(doc_id) without a distinct. The
    alternatives are strictly worse at 100 TB: re-aggregating the
    extraction DataFrame re-runs the whole Python stage (2× CPU), and
    task-side accumulators double-count on retries/speculation.
    """
    written = spark.read.parquet(output_path).select("bucket", "parse_failure", "order")
    if done:
        written = written.filter(~F.col("bucket").isin(*sorted(done)))
    docs_n = F.sum(F.when(F.col("order") == 0, 1).otherwise(0))
    return written.groupBy("bucket").agg(
        docs_n.alias("docs_in"),
        docs_n.alias("docs_out"),
        F.count("*").alias("spans_out"),
        F.sum(F.when(F.col("parse_failure") & (F.col("order") == 0), 1).otherwise(0)).alias("parse_failures"),
    ).withColumnRenamed("bucket", "partition_id")


def ship_package(spark: SparkSession) -> None:
    """Make ``doc_agent_spark`` importable on executors when the job is run
    as a bare ``spark-submit jobs/extract.py`` (no --py-files): zip the
    package and addPyFile it. Skipped when the package already imports from
    an archive (--py-files shipped it — the production path); the temp zip
    is removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    import doc_agent_spark

    pkg_file = os.path.abspath(doc_agent_spark.__file__)
    if ".zip" in pkg_file or ".egg" in pkg_file:
        return  # already running from a shipped archive
    tmp = tempfile.mkdtemp(prefix="dasz")
    atexit.register(shutil.rmtree, tmp, True)
    zpath = shutil.make_archive(
        os.path.join(tmp, "doc_agent_spark"),
        "zip",
        root_dir=os.path.dirname(os.path.dirname(pkg_file)),
        base_dir="doc_agent_spark",
    )
    spark.sparkContext.addPyFile(zpath)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--split-heavy-over", type=int, default=None)
    args = ap.parse_args()

    from doc_agent_spark.session import get_spark

    # udf_heavy: the job is one Arrow-batched Python stage; give every
    # in-flight task a core for its Python worker (see session.get_spark)
    spark = get_spark(app=f"extract-{args.run_id}", udf_heavy=True)
    ship_package(spark)
    stats = run_extract(
        spark, args.input, args.output, args.lineage, args.metrics,
        args.run_id, args.buckets, args.split_heavy_over,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
