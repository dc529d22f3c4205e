"""Checkpoint-resumable dataset publish job — the final deployable stage
of the training-data pipeline (extract → curate → pack → PUBLISH): export
a table as deterministic JSONL shards plus a checksummed manifest and a
terminal ``_PUBLISHED`` marker, so a downstream consumer can (a) know the
export is COMPLETE without listing-and-hoping, and (b) verify every shard
it reads against an engine-independent checksum.

    spark-submit --py-files dist.zip jobs/publish.py \\
        --input warehouse.curated --output /exports/corpus_v3 \\
        --lineage warehouse.lineage --metrics warehouse.metrics \\
        --run-id pub42 --shards 4096 [--columns doc_id,text,lang] [--verify]

Resume model (the jobs/extract.py protocol, shard-grained): shard =
content hash of doc_id (operators/packing.shard_of — layout and
cluster-size invariant), output text-written with dynamic partition
overwrite per shard (idempotent re-run), one lineage row per shard
appended AFTER the shard's manifest row. A crash between the data write
and the lineage append re-runs the shard: the overwrite replaces its own
files and the manifest re-append is an EXACT duplicate row (manifest
values are pure functions of shard content), which the manifest reader
collapses with DISTINCT. The ``_PUBLISHED`` marker is written only when
no shard remains — its presence IS the atomic "complete" signal.

Serialization: line = to_json(struct(columns)) with an explicit, recorded
column order (defaults to the input schema's names sorted), so the bytes
— and therefore the checksums — are reproducible from the table alone.

At 10^12 docs: shards sized so one shard ≈ one comfortable output file
(e.g. 2^20 shards × ~1M docs); the only exchange is the shard
repartition, the manifest aggregate shuffles 3 numbers per (task, shard).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def final_manifest(spark: SparkSession, manifest_path: str) -> "DataFrame":
    """The published manifest: DISTINCT collapses the duplicate-identical
    rows a crash-resume may have appended (see module docstring)."""
    return spark.read.parquet(manifest_path).distinct()


def run_publish(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    metrics_path: str,
    run_id: str,
    shards: int = 64,
    columns: list[str] | None = None,
    seed: str = "publish42",
    key_col: str = "doc_id",
    verify: bool = False,
) -> dict:
    from doc_agent_spark.operators import publish
    from doc_agent_spark.operators.packing import shard_of
    from doc_agent_spark.sinks.metrics import (
        append_lineage,
        append_rows,
        completed_partitions,
        fs_parquet_columns,
    )
    from doc_agent_spark.sources.tables import read_input

    t0 = time.time()
    # the column names come from one parquet footer on the driver, so a
    # complete resume reads no input; a table name or a directory without
    # a Spark footer is read (a schema-inference job)
    df = None
    cols = columns
    if cols is None:
        names = fs_parquet_columns(spark, input_path) if "/" in input_path else None
        if names is None:
            df = read_input(spark, input_path)
            names = df.columns
        cols = sorted(names)
    shards_path = output_path.rstrip("/") + "_shards"
    manifest_path = output_path.rstrip("/") + "_manifest"

    # config identity guard: shards/columns/seed/key define both the shard
    # mapping and the bytes — resuming an output under a DIFFERENT mapping
    # silently mixes incompatible shard sets (the jobs/pack.py hazard, here
    # enforced instead of documented: the byte-level manifest makes any mix
    # unverifiable, so fail fast). First writer — this job OR the stream —
    # records the config; every later writer re-checks it.
    publish.check_or_write_config(
        output_path,
        {"shards": shards, "columns": cols, "seed": seed, "key_col": key_col},
    )

    done = completed_partitions(spark, lineage_path, run_id, "publish")
    # every shard id is < shards: lineage holding them all is complete,
    # and the stage reads no input and skips its plan, its write and the
    # shard-set collect
    complete = set(range(shards)) <= done

    n_written, wrote = 0, []
    if not complete:
        if df is None:
            df = read_input(spark, input_path)
        staged = df.select(
            shard_of(F.col(key_col), shards, seed).alias("shard"),
            publish.json_line(*cols).alias("line"),
        )
        if done:
            staged = staged.filter(~F.col("shard").isin(*sorted(done)))
        # manifest from the SAME staged frame the shards are written from —
        # localCheckpoint would also work, but the frame is two narrow
        # projections off the scan, so recomputing it for the aggregate is
        # cheaper than materializing the serialized lines twice.
        delta = publish.manifest_agg(staged, shard_col="shard", line_col="line")
        if not staged.isEmpty():
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            (
                staged.repartition(min(shards, spark.sparkContext.defaultParallelism * 2), "shard")
                .select("shard", "line")
                .write.mode("overwrite")
                .partitionBy("shard")
                .text(shards_path)
            )
            delta_rows = delta.collect()  # manifest is n_shards rows: metadata-sized
            n_written = sum(r["n_rows"] for r in delta_rows)
            wrote = sorted(r["shard"] for r in delta_rows)
            append_rows(spark, manifest_path, delta_rows, delta.schema)
            # one LINEAGE-schema row per committed shard (docs_in = docs_out =
            # rows serialized; spans_out carries the shard's byte count)
            append_lineage(spark, [
                (r["shard"], r["n_rows"], r["n_rows"], r["n_bytes"], 0) for r in delta_rows
            ], lineage_path, run_id, "publish", int((time.time() - t0) * 1000))

    wall_ms = int((time.time() - t0) * 1000)
    append_rows(
        spark, metrics_path,
        [(run_id, "publish", n_written, len(wrote), len(done), wall_ms)],
        "run_id string, stage string, rows_written long, shards_written int,"
        " shards_skipped int, wall_ms long",
    )

    # terminal marker: all shards of THIS config have a lineage row
    if not complete:
        done_after = completed_partitions(spark, lineage_path, run_id, "publish")
        all_shards = set(
            r["shard"] for r in
            df.select(shard_of(F.col(key_col), shards, seed).alias("shard")).distinct().collect()
        )
        complete = all_shards <= done_after
    marker = {"run_id": run_id, "shards": shards, "columns": cols, "seed": seed,
              "complete": complete}
    if complete:
        mpath = output_path.rstrip("/") + "_PUBLISHED"
        with open(mpath, "w") as fh:  # local-path marker; on object stores
            json.dump(marker, fh)     # this is a zero-byte PUT, same semantics

    result = {
        "rows_written": n_written,
        "shards_written": len(wrote),
        "shards_skipped": len(done),
        "complete": complete,
        "wall_ms": wall_ms,
    }

    if verify:
        vm = publish.verify_shards(
            spark, shards_path, final_manifest(spark, manifest_path)
        )
        bad = vm.filter(~F.col("ok")).count()
        result["verify_failed_shards"] = bad
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--columns", default=None,
                    help="comma-separated serialization order (default: sorted schema)")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--seed", default="publish42")
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    spark = SparkSession.builder.appName(f"publish-{args.run_id}").getOrCreate()
    ship_package(spark)
    out = run_publish(
        spark,
        input_path=args.input,
        output_path=args.output,
        lineage_path=args.lineage,
        metrics_path=args.metrics,
        run_id=args.run_id,
        shards=args.shards,
        columns=args.columns.split(",") if args.columns else None,
        key_col=args.key_col,
        seed=args.seed,
        verify=args.verify,
    )
    print(json.dumps(out))
    if out.get("verify_failed_shards"):
        sys.exit(3)


if __name__ == "__main__":
    main()
