"""Per-partition lineage reads (north_star: docs processed, spans emitted,
parse failures; SURVEY §4.2.3 checkpoint/resume bookkeeping).

Bucket/shard jobs (extract, curate, pack) append their own lineage rows
(schema.LINEAGE) after the output write commits, from a separate pruned
aggregate, and a one-row metrics rollup per stage. Artifact-granular jobs
(index, frontier, incremental) commit through sinks/ledger.py, which owns
the artifact-resume contract and their lineage rows. The helpers here are
the read side: resume = anti-join the completed partitions, and a reused
artifact takes its row count from the lineage row written when it was
committed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import LINEAGE


def _stage_rows(spark: SparkSession, lineage_path: str, run_id: str,
                stage: str) -> DataFrame | None:
    if not os.path.exists(lineage_path):
        return None
    return spark.read.schema(LINEAGE).parquet(lineage_path).filter(
        (F.col("run_id") == run_id) & (F.col("stage") == stage)
        & (F.col("status") == "done")
    )


def completed_partitions(spark: SparkSession, lineage_path: str, run_id: str, stage: str) -> set[int]:
    rows = _stage_rows(spark, lineage_path, run_id, stage)
    if rows is None:
        return set()
    return {r.partition_id for r in rows.select("partition_id").collect()}


def committed_outputs(spark: SparkSession, lineage_path: str, run_id: str,
                      stage: str) -> dict[int, tuple[int, float]]:
    """partition_id → (docs_out, finished_at as epoch seconds) of the NEWEST
    lineage row per partition, in one collect. Newest wins: a partition
    rebuilt under the same run id appends a second row."""
    rows = _stage_rows(spark, lineage_path, run_id, stage)
    if rows is None:
        return {}
    newest = rows.groupBy("partition_id").agg(
        F.max_by("docs_out", "finished_at").alias("docs_out"),
        F.max(F.unix_micros("finished_at")).alias("at_us"),
    )
    return {r.partition_id: (r.docs_out, r.at_us / 1e6) for r in newest.collect()}
