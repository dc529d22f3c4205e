"""Per-partition lineage reads (north_star: docs processed, spans emitted,
parse failures; SURVEY §4.2.3 checkpoint/resume bookkeeping).

Bucket/shard jobs (extract, curate, pack) append their own lineage rows
(schema.LINEAGE) after the output write commits, from a separate pruned
aggregate, and a one-row metrics rollup per stage. Artifact-granular jobs
(index, frontier, incremental) commit through sinks/ledger.py, which owns
the artifact-resume contract and their lineage rows. The helpers here are
the read side: resume = anti-join the completed partitions, and a reused
artifact takes its row count from the lineage row written when it was
committed. Whether a lineage directory (or a commit marker) exists is
asked of the path's Hadoop FileSystem (:func:`fs_mtime`), so a ``file:``,
``hdfs://`` or ``s3a://`` lineage path resumes like a plain one.

Driver-built rows (metrics rollups, lineage rows, small lookup tables) go
through :func:`local_frame`: an Arrow table becomes a one-partition local
relation, where ``createDataFrame(<python list>)`` pickles the rows into a
``defaultParallelism``-partition RDD and runs every action on it through
Python workers.
"""

from __future__ import annotations

from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import LINEAGE


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: StructType | str) -> DataFrame:
    """``rows`` (tuples or Rows, positional in ``schema``) as a DataFrame
    with exactly ``createDataFrame(rows, schema)``'s schema and values,
    built column-wise as a ``pyarrow.Table``: Spark plans it as one local
    partition, and no action on it starts a Python worker. ``schema`` is a
    StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    # a local relation splits into min(rows, cores) partitions; one is
    # enough for a driver-built table, and appends one file per write
    return spark.createDataFrame(table, schema).coalesce(1)


def fs_mtime(spark: SparkSession, path: str, *child: str) -> float | None:
    """Modification time (epoch seconds) of ``path`` (joined with
    ``child``, e.g. ``"_SUCCESS"``), None when it does not exist. One call
    on the path's Hadoop FileSystem from the Spark driver — the same probe
    for plain paths and ``file:``/``hdfs://``/``s3a://`` URIs — and no
    Spark job."""
    sc = spark.sparkContext
    target = sc._jvm.org.apache.hadoop.fs.Path(path, *child)
    try:
        fs = target.getFileSystem(sc._jsc.hadoopConfiguration())
        # exists() first: a miss raising FileNotFoundException through
        # py4j costs more than the probe itself
        if not fs.exists(target):
            return None
        return fs.getFileStatus(target).getModificationTime() / 1000
    except Py4JJavaError:  # no filesystem for the path's scheme
        return None


def _stage_rows(spark: SparkSession, lineage_path: str, run_id: str,
                stage: str) -> DataFrame | None:
    if fs_mtime(spark, lineage_path) is None:
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
