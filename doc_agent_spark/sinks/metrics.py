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
``hdfs://`` or ``s3a://`` lineage path resumes like a plain one; the
schema a committed parquet artifact was written with is read from one
footer through the same FileSystem (:func:`fs_parquet_schema`).

Driver-built rows (metrics rollups, lineage rows, small lookup tables) go
through :func:`local_frame`: an Arrow table becomes a one-partition local
relation, where ``createDataFrame(<python list>)`` pickles the rows into a
``defaultParallelism``-partition RDD and runs every action on it through
Python workers.
"""

from __future__ import annotations

import functools
import json
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


@functools.cache
def _jclass(jvm, name: str):
    """The JVM class (or static member) ``name``, resolved once per
    gateway: py4j resolves a dotted name with one round trip per segment,
    more than the probe that uses it."""
    obj = jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def fs_mtime(spark: SparkSession, path: str, *child: str) -> float | None:
    """Modification time (epoch seconds) of ``path`` (joined with
    ``child``, e.g. ``"_SUCCESS"``), None when it does not exist. One call
    on the path's Hadoop FileSystem from the Spark driver — the same probe
    for plain paths and ``file:``/``hdfs://``/``s3a://`` URIs — and no
    Spark job."""
    sc = spark.sparkContext
    target = _jclass(sc._jvm, "org.apache.hadoop.fs.Path")(path, *child)
    try:
        fs = target.getFileSystem(sc._jsc.hadoopConfiguration())
        # exists() first: a miss raising FileNotFoundException through
        # py4j costs more than the probe itself
        if not fs.exists(target):
            return None
        return fs.getFileStatus(target).getModificationTime() / 1000
    except Py4JJavaError:  # no filesystem for the path's scheme
        return None


# the footer key under which Spark's parquet writer records the row schema
SPARK_ROW_SCHEMA = "org.apache.spark.sql.parquet.row.metadata"


def fs_parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema recorded in the footer of one data file of the
    parquet directory ``path``; None when it has no data file, the footer
    does not parse, or the footer carries no Spark row schema (a file
    Spark did not write). Read on the driver with parquet-hadoop through
    the path's Hadoop FileSystem, as :func:`fs_mtime` probes: one
    ``listStatus`` per directory level (a partitioned artifact descends
    into its first partition directory) and one footer read that skips
    the row-group metadata, as Spark's own schema inference does. No Spark
    job. The schema holds the data columns only: partition columns live in
    directory names."""
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    try:
        node = _jclass(jvm, "org.apache.hadoop.fs.Path")(path)
        fs = node.getFileSystem(conf)
        while True:
            # skip what Spark's file index hides: _SUCCESS, _temporary, .crc
            first = next((st for st in fs.listStatus(node)
                          if st.getPath().getName()[:1] not in "_."), None)
            if first is None:
                return None
            node = first.getPath()
            if first.isFile():
                break
        parquet = "org.apache.parquet."
        skip = _jclass(jvm, parquet + "format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS")
        options = _jclass(jvm, parquet + "HadoopReadOptions").builder(conf) \
            .withMetadataFilter(skip).build()
        reader = _jclass(jvm, parquet + "hadoop.ParquetFileReader").open(
            _jclass(jvm, parquet + "hadoop.util.HadoopInputFile").fromPath(node, conf), options)
        try:
            row_schema = reader.getFileMetaData().getKeyValueMetaData().get(SPARK_ROW_SCHEMA)
        finally:
            reader.close()
    except Py4JJavaError:  # no filesystem, or not a parquet footer
        return None
    if row_schema is None:
        return None
    try:
        return StructType.fromJson(json.loads(row_schema))
    except (ValueError, KeyError, TypeError):
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
