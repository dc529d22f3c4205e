"""Per-partition lineage (north_star: docs processed, spans emitted,
parse failures; SURVEY §4.2.3 checkpoint/resume bookkeeping).

Every lineage row (schema.LINEAGE) is appended by :func:`append_lineage`
from per-unit count rows. Bucket/shard jobs (extract, curate, pack,
publish) compute their units after the output write commits, each from
its own pruned aggregate collected to the driver (one row per unit), and
write a one-row metrics rollup per stage; artifact-granular jobs (index,
frontier, incremental) commit through sinks/ledger.py, whose ``Ledger``
hands over one unit per artifact. The read side: resume = anti-join the
completed partitions, and a reused artifact takes its row count from
the lineage row written when it was committed. Both are answered from
one driver-side snapshot of the run's ``done`` rows (:func:`_run_rows`):
one collect, read again only when the lineage directory's stamp changes,
so stages that write no lineage — a resumed pipeline leg — share a
single read, and an append from any process invalidates it. Whether a
lineage directory (or a commit marker) exists is asked of the path's
Hadoop FileSystem (:func:`fs_mtime`), so a ``file:``,
``hdfs://`` or ``s3a://`` lineage path resumes like a plain one; the
schema a committed parquet artifact was written with is read from one
footer through the same FileSystem (:func:`fs_parquet_schema`).

Driver-built rows that are only appended — metrics rollups, lineage
rows, publish's manifest delta, the rollup ledger's ``applied`` row — go
through :func:`append_rows`: the driver serializes them with pyarrow and
commits one part file through the path's Hadoop FileSystem, with no
Spark job (a Spark append of one row is a whole write job: plan, task,
``_temporary`` commit). Driver-built rows that feed a plan (BPE merges,
centroids, id lists) go through :func:`local_frame`: an Arrow table
becomes a one-partition local relation, where
``createDataFrame(<python list>)`` pickles the rows into a
``defaultParallelism``-partition RDD and runs every action on it through
Python workers.
"""

from __future__ import annotations

import datetime
import functools
import json
import uuid
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import LINEAGE


def _arrow_table(rows: Sequence[Sequence], schema: StructType):
    """``rows`` (tuples or Rows, positional in ``schema``) as a
    ``pyarrow.Table`` with the Arrow types Spark maps ``schema`` to."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: StructType | str) -> DataFrame:
    """``rows`` (tuples or Rows, positional in ``schema``) as a DataFrame
    with exactly ``createDataFrame(rows, schema)``'s schema and values,
    built column-wise as a ``pyarrow.Table``: Spark plans it as one local
    partition, and no action on it starts a Python worker. ``schema`` is a
    StructType or a DDL string."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    # a local relation splits into min(rows, cores) partitions; one is
    # enough for a driver-built table, and appends one file per write
    return spark.createDataFrame(_arrow_table(rows, schema), schema).coalesce(1)


@functools.cache
def _jclass(jvm, name: str):
    """The JVM class (or static member) ``name``, resolved once per
    gateway: py4j resolves a dotted name with one round trip per segment,
    more than the probe that uses it."""
    obj = jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def _filesystem(spark: SparkSession, path: str, *child: str):
    """(the Hadoop FileSystem serving ``path``, the Hadoop Path of
    ``path`` joined with ``child``): the driver's route to any URI scheme.
    Raises Py4JJavaError when no FileSystem serves the scheme."""
    sc = spark.sparkContext
    target = _jclass(sc._jvm, "org.apache.hadoop.fs.Path")(path, *child)
    return target.getFileSystem(sc._jsc.hadoopConfiguration()), target


def fs_mtime(spark: SparkSession, path: str, *child: str) -> float | None:
    """Modification time (epoch seconds) of ``path`` (joined with
    ``child``, e.g. ``"_SUCCESS"``), None when it does not exist. One call
    on the path's Hadoop FileSystem from the Spark driver — the same probe
    for plain paths and ``file:``/``hdfs://``/``s3a://`` URIs — and no
    Spark job."""
    try:
        fs, target = _filesystem(spark, path, *child)
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
    found = _footer_schema(spark, path)
    return None if found is None else found[0]


def fs_parquet_columns(spark: SparkSession, path: str) -> list[str] | None:
    """The column names ``spark.read.parquet(path)`` has, with no Spark
    job: the footer schema of :func:`fs_parquet_schema` plus the partition
    columns named by the ``key=value`` directories above its data file.
    None where that schema is None or a directory level is not a plain
    ``key=value`` name."""
    found = _footer_schema(spark, path)
    if found is None:
        return None
    schema, dirs = found
    keys = [d.split("=", 1)[0] for d in dirs]
    if any("=" not in d or not k or "%" in k for d, k in zip(dirs, keys)):
        return None
    return schema.names + [k for k in keys if k not in schema.names]


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType, list[str]] | None:
    """(the footer schema of one data file under ``path``, the names of the
    directories descended to reach it), or None."""
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    dirs = []
    try:
        node = _jclass(jvm, "org.apache.hadoop.fs.Path")(path)
        fs = node.getFileSystem(conf)
        while True:
            # skip what Spark's file index hides: _SUCCESS, _temporary, .crc
            for first in fs.listStatus(node):
                name = first.getPath().getName()
                if name[:1] not in "_.":
                    break
            else:
                return None
            node = first.getPath()
            if first.isFile():
                break
            dirs.append(name)
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
        return StructType.fromJson(json.loads(row_schema)), dirs
    except (ValueError, KeyError, TypeError):
        return None


# Spark's parquet codec name -> (pyarrow's, the part-file suffix Spark
# gives it); a codec pyarrow cannot write (lz4, lzo) falls back to snappy
_CODECS = {"snappy": ("snappy", ".snappy"), "gzip": ("gzip", ".gz"),
           "zstd": ("zstd", ".zstd"), "brotli": ("brotli", ".br"),
           "none": ("none", ""), "uncompressed": ("none", "")}


def append_rows(spark: SparkSession, path: str, rows: Sequence[Sequence],
                schema: StructType | str) -> None:
    """Append ``rows`` (positional in ``schema``, a StructType or DDL
    string) to the parquet directory ``path`` as one part file, written on
    the driver: no Spark job. The file holds what
    ``local_frame(spark, rows, schema).write.mode("append").parquet(path)``
    writes — the same columns, types and values, compressed with the
    session's parquet codec, timestamps as INT96 (Spark's default output
    type), Spark's row schema and version in the footer — so Spark's
    inference, :func:`fs_parquet_schema`, pyarrow and DuckDB read it as
    they read a Spark-written file.

    Through the path's Hadoop FileSystem (any URI scheme), with a fixed
    number of calls: the bytes go in one ``write`` to a hidden
    (``.``-prefixed) file beside the directory, in its parent, which is
    renamed into the directory under its ``part-`` name, and ``_SUCCESS``
    is created if missing. Staged outside the directory, the file enters
    the lineage stamp (:func:`_lineage_stamp`) with the rename that makes
    it visible, so a snapshot read during the append is never kept past
    it. A crash before the rename leaves only the hidden file, which
    every reader skips; a failed rename raises. Each append has its own
    file name, so concurrent appends lose no row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = _arrow_table(rows, schema).replace_schema_metadata(
        {SPARK_ROW_SCHEMA: schema.json(), "org.apache.spark.version": spark.version}
    )
    codec, ext = _CODECS.get(spark.conf.get("spark.sql.parquet.compression.codec").lower(),
                             _CODECS["snappy"])
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression=codec, use_deprecated_int96_timestamps=True)
    fs, directory = _filesystem(spark, path)
    new_path = _jclass(spark.sparkContext._jvm, "org.apache.hadoop.fs.Path")
    name = f"part-{uuid.uuid4()}-c000{ext}.parquet"
    hidden = new_path(directory.getParent(), f".{directory.getName()}.{name}")
    success = new_path(directory, "_SUCCESS")
    fresh = not fs.exists(success)
    if fresh:  # the rename needs its target directory
        fs.mkdirs(directory)
    out = fs.create(hidden, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(hidden, new_path(directory, name)):
        raise OSError(f"could not rename {hidden} to {name} in {path}")
    # the rename is the commit; the marker only has to exist. Rewriting it
    # would cost a second create (on a local FileSystem without native
    # libraries every create forks a chmod)
    if fresh:
        fs.create(success, True).close()


def append_lineage(spark: SparkSession, units: Sequence[Sequence], lineage_path: str,
                   run_id: str, stage: str, wall_ms: int | None = None) -> None:
    """Append one ``done`` schema.LINEAGE row per unit, finished now (the
    driver's UTC clock), through :func:`append_rows`. A unit is
    ``(partition_id, docs_in, docs_out, spans_out, parse_failures)``, plus
    its own ``wall_ms`` when ``wall_ms`` is None."""
    at = datetime.datetime.now(datetime.timezone.utc)
    append_rows(spark, lineage_path, [
        (run_id, stage, u[0], "done", *u[1:5], u[5] if wall_ms is None else wall_ms, at)
        for u in units
    ], LINEAGE)


def _lineage_stamp(spark: SparkSession, lineage_path: str) -> tuple | None:
    """What a committed write to the lineage directory always changes:
    the (files, directories, bytes) under it, as one ``getContentSummary``
    on the path's Hadoop FileSystem, and its ``_SUCCESS`` time. An append
    adds a uniquely named part file (:func:`append_rows` stages it outside
    the directory, so it is counted from the moment it is visible; a
    Spark append's ``_temporary`` directory moves the count while it
    writes), an overwrite rewrites ``_SUCCESS``.
    None when the directory does not exist. A fixed number of FileSystem
    calls whatever the file count, and no Spark job."""
    try:
        fs, target = _filesystem(spark, lineage_path)
        if not fs.exists(target):
            return None
    except Py4JJavaError:  # no filesystem for the path's scheme
        return None
    summary = fs.getContentSummary(target)
    return (summary.getFileCount(), summary.getDirectoryCount(), summary.getLength(),
            fs_mtime(spark, lineage_path, "_SUCCESS"))


# (lineage_path, run_id) → (stamp, snapshot), least recently used first
_SNAPSHOTS: dict[tuple[str, str], tuple[tuple, dict]] = {}
_SNAPSHOT_KEYS = 8


def _run_rows(spark: SparkSession, lineage_path: str,
              run_id: str) -> dict[str, dict[int, tuple[int, float]]]:
    """stage → partition_id → (docs_out, finished_at as epoch seconds) of
    the NEWEST ``done`` lineage row of ``run_id`` per partition (a
    partition rebuilt under the same run id appends a second row). One
    collect of the run's rows, kept on the driver and read again only
    when the directory's stamp changes. The stamp is read before the
    rows, so a write landing in between forces the next call to re-read."""
    stamp = _lineage_stamp(spark, lineage_path)
    if stamp is None:
        return {}
    key = (lineage_path, run_id)
    cached = _SNAPSHOTS.pop(key, None)
    if cached is None or cached[0] != stamp:
        rows = spark.read.schema(LINEAGE).parquet(lineage_path).filter(
            (F.col("run_id") == run_id) & (F.col("status") == "done")
        ).select("stage", "partition_id", "docs_out",
                 F.unix_micros("finished_at").alias("at_us")).collect()
        snapshot: dict[str, dict[int, tuple[int, float]]] = {}
        for r in sorted(rows, key=lambda r: r.at_us):  # the newest row wins
            snapshot.setdefault(r.stage, {})[r.partition_id] = (r.docs_out, r.at_us / 1e6)
        cached = (stamp, snapshot)
    _SNAPSHOTS[key] = cached
    while len(_SNAPSHOTS) > _SNAPSHOT_KEYS:
        del _SNAPSHOTS[next(iter(_SNAPSHOTS))]
    return cached[1]


def completed_partitions(spark: SparkSession, lineage_path: str, run_id: str, stage: str) -> set[int]:
    return set(_run_rows(spark, lineage_path, run_id).get(stage, ()))


def committed_outputs(spark: SparkSession, lineage_path: str, run_id: str,
                      stage: str) -> dict[int, tuple[int, float]]:
    """partition_id → (docs_out, finished_at as epoch seconds) of the NEWEST
    lineage row per partition."""
    return dict(_run_rows(spark, lineage_path, run_id).get(stage, {}))
