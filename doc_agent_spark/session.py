"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading 100 TB; tested on local[N].
Every knob here is chosen for the big case and merely harmless locally:

- AQE on (+skew join): runtime coalescing of shuffle partitions and skew
  splitting — the north_rule calls out AQE-tuned shuffles explicitly.
- UTC session timezone: the normalize layer's JS-date semantics are pinned
  to UTC (jsdate.py), so the JVM must agree.
- Arrow enabled with a bounded batch size: extraction UDFs carry full page
  text; 10k-row batches of 100 KB docs would be ~1 GB per batch. 2048 keeps
  peak executor memory flat regardless of document size distribution.
- the master defaults to local[$SPARK_GRAFT_CPUS] (else one slot per CPU
  this process may run on) unless a launcher set one; shuffle partitions
  default to max(cores*2, 16), and AQE coalesces from there.
"""

from __future__ import annotations

import os
import shlex

from pyspark.sql import SparkSession


def _launcher_master() -> bool:
    """True when a launcher chose the master: spark-submit started the JVM
    (it exports PYSPARK_GATEWAY_PORT, the sign ``pyspark/java_gateway.py``
    reads, and always sets ``spark.master``), or ``PYSPARK_SUBMIT_ARGS``,
    which the gateway hands to spark-submit, names one. A builder
    ``.master()`` would override either."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return True
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    return any(a == "--master" or a.startswith("--master=") for a in args)


def get_spark(
    app: str = "doc-agent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
    udf_heavy: bool = False,
) -> SparkSession:
    """``udf_heavy=True`` sets ``spark.task.cpus=2`` — for pipelines dominated
    by Arrow-batched Python stages, each in-flight task is really TWO busy
    processes (the JVM feeder thread and its Python worker). Scheduling one
    task per core oversubscribes 2× and measured 2.7× SLOWER end-to-end
    (73 s vs 27 s on the 1.5M-doc extraction corpus at local[32]); reserving
    2 cores per task keeps runnable processes == cores. Cluster equivalent:
    size executor cores so concurrent-python-tasks × 2 ≤ cores per executor.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if master is None and not _launcher_master():
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus
        if master and master.startswith("local["):
            n = int(master.removeprefix("local[").removesuffix("]")
                    .replace("*", str(len(os.sched_getaffinity(0)))))
        shuffle_partitions = max(n * 2, 16)
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        b = b.master(master)
    if udf_heavy:
        b = b.config("spark.task.cpus", "2")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
