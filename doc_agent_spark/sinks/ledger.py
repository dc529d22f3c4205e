"""Artifact commits: the one place that knows how an artifact is
committed, how its lineage row is shaped and where its config stamp
lives.

    df, rows, reused = commit(spark, path, build, params={"k": 5})
    with Ledger(spark, out, lineage, run_id, "index", ARTIFACTS, stamp) as ledger:
        emb = ledger.commit("embeddings", lambda: ...)

:func:`commit` builds or reuses one artifact (curate's corpus-stat
artifacts, pack's BPE merges, the pipeline's bridge and ingest outputs,
frontier's seen set); ``Ledger`` (index, frontier, incremental) commits
each artifact of one output directory and writes its lineage. Contract:

- **Reuse.** An artifact is committed when ``readable`` passes: its
  ``_SUCCESS`` marker is probed through the path's Hadoop FileSystem, then
  one data file's parquet footer is read on the driver through the same
  FileSystem, and the artifact is read back with the Spark schema that
  footer records — no Spark job, any URI scheme. A reuse reports no row
  count (counting is a job).
- **Build.** The write is a whole-directory static overwrite (forced, so
  the root ``_SUCCESS`` marker exists even when the caller left the
  session in dynamic mode). Its row count is observed on the write
  (``Observation``), and the returned frame reads the artifact back with
  the written schema, so a build launches no inference or count job.
- **Params.** ``params`` is checked against the config stamp beside the
  artifact (operators/publish.check_or_write_config) before a reuse or a
  build — a reused artifact with no stamp gets this run's — and recorded
  after a build; a difference raises "config mismatch".
- **Ledger stamp.** The stamp beside ``out`` must match ``stamp``
  (``None`` = no stamp). A stale-only difference (``STALE_KEYS``) wipes
  and rebuilds under ``rebuild_stale``; any other difference raises
  "<stage> config mismatch", naming the keys.
- **Ledger counts and lineage.** Artifact ``<out>/<name>`` is lineage
  partition ``artifacts.index(name)``. A reused artifact's count is the
  ``docs_out`` of its newest lineage row that postdates the marker (one
  ``committed_outputs`` call per job, made only once something is reused
  and answered from the run's lineage snapshot: no job when it is
  current). With no such row it is counted and one row is backfilled
  (``wall_ms`` 0) — this converges a driver killed between the artifact
  write and the lineage append. The rows go to ``metrics.append_lineage``
  as ONE driver-side append (one part file, no Spark job) when the
  ``with`` block ends, also when a commit raised.
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.publish import check_or_write_config, read_stamp, write_stamp
from .metrics import append_lineage, committed_outputs, fs_mtime, fs_parquet_schema

# Stamp keys that only say the artifacts are OUT OF DATE (a new embedder,
# a rewritten input snapshot): rebuild_stale may wipe and rebuild. Every
# other key is the build config itself, which is never wiped.
STALE_KEYS = ("embedder_version", "input_fp")


def _commit_proof(spark: SparkSession, path: str) -> tuple[DataFrame, float] | None:
    """(the artifact read back, its ``_SUCCESS`` time) when ``path`` is
    committed, else None; see :func:`readable`."""
    at = fs_mtime(spark, path, "_SUCCESS")
    if at is None:
        return None
    schema = fs_parquet_schema(spark, path)
    if schema is None:
        return None
    return spark.read.schema(schema).parquet(path), at


def readable(spark: SparkSession, path: str) -> DataFrame | None:
    """Committed-artifact probe: the committer's _SUCCESS marker must exist
    (a driver killed mid-job-commit leaves a readable fraction of the part
    files — 'reads back' alone would resume against a silently truncated
    artifact) AND one data file's footer must parse and carry the schema
    Spark wrote (``metrics.fs_parquet_schema``). The artifact is read back
    with that schema. Spark's own inference (``mergeSchema`` off) parses
    exactly one footer too, so the check is the same; both probes are
    driver-side FileSystem calls, and a probe launches no Spark job."""
    proof = _commit_proof(spark, path)
    return None if proof is None else proof[0]


def write_counted(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` on ``df`` and return how many rows it wrote, observed
    on the write action itself (an ``Observation``): no read-back, no
    count job."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def _check_stamp(stage: str, out: str, cfg: dict, rebuild_stale: bool) -> None:
    """Fail fast when the stamp beside ``out`` differs from ``cfg``: a
    resume under another config would mix artifacts that cannot agree
    (dim-16 embeddings quantized as dim-32 dequantize to garbage forever)
    — the jobs/publish.py contract. A stale-only difference wipes and
    rebuilds under ``rebuild_stale`` (the "re-embed on model update" path);
    a config difference always raises, naming the differing keys."""
    prev = read_stamp(out)
    if prev is not None:
        differ = sorted(k for k in prev.keys() | cfg.keys() if prev.get(k) != cfg.get(k))
        config = [k for k in differ if k not in STALE_KEYS]
        if config:
            raise ValueError(
                f"{stage} config mismatch for {out}: {config} differ "
                f"(existing {[prev.get(k) for k in config]}, asked "
                f"{[cfg.get(k) for k in config]}); a new config needs a new "
                "output path — --rebuild-stale never wipes a config change"
            )
        if differ:
            if not rebuild_stale:
                raise ValueError(
                    f"{stage} config mismatch for {out}: stale stamp {differ}; "
                    "pass --rebuild-stale to wipe and rebuild"
                )
            shutil.rmtree(out, ignore_errors=True)
    if prev != cfg:
        write_stamp(out, cfg)


def _commit(spark: SparkSession, path: str, build: Callable[[], DataFrame],
            params: dict | None = None, partition_by: str | None = None
            ) -> tuple[DataFrame, int | None, float | None]:
    """(the artifact, rows written or None for a reuse, the reused
    artifact's ``_SUCCESS`` time or None for a build); see :func:`commit`."""
    proof = _commit_proof(spark, path)
    if params is not None and (proof is not None or read_stamp(path) is not None):
        check_or_write_config(path, params)
    if proof is not None:
        return proof[0], None, proof[1]
    df = build()

    def write(observed: DataFrame) -> None:
        w = observed.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf, "static")
    spark.conf.set(conf, "static")
    try:
        rows = write_counted(df, write)
    finally:
        spark.conf.set(conf, prev)
    if params is not None:
        check_or_write_config(path, params)
    # the data columns as written; a partition column is appended by
    # partition discovery with the type a plain read infers for it
    written = StructType([f for f in df.schema if f.name != partition_by])
    return spark.read.schema(written).parquet(path), rows, None


def commit(spark: SparkSession, path: str, build: Callable[[], DataFrame],
           params: dict | None = None, partition_by: str | None = None
           ) -> tuple[DataFrame, int | None, bool]:
    """(the artifact at ``path``, rows written or None for a reuse,
    reused); see the module docstring."""
    df, rows, success_at = _commit(spark, path, build, params, partition_by)
    return df, rows, success_at is not None


class Ledger:
    """Build-or-reuse commits for one job's artifacts; see the module
    docstring for the contract. ``counts``/``reused`` hold, per committed
    name, its row count and whether it was reused."""

    def __init__(self, spark: SparkSession, out: str, lineage_path: str,
                 run_id: str, stage: str, artifacts: list[str],
                 stamp: dict | None, rebuild_stale: bool = False) -> None:
        self.spark, self.out = spark, out.rstrip("/")
        self.lineage_path, self.run_id, self.stage = lineage_path, run_id, stage
        self.artifacts = artifacts
        if stamp is not None:
            _check_stamp(stage, self.out, stamp, rebuild_stale)
        self.counts: dict[str, int] = {}
        self.reused: dict[str, bool] = {}
        self._rows: list[tuple] = []
        self._committed: dict[int, tuple[int, float]] | None = None

    def __enter__(self) -> Ledger:
        return self

    def __exit__(self, *exc) -> None:
        if self._rows:
            append_lineage(self.spark, self._rows, self.lineage_path, self.run_id, self.stage)
            self._rows = []

    def commit(self, name: str, build, partition_by: str | None = None) -> DataFrame:
        path, pid = f"{self.out}/{name}", self.artifacts.index(name)
        t = time.time()
        df, rows, success_at = _commit(self.spark, path, build, partition_by=partition_by)
        wall_ms = int((time.time() - t) * 1000)
        self.reused[name] = success_at is not None
        if success_at is not None:
            if self._committed is None:
                self._committed = committed_outputs(
                    self.spark, self.lineage_path, self.run_id, self.stage
                )
            row = self._committed.get(pid)
            # the row must postdate the _SUCCESS marker: a rebuild whose
            # lineage append never landed leaves an older row behind
            if row is not None and row[1] >= success_at:
                self.counts[name] = row[0]
                return df
            rows, wall_ms = df.count(), 0
        self.counts[name] = rows
        self._rows.append((pid, rows, rows, 0, 0, wall_ms))
        return df
