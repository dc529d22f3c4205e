"""Artifact ledger — the one build-or-reuse commit path for the
artifact-granular jobs (jobs/index.py, jobs/frontier.py,
jobs/incremental.py) and the one commit-proof probe every job shares.

    with Ledger(spark, out, lineage, run_id, "index", ARTIFACTS, stamp) as ledger:
        emb = ledger.commit("embeddings", lambda: ...)
        ledger.commit("ivf_cells", lambda: ..., partition_by="cell")

Contract, per artifact ``<out>/<name>`` (partition_id = its ordinal in
``artifacts``):

- **Stamp.** At construction the config stamp beside ``out`` must match
  ``stamp`` (``None`` = the job keeps no stamp). A stale-only difference
  (``STALE_KEYS``) wipes and rebuilds under ``rebuild_stale``; any other
  difference raises "<stage> config mismatch", naming the keys.
- **Reuse.** An artifact is committed when ``readable`` passes: its
  ``_SUCCESS`` marker is probed through the path's Hadoop FileSystem (one
  driver call, no Spark job, any URI scheme), and only a committed path is
  read back. Its count is the ``docs_out`` of its newest lineage row that
  postdates the marker (one ``committed_outputs`` collect per job, paid
  only once something is reused). With no such row it is counted and one
  lineage row is backfilled (``wall_ms`` 0) — this converges a driver
  killed between the artifact write and the lineage append.
- **Build.** The write is a whole-directory static overwrite (forced, so
  the root ``_SUCCESS`` marker exists even when the caller left the
  session in dynamic mode). Its row count is observed on the write
  (``Observation``), and the returned frame reads the artifact back with
  the written schema, so a build launches no inference or count job.
- **Lineage.** Rows (schema.LINEAGE) are appended in ONE write when the
  ``with`` block ends, also when a commit raised; they are built on the
  driver with ``metrics.local_frame``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.publish import check_or_write_config
from ..schema import LINEAGE
from .metrics import committed_outputs, fs_mtime, local_frame

# Stamp keys that only say the artifacts are OUT OF DATE (a new embedder,
# a rewritten input snapshot): rebuild_stale may wipe and rebuild. Every
# other key is the build config itself, which is never wiped.
STALE_KEYS = ("embedder_version", "input_fp")

# a lineage row before its finished_at, which the append stamps
_ROW = StructType(LINEAGE.fields[:-1])


def _commit_proof(spark: SparkSession, path: str) -> tuple[DataFrame, float] | None:
    """(the artifact read back, its ``_SUCCESS`` time) when ``path`` is
    committed, else None; see :func:`readable`."""
    at = fs_mtime(spark, path, "_SUCCESS")
    if at is None:
        return None
    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution
    except Exception:
        return None
    return df, at


def readable(spark: SparkSession, path: str) -> DataFrame | None:
    """Committed-artifact probe: the committer's _SUCCESS marker must exist
    (a driver killed mid-job-commit leaves a readable fraction of the part
    files — 'reads back' alone would resume against a silently truncated
    artifact) AND the parquet must read back. The marker is probed first,
    so a missing or partial artifact costs no Spark job."""
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
    stamp = out + "_config.json"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
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
            os.remove(stamp)
    check_or_write_config(out, cfg)


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
            local_frame(self.spark, self._rows, _ROW).withColumn(
                "finished_at", F.current_timestamp()
            ).write.mode("append").parquet(self.lineage_path)
            self._rows = []

    def _row(self, pid: int, rows: int, wall_ms: int) -> None:
        self._rows.append(
            (self.run_id, self.stage, pid, "done", rows, rows, 0, 0, wall_ms)
        )

    def commit(self, name: str, build, partition_by: str | None = None) -> DataFrame:
        path, pid = f"{self.out}/{name}", self.artifacts.index(name)
        proof = _commit_proof(self.spark, path)
        if proof is not None:
            existing, success_at = proof
            self.reused[name] = True
            if self._committed is None:
                self._committed = committed_outputs(
                    self.spark, self.lineage_path, self.run_id, self.stage
                )
            row = self._committed.get(pid)
            # the row must postdate the _SUCCESS marker: a rebuild whose
            # lineage append never landed leaves an older row behind
            if row is not None and row[1] >= success_at:
                self.counts[name] = row[0]
            else:
                self.counts[name] = existing.count()
                self._row(pid, self.counts[name], 0)
            return existing
        t = time.time()
        df = build()

        def write(observed: DataFrame) -> None:
            w = observed.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(path)

        conf = "spark.sql.sources.partitionOverwriteMode"
        prev = self.spark.conf.get(conf, "static")
        self.spark.conf.set(conf, "static")
        try:
            self.counts[name] = write_counted(df, write)
        finally:
            self.spark.conf.set(conf, prev)
        self.reused[name] = False
        self._row(pid, self.counts[name], int((time.time() - t) * 1000))
        # the data columns as written; a partition column is appended by
        # partition discovery with the type a plain read infers for it
        written = StructType([f for f in df.schema if f.name != partition_by])
        return self.spark.read.schema(written).parquet(path)
