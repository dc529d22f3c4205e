"""Persisted incremental-rollup state: the shared apply/merge core behind
jobs/rollup.py (batch cadence) and streaming.pipeline.rollup_stream
(micro-batch cadence). ONE implementation maintains ONE state directory,
so batch days and streaming epochs interleave safely against the same
snapshot — the lakehouse stream/batch-parity pattern, with the ledger as
the common exactly-once device: a batch identity already in the ledger is
a no-op whether it arrived as a re-run day or a replayed foreachBatch
epoch.

Layout under ``state_path``:

- ``snapshot_v{N}`` — per-key mergeable partial state
  (operators/incremental_agg.py: count / fixed-point long sum / min /
  max) after the N-th applied batch; only the latest is ever read.
- ``applied`` — append-only ledger (batch_id, version, n_state_rows,
  batch_rows, wall_ms, applied_at). The ledger append is the COMMIT
  point: a crash after the snapshot write but before the append leaves an
  orphan ``snapshot_v{N+1}`` the re-run deterministically overwrites.
- the ``rollup`` config stamp (operators/publish.check_or_write_config)
  — keys/value/scale identity, recorded at the first successful commit,
  enforced on every later writer (batch or stream).

Single writer per state directory at a time (two concurrent appliers
would both read version N and race on v{N+1}); batch job and stream take
turns, they don't run together.
"""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import write_counted
from .metrics import append_rows

LEDGER_SCHEMA = (
    "batch_id string, version long, n_state_rows long, batch_rows long,"
    " wall_ms long, applied_at timestamp"
)


def read_ledger(spark: SparkSession, state_path: str) -> DataFrame | None:
    """None means NO ledger exists; an unreadable ledger RAISES. Conflating
    the two (a bare except) would silently reset version to 0, overwrite
    snapshot_v1 with batch-only state, and mark the batch applied — silent
    data loss. A torn ledger (crash mid-append) is a stop-the-line event
    that needs an operator, not a quiet restart."""
    path = os.path.join(state_path, "applied")
    if not os.path.exists(path):
        return None
    try:
        return spark.read.schema(LEDGER_SCHEMA).parquet(path)
    except Exception as e:
        raise RuntimeError(
            f"rollup ledger at {path} exists but is unreadable — refusing to "
            f"treat it as version 0 (would orphan all applied batches): {e}"
        ) from e


def _newest() -> tuple:
    """Aggregates naming the ledger's newest version and the row count its
    snapshot was committed with."""
    return F.max("version"), F.max_by("n_state_rows", "version")


def ledger_head(spark: SparkSession, state_path: str) -> tuple[int, int]:
    """(version, n_state_rows) of the newest committed snapshot, read from
    the ledger alone; (0, 0) with no ledger."""
    led = read_ledger(spark, state_path)
    if led is None:
        return 0, 0
    v, n = led.agg(*_newest()).collect()[0]
    return int(v or 0), int(n or 0)


def current_version(spark: SparkSession, state_path: str) -> int:
    return ledger_head(spark, state_path)[0]


def latest_snapshot(spark: SparkSession, state_path: str) -> DataFrame | None:
    v = current_version(spark, state_path)
    if v == 0:
        return None
    return spark.read.parquet(os.path.join(state_path, f"snapshot_v{v}"))


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    batch_id: str,
    scale: int = 6,
) -> dict:
    """Apply one batch to the state: snapshot N+1 = merge(snapshot N,
    state(batch)). Idempotent on batch_id; commit = the ledger append."""
    from ..operators import incremental_agg as ia
    from ..operators.publish import check_or_write_config, read_stamp

    t0 = time.time()
    os.makedirs(state_path, exist_ok=True)
    cfg_base = os.path.join(state_path, "rollup")
    cfg = {"keys": keys, "value": value_col, "scale": scale}
    # fail fast on drift against an EXISTING config, but don't record a new
    # one until the first successful commit — a typo'd first run must not
    # poison the state dir with a config that then rejects the corrected run
    if read_stamp(cfg_base) is not None:
        check_or_write_config(cfg_base, cfg)

    led = read_ledger(spark, state_path)
    version, n_state, applied = 0, 0, set()
    if led is not None:
        v, n, ids = led.agg(*_newest(), F.collect_set("batch_id")).collect()[0]
        version, n_state, applied = int(v or 0), int(n or 0), set(ids or [])

    if batch_id in applied:
        # the ledger row recorded the snapshot's row count at its commit
        return {
            "batch_id": batch_id, "skipped": True, "version": version,
            "n_state_rows": n_state, "batch_rows": 0,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    # localCheckpoint: the batch scan runs ONCE to materialize the
    # key-cardinality-sized state; batch_rows then derives from it
    # (sum of per-key n) instead of a second data-sized count() pass
    state = ia.rollup_state(
        batch.select(*keys, value_col), keys, value_col, scale
    ).localCheckpoint()
    batch_rows = int(state.agg(F.sum("n")).collect()[0][0] or 0)
    if version > 0:
        prev = spark.read.parquet(os.path.join(state_path, f"snapshot_v{version}"))
        state = ia.merge_states(prev, state)
    new_version = version + 1
    snap_path = os.path.join(state_path, f"snapshot_v{new_version}")
    # overwrite: an orphan dir from a crash before the ledger commit is
    # rewritten with the identical deterministic content; the row count is
    # observed on the write, not read back
    n_state = write_counted(state, lambda df: df.write.mode("overwrite").parquet(snap_path))
    wall_ms = int((time.time() - t0) * 1000)
    check_or_write_config(cfg_base, cfg)  # first commit records the config
    append_rows(
        spark, os.path.join(state_path, "applied"),
        [(batch_id, new_version, n_state, batch_rows, wall_ms,
          datetime.datetime.now(datetime.timezone.utc))],
        LEDGER_SCHEMA,
    )
    return {
        "batch_id": batch_id, "skipped": False, "version": new_version,
        "n_state_rows": n_state, "batch_rows": batch_rows,
        "wall_ms": wall_ms,
    }


def is_applied(spark: SparkSession, state_path: str, batch_id: str) -> bool:
    """Ledger membership check — consult BEFORE loading the batch input,
    so a duplicate re-run stays a true no-op even when its input has since
    been retired by upstream retention."""
    led = read_ledger(spark, state_path)
    if led is None:
        return False
    return led.filter(F.col("batch_id") == batch_id).limit(1).count() > 0


def expire_snapshots(state_path: str, version: int, retain_last: int) -> list[int]:
    """Delete committed snapshot versions beyond ``retain_last`` (only the
    latest is ever read; older versions are a rollback window). The ledger
    — the audit trail — is never pruned. ``retain_last`` must be >= 1:
    the latest snapshot IS the state, so 'retain nothing' is not a valid
    retention policy (raising beats silently keeping everything)."""
    import shutil

    if retain_last < 1:
        raise ValueError(
            f"retain_last must be >= 1 (the latest snapshot is the state), "
            f"got {retain_last}"
        )
    expired = []
    for v in range(1, version - retain_last + 1):
        p = os.path.join(state_path, f"snapshot_v{v}")
        if os.path.exists(p):
            shutil.rmtree(p)
            expired.append(v)
    return expired
