"""Checkpoint-resumable incremental rollup maintenance job — keep a
persisted aggregation snapshot current against arriving batches without
ever re-scanning history (operators/incremental_agg.py lifted to a
deployable stage, the batch analog of a Structured Streaming aggregation's
state store).

    spark-submit --py-files dist.zip jobs/rollup.py \\
        --input /landing/events_2026_08_20.parquet \\
        --state /warehouse/rollups/events_hourly \\
        --keys event_type,hour_of_day --value value \\
        --batch-id 2026-08-20 [--serve /warehouse/serving/events_hourly]

The apply/merge core lives in doc_agent_spark/sinks/rollup_state.py and is
SHARED with streaming.pipeline.rollup_stream — batch days and streaming
epochs maintain the same state directory under the same ledger protocol
(see that module's docstring for the snapshot/ledger/commit-point model,
idempotency, crash roll-forward, config identity, and the single-writer
contract). This wrapper adds: input loading, snapshot retention
(--retain-last; the expire_snapshots discipline applied to the job's own
state), and the --serve zero-shuffle finalize of the latest snapshot.

At 10^12 rows: the batch agg is the only data-sized stage (map-side
partial combine, one exchange on the keys); the merge joins two
key-cardinality-sized tables; a key explosion (e.g. a high-cardinality
accident in the key list) shows up as state growth in the ledger's
n_state_rows column — the operational early-warning this job exists for.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from doc_agent_spark.sinks import rollup_state as rs
from doc_agent_spark.sources.tables import read_input

# re-exported for tests / callers
LEDGER_SCHEMA = rs.LEDGER_SCHEMA
current_version = rs.current_version


def run_rollup(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    keys: list[str],
    value_col: str,
    batch_id: str,
    scale: int = 6,
    serve_path: str | None = None,
    retain_last: int = 2,
) -> dict:
    from doc_agent_spark.operators import incremental_agg as ia

    t0 = time.time()
    # consult the ledger BEFORE loading the input: a duplicate re-run is a
    # true no-op even if the batch's input has since been retired, and a
    # no-op never mutates state (no snapshot expiry under the re-run's
    # possibly-different retain_last)
    if rs.is_applied(spark, state_path, batch_id):
        version, n_state = rs.ledger_head(spark, state_path)
        out = {
            "batch_id": batch_id, "skipped": True, "version": version,
            "n_state_rows": n_state, "batch_rows": 0,
            "expired_versions": [],
        }
    else:
        batch = read_input(spark, input_path)
        out = rs.apply_batch(spark, batch, state_path, keys, value_col, batch_id, scale)
        version = out["version"]
        out["expired_versions"] = rs.expire_snapshots(state_path, version, retain_last)

    if serve_path and version > 0:
        snap = spark.read.parquet(os.path.join(state_path, f"snapshot_v{version}"))
        ia.finalize(snap, scale=scale).write.mode("overwrite").parquet(serve_path)

    out["wall_ms"] = int((time.time() - t0) * 1000)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--keys", required=True, help="comma-separated key columns")
    ap.add_argument("--value", required=True)
    ap.add_argument("--batch-id", required=True)
    ap.add_argument("--scale", type=int, default=6)
    ap.add_argument("--serve", default=None)
    ap.add_argument("--retain-last", type=int, default=2,
                    help="committed snapshot versions to keep (ledger never pruned)")
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    spark = SparkSession.builder.appName(f"rollup-{args.batch_id}").getOrCreate()
    ship_package(spark)
    out = run_rollup(
        spark,
        input_path=args.input,
        state_path=args.state,
        keys=args.keys.split(","),
        value_col=args.value,
        batch_id=args.batch_id,
        scale=args.scale,
        serve_path=args.serve,
        retain_last=args.retain_last,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
