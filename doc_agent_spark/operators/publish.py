"""Dataset publish: sharded JSONL export with a checksummed manifest.

The final stage of the training-data pipeline (extract → curate → pack →
PUBLISH): ship the dataset as deterministic shards plus a manifest that
makes the export *verifiable* — per shard the row count, byte count, and
an order-independent content checksum any engine (or a downstream
consumer with no Spark at all) can recompute. The reference's JSON export
path (packages/cli/src/commands/extract.ts:229-246, `--dry-run` printing
the extraction result as JSON) is the single-document toy of this; at
10^12 documents "export" means shards + manifest + commit marker.

Scale shape:

- **Shard assignment is a content hash of the key** (packing.shard_of):
  the shard set and every shard's membership are layout/cluster-size
  invariant, so the manifest is reproducible from any replica of the
  table at any parallelism — the property the round's cross-parallelism
  determinism suite pins for every deliverable.
- **The checksum is a SUM of per-row 60-bit md5 digests** carried as
  decimal: commutative and associative, so map-side partials merge
  without any ordering — ONE hash aggregate, no per-shard sort, no
  collect_list of row hashes riding the shuffle. 38 digits hold
  10^12 rows × 2^60 with an order of magnitude to spare. A corrupted,
  dropped, duplicated, or foreign row moves the sum (md5 scatters rows
  uniformly over 2^60, so independent errors cancel with probability
  ~2^-60); a reordered shard does NOT — exports are order-free sets.
- **Bytes price the export without re-reading written files**:
  sum(octet_length(line)) over the same aggregate.

Engine portability: DuckDB computes the identical digest sum via
``CAST('0x' || substr(md5(line),1,15) AS BIGINT)`` summed into a
DECIMAL(38,0) — the gate arm in `__spark_entry__.file_meta` checks the
manifest value-for-value.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doc_agent_spark.operators.packing import shard_of


def json_line(*cols: str) -> Column:
    """The publish serialization: one JSON object per row with EVERY column
    always present (``ignoreNullFields=false`` — Spark's default silently
    DROPS null fields, which both breaks field-set stability across rows
    and diverges from engines that emit explicit nulls: DuckDB's
    to_json(struct_pack(...)) writes ``"k":null``, so checksum parity
    requires the explicit form). Callers (jobs/publish.py,
    streaming.publish_stream, the file_meta gate arm, tests) share this
    helper so the byte contract has one definition."""
    return F.to_json(
        F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "false"}
    )


def row_digest(line: Column) -> Column:
    """First 15 md5 hex chars of the serialized row as a 60-bit integer,
    widened to decimal(28,0) so a shard-level SUM (→ decimal(38,0)) holds
    10^12 rows without overflow."""
    return F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("decimal(28,0)")


def manifest_agg(df: DataFrame, shard_col: str = "shard", line_col: str = "line") -> DataFrame:
    """The manifest aggregate over a frame that already carries its shard
    column — one hash aggregate; partial aggregation happens map-side, so
    the only shuffled payload is 3 numbers per (task, shard)."""
    return (
        df.select(
            F.col(shard_col).alias("shard"),
            F.octet_length(F.col(line_col)).cast("long").alias("_b"),
            row_digest(F.col(line_col)).alias("_d"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_b").alias("n_bytes"),
            F.sum("_d").cast("decimal(38,0)").alias("checksum"),
        )
    )


def shard_manifest(
    df: DataFrame,
    line_col: str = "line",
    key_col: str = "doc_id",
    n_shards: int = 64,
    seed: str = "publish42",
) -> DataFrame:
    """(shard, n_rows, n_bytes, checksum): assign the content-hash shard,
    then :func:`manifest_agg`."""
    return manifest_agg(
        df.select(
            shard_of(F.col(key_col), n_shards, seed).alias("shard"),
            F.col(line_col),
        ),
        shard_col="shard",
        line_col=line_col,
    )


def shard_manifest_sql(
    source_sql: str,
    line_expr: str,
    key_expr: str,
    n_shards: int = 64,
    seed: str = "publish42",
) -> str:
    """DuckDB mirror of :func:`shard_manifest` — same hash, same shard
    assignment (shared with pack_chunks_sql), same digest arithmetic."""
    oh = f"substr(md5('{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 8)"
    return f"""
SELECT CAST(CAST('0x' || {oh} AS BIGINT) % {n_shards} AS INTEGER) AS shard,
       count(*) AS n_rows,
       CAST(sum(strlen({line_expr})) AS BIGINT) AS n_bytes,
       CAST(sum(CAST('0x' || substr(md5({line_expr}), 1, 15) AS BIGINT))
            AS DECIMAL(38,0)) AS checksum
FROM ({source_sql})
GROUP BY 1
""".strip()


def verify_shards(
    spark,
    shards_path: str,
    manifest: DataFrame,
    line_col: str = "value",
) -> DataFrame:
    """Re-checksum WRITTEN shard files against the manifest: reads the
    published text shards back (`spark.read.text` preserves lines
    byte-for-byte; partition discovery on the shards root yields each
    line's ``shard``), recomputes (n_rows, n_bytes, checksum) per shard
    directory, and full-outer-joins the manifest — one row per shard with
    an ``ok`` verdict. A shard present on disk but absent from the
    manifest (or vice versa) surfaces as ok=false rather than vanishing
    in an inner join. Audit cost = one scan of the published bytes and a
    shuffle join with the metadata-sized manifest (a full outer join
    cannot broadcast either side)."""
    read_back = (
        spark.read.text(shards_path)
        .withColumn("shard", F.col("shard").cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rb_rows"),
            F.sum(F.octet_length(line_col).cast("long")).alias("rb_bytes"),
            F.sum(row_digest(F.col(line_col))).cast("decimal(38,0)").alias("rb_checksum"),
        )
    )
    return (
        read_back.join(manifest, "shard", "full_outer")
        .select(
            "shard", "n_rows", "n_bytes", "checksum",
            "rb_rows", "rb_bytes", "rb_checksum",
            (
                F.coalesce(F.col("rb_rows") == F.col("n_rows"), F.lit(False))
                & F.coalesce(F.col("rb_bytes") == F.col("n_bytes"), F.lit(False))
                & F.coalesce(F.col("rb_checksum") == F.col("checksum"), F.lit(False))
            ).alias("ok"),
        )
    )


def read_stamp(path: str) -> dict | None:
    """The config recorded beside ``path``, None when there is none. A
    legacy ``<path>_params.json`` (curate's old stamp name) is read when
    no ``_config.json`` exists, so such an artifact keeps its guard."""
    base = path.rstrip("/")
    for stamp in (base + "_config.json", base + "_params.json"):
        if os.path.exists(stamp):
            with open(stamp) as fh:
                return json.load(fh)
    return None


def write_stamp(path: str, cfg: dict) -> None:
    """Record ``cfg`` beside ``path`` through a per-thread tmp file and
    ``os.replace``: a crash mid-write leaves no truncated stamp."""
    stamp = path.rstrip("/") + "_config.json"
    tmp = f"{stamp}.tmp-{os.getpid()}-{threading.get_ident()}"
    try:
        with open(tmp, "w") as fh:
            json.dump(cfg, fh)
        os.replace(tmp, stamp)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def check_or_write_config(output_path: str, cfg: dict) -> None:
    """Config identity guard of every stamped output, first shared by
    jobs/publish.py and streaming.publish_stream: shards/columns/seed/key
    define both the doc→shard mapping and the serialized bytes, so batch
    and stream touching the SAME output under different configs silently
    produces an unverifiable mix. First writer records the config beside
    the output; every later writer must match or fail fast."""
    prev = read_stamp(output_path)
    if prev is None:
        write_stamp(output_path, cfg)
    elif prev != cfg:
        raise ValueError(
            f"config mismatch for {output_path}: a stale artifact was "
            f"written with {prev}, this writer asked for {cfg}; use a new "
            "output path for a new config"
        )
