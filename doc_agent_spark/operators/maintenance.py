"""Table-maintenance planning: small-file compaction grouping.

The 100 TB operational reality behind it: a streaming/micro-batch writer
(streaming/pipeline.py, jobs/curate.py resume re-runs) leaves thousands of
small files per partition; scan throughput then dies on per-file open cost
and the driver dies on manifest bloat. Iceberg's maintenance action
(rewrite_data_files a.k.a. binpack) plans GROUPS of small files whose
combined size ≈ the target file size and rewrites each group as one file.

This module implements the PLANNER as a deterministic relational job over
the file manifest — which is exactly how it should run at scale: the
manifest is metadata (O(files), millions of rows at 10^12 data rows), so
the plan is a metadata-sized window job, never a data scan. The rewrite
itself is then embarrassingly parallel per group (read group, write one
file), and the plan's determinism makes the rewrite idempotently
resumable with the same per-bucket lineage contract as jobs/extract.py.

Grouping rule (sequential cumulative binning, the binpack strategy):
within each partition, order compaction-eligible files (bytes < target)
by file id, run a cumulative byte total, and cut a new group every time
the RUNNING TOTAL BEFORE the file crosses a multiple of the target:
``group = floor((cumsum - bytes) / target)``. Groups approximate the
target size while staying a pure window expression — no iterative
first-fit state, so the DuckDB oracle reproduces the plan bit-for-bit
and two planner runs over the same manifest agree (the idempotence the
rewrite's resume depends on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def plan_compaction(
    manifest: DataFrame,
    target_bytes: int,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Compaction plan: ``(partition, file_id, bytes, group_id)`` for every
    compaction-eligible file (bytes < target and not alone in its
    partition). Files >= target pass (already right-sized), as does a
    partition's single small file (rewriting one file buys nothing).

    The window partitions by table partition — manifests are metadata-
    sized, and group output is bounded by file count, so there is no skew
    cliff here even when the data itself is skewed."""
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    small = manifest.filter(F.col(bytes_col) < target_bytes).select(
        F.col(partition_col).alias("partition"),
        F.col(file_col).alias("file_id"),
        F.col(bytes_col).alias("bytes"),
    )
    w = Window.partitionBy("partition").orderBy("file_id")
    planned = (
        small.withColumn("_cum", F.sum("bytes").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("partition")))
        .filter(F.col("_n") > 1)
        .select(
            "partition", "file_id", "bytes",
            F.floor((F.col("_cum") - F.col("bytes")) / target_bytes)
            .cast("long").alias("group_id"),
        )
    )
    return planned


def plan_compaction_sql(
    table: str,
    target_bytes: int,
    partition_expr: str = "partition",
    file_expr: str = "file_id",
    bytes_expr: str = "bytes",
) -> str:
    """DuckDB mirror of :func:`plan_compaction`."""
    return f"""
SELECT partition, file_id, bytes,
       CAST(floor((cum - bytes) / {target_bytes}) AS BIGINT) AS group_id
FROM (
  SELECT {partition_expr} AS partition, {file_expr} AS file_id,
         {bytes_expr} AS bytes,
         sum({bytes_expr}) OVER (PARTITION BY {partition_expr}
                                 ORDER BY {file_expr}) AS cum,
         count(*) OVER (PARTITION BY {partition_expr}) AS n
  FROM {table}
  WHERE {bytes_expr} < {target_bytes})
WHERE n > 1
""".strip()


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-scan column profile — the ANALYZE-statistics pass every
    optimizer feeds on: per column ``(col_name, n_nonnull, n_distinct,
    avg_len)``.

    One aggregation over the whole table computes every column's stats
    together (Catalyst plans the multi-distinct via Expand: still ONE scan,
    one shuffle of partial aggregates), then an unpivot reshapes to a row
    per column. At 100 TB this is the stats job you schedule after big
    writes; exact distinct counts are right for planner stats at moderate
    cardinality — swap the KMV sketch (operators/sketches.py) per column
    when a column's cardinality rivals the corpus.

    avg_len is rounded to 6 decimals: an exact-integer sum divided by an
    exact count, so cross-engine drift is confined to the division — the
    repo's standard oracle tolerance discipline."""
    aggs = []
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            F.countDistinct(F.col(c)).alias(f"__d_{c}"),
            F.round(F.avg(F.length(s)), 6).alias(f"__l_{c}"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __n_{c}, CAST(__d_{c} AS DOUBLE), __l_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col_name, n_nonnull, n_distinct, avg_len)"
        )
    )


def profile_table_sql(table: str, cols: list[str]) -> str:
    """DuckDB mirror of :func:`profile_table`."""
    parts = [
        f"""SELECT '{c}' AS col_name, count({c}) AS n_nonnull,
        CAST(count(DISTINCT {c}) AS DOUBLE) AS n_distinct,
        round(avg(length(CAST({c} AS VARCHAR))), 6) AS avg_len FROM {table}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# Z-order data layout (multi-dimensional clustering for scan pruning)
# ---------------------------------------------------------------------------

# magic-number bit spread (Warren, Hacker's Delight §7-2): 16 bits fan out
# to even positions of a 32-bit word in 4 shift-or-mask steps instead of 16
# per-bit extracts — pure integer algebra, identical in DuckDB.
_SPREAD_STEPS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _spread16(c: Column) -> Column:
    c = c.bitwiseAND(F.lit(0xFFFF)).cast("long")
    for sh, mask in _SPREAD_STEPS:
        c = (c.bitwiseOR(F.shiftleft(c, sh))).bitwiseAND(F.lit(mask))
    return c


def zorder_key(x: Column, y: Column) -> Column:
    """Morton/Z-value of two 16-bit dimensions: bit i of ``x`` lands at
    position 2i, of ``y`` at 2i+1 (higher dims = spread again with stride
    k). Sorting/range-partitioning by this key co-locates rows that are
    close in BOTH dimensions, so per-file min/max stats prune scans on
    EITHER predicate — the OPTIMIZE ZORDER layout job at 100 TB, where a
    sort key can only serve one column but a Z-curve serves the whole
    filter family. Inputs are truncated to their low 16 bits (callers
    bucket/scale real values first)."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def zorder_sql(x: str, y: str) -> str:
    """DuckDB mirror of :func:`zorder_key` (same spread steps)."""
    def spread(e: str) -> str:
        e = f"(CAST({e} AS BIGINT) & 65535)"
        for sh, mask in _SPREAD_STEPS:
            e = f"(({e} | ({e} << {sh})) & {mask})"
        return e
    return f"({spread(x)} | ({spread(y)} << 1))"


def cluster_by_zorder(
    df: DataFrame, x: str, y: str, n_files: int = 64
) -> DataFrame:
    """The layout REWRITE: range-partition on the Z-value (one global
    sample-based range exchange — the same machinery as a global sort) and
    sort within each output file. Each of the ``n_files`` outputs then
    covers a compact Z-interval ⇒ a small bounding box in (x, y), which is
    what makes the file-level min/max stats selective. Deterministic given
    the input (ties broken by the key itself)."""
    z = zorder_key(F.col(x), F.col(y)).alias("__z")
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def plan_snapshot_expiry(
    snapshots: DataFrame,
    cutoff_ts,
    retain_last: int = 3,
    id_col: str = "snapshot_id",
    ts_col: str = "committed_at",
) -> DataFrame:
    """Snapshot-retention plan (Iceberg ``expire_snapshots`` semantics):
    a snapshot expires iff it is older than ``cutoff_ts`` AND not among
    the ``retain_last`` most recent — both conditions, so history never
    shrinks below retain_last and recent snapshots survive regardless of
    count. Returns every snapshot with its recency rank and an
    ``expire`` flag (the keep set is as load-bearing as the expire set:
    it is what the orphan scan must treat as live).

    The snapshot log is metadata-sized (one row per commit), so the
    single unpartitioned window is bounded by commit count, not data —
    the same metadata-not-data discipline as plan_compaction. Ties on
    committed_at break by snapshot_id DESC (newer id = more recent), so
    the plan is total-ordered and idempotent across runs."""
    w = Window.orderBy(F.desc(ts_col), F.desc(id_col))
    return snapshots.select(
        F.col(id_col).alias("snapshot_id"),
        F.col(ts_col).alias("committed_at"),
    ).withColumn("recency", F.row_number().over(w)).withColumn(
        "expire",
        (F.col("committed_at") < cutoff_ts) & (F.col("recency") > retain_last),
    )


def plan_snapshot_expiry_sql(
    table: str,
    cutoff_expr: str,
    retain_last: int = 3,
    id_expr: str = "snapshot_id",
    ts_expr: str = "committed_at",
) -> str:
    """DuckDB mirror of :func:`plan_snapshot_expiry`."""
    return f"""
SELECT snapshot_id, committed_at, recency,
       committed_at < {cutoff_expr} AND recency > {retain_last} AS expire
FROM (
  SELECT {id_expr} AS snapshot_id, {ts_expr} AS committed_at,
         CAST(row_number() OVER (ORDER BY {ts_expr} DESC, {id_expr} DESC)
              AS INTEGER) AS recency
  FROM {table})
""".strip()


def orphan_files(
    manifest: DataFrame,
    live_refs: DataFrame,
    file_col: str = "file_id",
) -> DataFrame:
    """Orphan-file scan: files present in the storage listing but
    referenced by NO live snapshot — the delete list after an expiry.
    live_refs (the union of kept snapshots' file references) is
    metadata-sized, so the anti-join broadcasts it; the listing side
    streams through map-side. Returns the orphan rows of ``manifest``."""
    refs = live_refs.select(F.col(file_col).alias("_ref")).distinct()
    return manifest.join(
        F.broadcast(refs), manifest[file_col] == F.col("_ref"), "left_anti"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — classify every doc as ``added`` / ``removed``
    / ``changed`` between two crawl snapshots (the reference's upsert
    resets status='pending' on path_hash conflict, storage/src/index.ts:
    29-54; this is that CDC surface generalized to whole-snapshot
    reconciliation). Unchanged docs are dropped inside the join —
    at web scale they are the overwhelming majority and never reach the
    output (or any later stage).

    Scale shape: each side is projected to (id, md5 fingerprint) BEFORE
    the full-outer join, so content never shuffles — the join carries
    32-byte keys + 32-byte digests, hash-partitioned on id. The
    fingerprint comparison is null-safe on both sides.
    """
    o = old.select(F.col(id_col).alias("id"), F.md5(fp_col).alias("h_old"))
    n = new.select(F.col(id_col).alias("id"), F.md5(fp_col).alias("h_new"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return (
        j.select("id", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


# ---------------------------------------------------------------------------
# Distribution drift (PSI) — the data-QA gate between crawl snapshots
# ---------------------------------------------------------------------------

def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_buckets: int = 16,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Population Stability Index between a reference snapshot and the
    current batch — the standard drift alarm a training-data pipeline runs
    on its quality/length/score columns before letting a new crawl into
    the mix (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 investigate).

    Fixed-width buckets over ``[lo, hi)`` (out-of-range clamps to the edge
    buckets) rather than quantile breaks: fixed breaks are deterministic,
    cross-engine exact, and — the operational point — MERGEABLE, so the
    reference histogram is a tiny persisted artifact (B rows) computed
    once per snapshot, never recomputed against history. Each side
    reduces to B partial counts map-side (one hash aggregation each);
    everything after is model-sized: a dense bucket frame left-joins both
    count sets so empty buckets participate, Laplace-smoothed shares
    p=(n+0.5)/(N+B/2) keep ln finite, contribution=(q-p)*ln(q/p).

    Returns one row per bucket: (bucket, n_ref, n_cur, psi_contrib);
    total PSI = sum(psi_contrib). All double arithmetic is written in the
    same operation order as :func:`psi_drift_sql` so both engines agree
    bit-for-bit before the caller's rounding."""
    if hi <= lo:
        raise ValueError(f"psi_drift needs lo < hi, got [{lo}, {hi})")
    width = hi - lo
    half_b = n_buckets * 0.5

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width) * n_buckets)
        b = F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b)).cast("int")
        return df.select(b.alias("bucket")).groupBy("bucket").agg(
            F.count("*").alias(out)
        )

    frame = ref.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    r, c = bucketed(ref, "n_ref"), bucketed(cur, "n_cur")
    j = (
        frame.join(r, "bucket", "left")
        .join(c, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = j.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p = (F.col("n_ref") + F.lit(0.5)) / (F.col("t_ref") + F.lit(half_b))
    q = (F.col("n_cur") + F.lit(0.5)) / (F.col("t_cur") + F.lit(half_b))
    return (
        j.crossJoin(F.broadcast(tot))
        .select("bucket", "n_ref", "n_cur", ((q - p) * F.log(q / p)).alias("psi_contrib"))
    )


def psi_drift_sql(
    ref_sql: str,
    cur_sql: str,
    value_expr: str,
    n_buckets: int = 16,
    lo: float = 0.0,
    hi: float = 1.0,
) -> str:
    """DuckDB mirror of :func:`psi_drift` (ref_sql/cur_sql are SELECTs)."""
    width = hi - lo
    half_b = n_buckets * 0.5

    def bucketed(src: str, out: str) -> str:
        return f"""
SELECT CAST(least({n_buckets - 1}, greatest(0,
         floor(({value_expr} - {lo}) / {width!r} * {n_buckets}))) AS INTEGER)
         AS bucket, count(*) AS {out}
FROM ({src}) GROUP BY 1"""

    return f"""
WITH frame AS (SELECT CAST(range AS INTEGER) AS bucket FROM range({n_buckets})),
rc AS ({bucketed(ref_sql, "n_ref")}),
cc AS ({bucketed(cur_sql, "n_cur")}),
j AS (
  SELECT frame.bucket,
         CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
         CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
  FROM frame LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)),
tot AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS t_ref,
               CAST(sum(n_cur) AS DOUBLE) AS t_cur FROM j)
SELECT bucket, n_ref, n_cur,
       ((n_cur + 0.5) / (t_cur + {half_b}) - (n_ref + 0.5) / (t_ref + {half_b}))
       * ln(((n_cur + 0.5) / (t_cur + {half_b})) / ((n_ref + 0.5) / (t_ref + {half_b})))
       AS psi_contrib
FROM j, tot
"""


# ---------------------------------------------------------------------------
# Zone maps (per-file min/max statistics) + predicate file skipping
# ---------------------------------------------------------------------------

def zone_map(df: DataFrame, file_col: str, value_cols: list[str]) -> DataFrame:
    """Per-file min/max/count zone maps — the data-skipping statistics a
    lakehouse scan planner reads INSTEAD of the data (Parquet row-group
    stats / Iceberg manifest field bounds, materialized as a queryable
    table). One hash aggregation, map-side partial, output sized by the
    file count — at 100 TB the zone-map table is ~10^6 rows describing
    10^12, and every range predicate consults it before touching storage.

    min/max are exact lattice ops (mergeable: re-aggregating unions of
    files gives coarser zones), n_<col> counts non-nulls so an
    all-null-column file is distinguishable from an empty one."""
    aggs = [F.count("*").alias("n_rows")]
    for c in value_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.count(c).alias(f"n_{c}"),
        ]
    return df.groupBy(file_col).agg(*aggs)


def prune_files(
    zmap: DataFrame, file_col: str, col: str, lo, hi
) -> DataFrame:
    """Evaluate a range predicate ``col BETWEEN lo AND hi`` against the
    zone maps: ``scan`` is true only for files whose [min, max] interval
    overlaps [lo, hi]. A file with NULL bounds (every value null) cannot
    satisfy a range predicate — SQL comparison semantics — so it is
    skipped; the conservative direction (never skip a file that could
    match) is guaranteed because min/max bound every non-null value.

    Returns (file, n_rows, scan) — sum(n_rows WHERE scan) / sum(n_rows)
    is the scan fraction the predicate actually pays."""
    mn, mx = F.col(f"min_{col}"), F.col(f"max_{col}")
    scan = F.coalesce((mx >= F.lit(lo)) & (mn <= F.lit(hi)), F.lit(False))
    return zmap.select(file_col, "n_rows", scan.alias("scan"))


def zone_map_sql(src: str, file_expr: str, value_cols: list[str]) -> str:
    """DuckDB mirror of :func:`zone_map` over a SELECT ``src``."""
    stats = ", ".join(
        f"min({c}) AS min_{c}, max({c}) AS max_{c}, count({c}) AS n_{c}"
        for c in value_cols
    )
    return f"""
SELECT {file_expr} AS file_id, count(*) AS n_rows, {stats}
FROM ({src}) GROUP BY 1"""
