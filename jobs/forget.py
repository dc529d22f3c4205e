"""Targeted-deletion propagation job (right-to-be-forgotten): remove a
drop list of document ids from EVERY id-bearing serving artifact the
index job committed, verify zero remnants, and record a completion
marker — immediate compliance without waiting for the next full index
rebuild.

    spark-submit --py-files dist.zip jobs/forget.py \\
        --index /warehouse/idx --drop /requests/forget_2026_08.parquet \\
        [--bloom-min 100000]

What gets rewritten (all keyed on the artifacts' ``id`` column; the drop
input's FIRST column is renamed to ``id``, whatever it was called):
``embeddings``, ``minhash_bands``, ``sq_codes``, ``bm25_postings``,
``bm25_docstats`` — each via a TEMP-AND-SWAP (write the filtered copy to
a sibling dir, two-rename roll-forward, same discipline as the upsert
sink's parquet fallback), so a crash mid-write never truncates the only
copy and a re-run repairs any intermediate state — and ``ivf_cells`` via
AFFECTED-PARTITIONS-ONLY dynamic overwrite: dropped ids are assigned to
their cells first, and only those cell partitions rewrite (a cell whose
rows were ALL dropped gets its directory removed explicitly — dynamic
overwrite only replaces partitions present in the output). The partial
rewrite's narrower crash window is covered by a cells-vs-embeddings
cardinality cross-check folded into the verification: survivor loss in a
torn partition commit surfaces as clean=false with a rebuild hint
instead of a silent hole.

``bm25_corpus`` (n, avgdl) is a derived aggregate and is RECOMPUTED from
the filtered docstats — serving scores stay consistent with the
surviving corpus (for an emptied index avgdl coalesces to 0.0; it is
never consulted, since scoring joins the then-empty postings). Model-
statistics artifacts (``ivf_codebook``, ``sq_stats``) are unchanged:
they hold aggregate geometry, not records; the residual statistical
influence of dropped docs persists until the next scheduled rebuild
(documented limitation — same posture as Parquet zone maps after row
deletion).

Drop-list application is ``plans/runtime_filter.drop_list_anti_join``,
the policy jobs/curate.py and jobs/frontier.py use too: a plain anti join
below ``--bloom-min`` (no broadcast hint — AQE decides), the Bloom-reduced
anti join above it with the filter sized ~10 bits/key from the exact count
(2^30-bit cap; <4 bits/key falls back to plain).
Verification semi-joins follow the same small-list-broadcast /
big-list-AQE switch — a mass deletion never forces a broadcast OOM.

Markers (``_FORGOTTEN``, the ivf_cells ``_SUCCESS`` re-touch) are local-
filesystem writes, skipped with a result-field note on scheme-qualified
paths (hdfs://, s3a://) — the remnant report in the job output is the
portable completion signal there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PLAIN_ARTIFACTS = (
    "embeddings", "minhash_bands", "sq_codes", "bm25_postings", "bm25_docstats",
)


def _is_local(path: str) -> bool:
    return "://" not in path


def _semi(df: DataFrame, drops: DataFrame, n_drops: int, bloom_min: int) -> DataFrame:
    """Remnant/affected-cell lookups: broadcast only when the list is
    small; a mass deletion must not force-broadcast past AQE's judgment."""
    right = F.broadcast(drops) if n_drops < bloom_min else drops
    return df.join(right, "id", "left_semi")


def _roll_forward(path: str) -> None:
    """Repair a half-swap (live dir missing, committed tmp present) left
    by a crash between _swap_in's two renames. Must run before ANY read
    of the artifact."""
    tmp = path + "_forget_tmp"
    if not os.path.exists(path) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)


def _swap_in(spark: SparkSession, path: str, build) -> None:
    """Crash-safe artifact replacement: write the filtered copy to a temp
    sibling, then two-rename roll-forward (tmp → live, old kept until the
    swap completes). Any crash state is repaired by re-running: a stale
    tmp is rebuilt, a half-swap (live missing, committed tmp present)
    rolls forward before the rebuild."""
    tmp, old = path + "_forget_tmp", path + "_forget_old"
    _roll_forward(path)
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    build().write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def run_forget(
    spark: SparkSession,
    index_path: str,
    drop_df: DataFrame,
    bloom_min: int = 100_000,
) -> dict:
    from doc_agent_spark.plans.runtime_filter import drop_list_anti_join

    t0 = time.time()
    drops = drop_df.select(F.col(drop_df.columns[0]).alias("id")).distinct()
    drops = drops.localCheckpoint()  # one pass; reused by every artifact
    n_drops = drops.count()
    removed: dict[str, int] = {}
    remnants: dict[str, int] = {}

    for name in PLAIN_ARTIFACTS:
        p = os.path.join(index_path, name)
        _roll_forward(p)  # before ANY read: a half-swapped artifact heals first
        before = spark.read.parquet(p).count()
        _swap_in(
            spark, p,
            lambda p=p: drop_list_anti_join(spark.read.parquet(p), drops, "id",
                                            n_drops, bloom_min),
        )
        after = spark.read.parquet(p)
        removed[name] = before - after.count()
        remnants[name] = _semi(after, drops, n_drops, bloom_min).count()

    # ivf_cells: affected-partitions-only rewrite. The dropped ids' cells
    # come from the artifact itself (a semi join, partition-pruned by the
    # cell list at scale); only those cell partitions dynamic-overwrite,
    # and a cell emptied entirely is removed explicitly (dynamic overwrite
    # replaces only partitions PRESENT in the output).
    cells_path = os.path.join(index_path, "ivf_cells")
    cells = spark.read.parquet(cells_path)
    affected = sorted(
        r["cell"]
        for r in _semi(cells, drops, n_drops, bloom_min)
        .select("cell").distinct().collect()
    )
    if affected:
        slice_df = cells.filter(F.col("cell").isin(affected)).localCheckpoint()
        before = slice_df.count()
        kept = drop_list_anti_join(slice_df, drops, "id", n_drops, bloom_min).localCheckpoint()
        kept_cells = {r["cell"] for r in kept.select("cell").distinct().collect()}
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            kept.write.mode("overwrite").partitionBy("cell").parquet(cells_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        for cell in set(affected) - kept_cells:  # emptied cells: no output
            cdir = os.path.join(cells_path, f"cell={cell}")
            if _is_local(cells_path) and os.path.exists(cdir):
                shutil.rmtree(cdir)
        removed["ivf_cells"] = before - kept.count()
    else:
        removed["ivf_cells"] = 0

    cells_after = spark.read.parquet(cells_path)
    remnants["ivf_cells"] = _semi(cells_after, drops, n_drops, bloom_min).count()

    # bm25_corpus is a derived aggregate of docstats — recompute so (n,
    # avgdl) match the surviving corpus exactly; avgdl coalesces to 0.0
    # for an emptied index (never consulted: scoring joins empty postings)
    ds = spark.read.parquet(os.path.join(index_path, "bm25_docstats"))
    corpus_path = os.path.join(index_path, "bm25_corpus")
    _swap_in(
        spark, corpus_path,
        lambda: ds.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.avg("dl"), F.lit(0.0)).alias("avgdl"),
        ),
    )

    # torn-partition-commit detector for the ivf partial rewrite: every
    # surviving embedding id must appear exactly once in ivf_cells
    n_emb = spark.read.parquet(os.path.join(index_path, "embeddings")).count()
    n_cells = cells_after.count()
    consistent = n_cells == n_emb

    clean = all(v == 0 for v in remnants.values()) and consistent
    digest = drops.agg(
        F.sum(F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
              .cast("decimal(38,0)")).cast("string").alias("d")
    ).collect()[0]["d"]
    out = {
        "n_drops": n_drops,
        "removed": removed,
        "remnants": remnants,
        "cells_vs_embeddings_consistent": consistent,
        "clean": clean,
        "drop_digest": digest,
        "wall_ms": int((time.time() - t0) * 1000),
    }
    if not consistent:
        out["repair"] = (
            f"ivf_cells holds {n_cells} rows vs {n_emb} embeddings — torn "
            "partition commit; rebuild ivf_cells via jobs/index.py resume"
        )
    markers_local = _is_local(index_path)
    out["markers_written"] = markers_local
    if markers_local:
        # dynamic-mode commits emit no _SUCCESS (the jobs/index.py
        # session-4 lesson); re-touch it so the index job's committed-
        # artifact probe doesn't spuriously rebuild ivf_cells
        open(os.path.join(cells_path, "_SUCCESS"), "a").close()
        if clean:
            with open(os.path.join(index_path, "_FORGOTTEN"), "w") as fh:
                json.dump(out, fh)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True)
    ap.add_argument("--drop", required=True,
                    help="parquet path (first column = ids) or comma-separated ids")
    ap.add_argument("--bloom-min", type=int, default=100_000)
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    from doc_agent_spark.sinks.metrics import local_frame

    spark = SparkSession.builder.appName("forget").getOrCreate()
    ship_package(spark)
    if os.path.exists(args.drop):
        drop_df = spark.read.parquet(args.drop)
    else:
        ids = [s.strip() for s in args.drop.split(",") if s.strip()]
        try:
            rows = [(int(s),) for s in ids]
            drop_df = local_frame(spark, rows, "id long")
        except ValueError:
            drop_df = local_frame(spark, [(s,) for s in ids], "id string")
    out = run_forget(spark, args.index, drop_df, bloom_min=args.bloom_min)
    print(json.dumps(out))
    if not out["clean"]:
        sys.exit(4)


if __name__ == "__main__":
    main()
