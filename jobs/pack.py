"""Checkpoint-resumable packing job — the third deployable stage of the
training-data pipeline (extract → curate → PACK): assign every curated
document to a train/val/test split, then concat-and-chunk each split into
fixed-size token windows and write the slicing plan (and, optionally, the
materialized token windows).

    spark-submit --py-files dist.zip jobs/pack.py \\
        --input warehouse.curated --output warehouse.packed \\
        --lineage warehouse.lineage --metrics warehouse.metrics \\
        --run-id p42 --budget 2048 --shards 512 \\
        --splits train=0.9,val=0.05,test=0.05 --materialize

Resume model: the packing stream a document belongs to is a content hash
of its key (``packing.shard_of``), so shards are deterministic,
layout-independent units of work — each (split, shard) stream packs
independently of every other shard (operators/packing.py scale notes).
Output is dynamic-partition-overwritten per shard; one lineage row per
shard commits AFTER the output write (die between the writes ⇒ no lineage
row ⇒ the shard re-runs idempotently); a resume anti-joins completed
shards BEFORE any token counting. Lineage derives from the full input
shard set (not the written plan), so a shard whose docs are all
zero-token still gets its done row — the jobs/curate.py empty-bucket
lesson.

Window metrics ride the plan write as an Observation: every window has
exactly one slice at seq_offset 0, so `sum(seq_offset = 0)` counts
windows without a second distinct pass.

Config identity: --shards, --budget and --splits define the shard/window
mapping; lineage records neither, so REUSING an --output (or resuming a
--run-id) under a different mapping is undefined — dynamic overwrite
only replaces partitions the new run writes, leaving stale ones behind.
This run's processing filters to its own shard set (the materialize
semi-join below), but cross-config hygiene is: new config ⇒ new output
path + run id, same as jobs/extract.py.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def parse_splits(spec: str) -> dict[str, float]:
    """'train=0.9,val=0.05,test=0.05' → {'train': 0.9, ...}."""
    out = {}
    for part in spec.split(","):
        name, _, frac = part.partition("=")
        if not _:
            raise ValueError(f"bad split spec {part!r} (want name=fraction)")
        out[name.strip()] = float(frac)
    return out


def run_pack(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    metrics_path: str,
    run_id: str,
    budget: int = 2048,
    shards: int = 64,
    splits: dict[str, float] | None = None,
    materialize: bool = False,
    seed: str = "pack42",
    shuffle_windows: bool = False,
    shuffle_seed: str = "shuffle42",
    tokenizer: str = "bpe-ish",
    bpe_merges: int = 200,
    bpe_path: str | None = None,
) -> dict:
    from pyspark.sql import Observation

    from doc_agent_spark.functions import textfns
    from doc_agent_spark.operators import packing, sampling
    from doc_agent_spark.sinks.metrics import completed_partitions, local_frame

    t0 = time.time()
    materialize = materialize or shuffle_windows  # order needs the windows
    # the input is read (an eager schema inference, a Spark job) only by
    # work that needs its rows: a pending shard, merge training, the
    # shuffle pass — a full resume never touches it
    source = functools.cache(
        lambda: (spark.read.parquet(input_path) if "/" in input_path
                 else spark.read.table(input_path))
        .withColumn("shard", packing.shard_of(F.col("doc_id"), shards, seed))
    )

    if tokenizer == "bpe":
        # Learned-merge tokenizer: the merge table is a corpus statistic,
        # trained once per run on the FULL input (before any resume
        # filtering — a resumed run must tokenize identically) and
        # persisted; the vocabulary-sized count collect is the only
        # driver-side data movement (operators/tokenizer.py). A committed
        # table (sinks/ledger.readable) is reused.
        from doc_agent_spark.operators import tokenizer as tok
        from doc_agent_spark.sinks.ledger import readable

        mpath = bpe_path or (output_path.rstrip("/") + "_bpe_merges")

        @functools.cache
        def merges() -> list[tuple[str, str]]:
            committed = readable(spark, mpath)
            if committed is not None:
                return [(r["a"], r["b"]) for r in committed.orderBy("rank").collect()]
            trained = tok.train_bpe(source(), n_merges=bpe_merges)
            local_frame(
                spark,
                [(i, a, b) for i, (a, b) in enumerate(trained)],
                "rank int, a string, b string",
            ).write.mode("overwrite").parquet(mpath)
            return trained

        token_count_expr = F.size("_toks").cast("long")
        tokens_expr = F.col("_toks")
    else:
        merges = None
        token_count_expr = textfns.bpe_ish_token_count(F.col("text")).cast("long")
        tokens_expr = textfns.bpe_ish_tokens(F.col("text"))

    done = completed_partitions(spark, lineage_path, run_id, "pack")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Skip rule (jobs/extract.py): every shard in range(shards) committed ⇒
    # the resume filter selects no row, so skip the plan, the windows and
    # the lineage job. The whole-output shuffle pass below still runs.
    pending = not set(range(shards)) <= done
    m: dict = {}
    if pending:
        docs = source()
        if done:
            docs = docs.filter(~F.col("shard").isin(*sorted(done)))
        # token-free paths (lineage counts, shard joins) use the plain frame —
        # mapInPandas blocks column pruning; and tokenization applies AFTER the
        # resume filter so a resume never re-tokenizes completed shards (merge
        # TRAINING reads the full input, source(), so resumes tokenize identically)
        docs_plain = docs
        if merges is not None:
            from doc_agent_spark.operators import tokenizer as tok

            docs = tok.apply_bpe(docs, merges(), out_col="_toks")

        staged = sampling.split_assign(
            docs, splits or {"train": 0.9, "val": 0.05, "test": 0.05}, key_col="doc_id"
        ).select(
            "split", "shard", "doc_id",
            token_count_expr.alias("n_tokens"),
        )
        plan = packing.pack_chunks(
            staged, tokens_col="n_tokens", key_col="doc_id",
            budget=budget, n_shards=shards, seed=seed, stream_cols=("split",),
        )

        obs = Observation("pack_metrics")
        plan = plan.observe(
            obs,
            F.count(F.lit(1)).alias("slices"),
            F.sum("slice_len").alias("tokens"),
            F.sum((F.col("seq_offset") == 0).cast("long")).alias("windows"),
        )
        plan.write.mode("overwrite").partitionBy("shard").parquet(output_path)
        m = obs.get

        if materialize:
            # restrict to THIS run's shard set: the output dir may hold stale
            # partitions from a previous run with a different --shards mapping
            # (dynamic overwrite only replaces partitions this run writes);
            # folding those in would double-count docs whose shard id moved
            committed = spark.read.parquet(output_path).join(
                docs_plain.select("shard").distinct(), "shard", "left_semi"
            )
            if done:
                committed = committed.filter(~F.col("shard").isin(*sorted(done)))
            windows = packing.assemble_windows(
                committed,
                docs,
                tokens=tokens_expr,  # the SAME token space the plan counted
                key_col="doc_id",
                stream_cols=("split",),
            )
            windows.write.mode("overwrite").partitionBy("shard").parquet(
                output_path.rstrip("/") + "_windows"
            )

    if shuffle_windows:
        # Deterministic global training order over the COMPLETE window
        # set (this run's + previously-committed shards): the order key
        # spans shards, so this is a whole-output final pass, re-run
        # from the windows dir each time (cheap: one range exchange) —
        # not a per-shard resumable unit. Guard completeness first: a
        # prior run WITHOUT --materialize marks shards done in lineage
        # but never wrote their windows, and silently shuffling a
        # partial window set would train on a truncated corpus.
        # Every comparison and the shuffle input are scoped to THIS
        # config's shard set (pre-resume): stale partitions from a
        # previous --shards mapping must neither trip the guard nor ride
        # the training order twice (dynamic overwrite never removes them —
        # see the committed semi-join above for the same hazard).
        cfg_shards = source().select("shard").distinct()
        cfg = {r["shard"] for r in cfg_shards.collect()}
        try:
            all_windows = spark.read.parquet(
                output_path.rstrip("/") + "_windows"
            )
            have = {r["shard"] for r in
                    all_windows.select("shard").distinct().collect()} & cfg
        except Exception:  # schema-less dir: nothing materialized yet
            all_windows, have = None, set()
        # every shard that produced plan windows must be present
        need = {r["shard"] for r in
                spark.read.parquet(output_path)
                .filter(F.col("seq_offset") == 0)
                .select("shard").distinct().collect()} & cfg
        missing = sorted(need - have)
        if missing:
            raise RuntimeError(
                f"--shuffle-windows: windows dir is missing shards "
                f"{missing[:10]}{'...' if len(missing) > 10 else ''} "
                f"(a prior run committed them without --materialize); "
                f"re-run the full pack with --materialize into a fresh "
                f"output/run-id before shuffling"
            )
        if all_windows is not None and need:
            packing.shuffle_windows(
                all_windows.join(cfg_shards, "shard", "left_semi"),
                seed=shuffle_seed,
            ).write.mode("overwrite").parquet(
                output_path.rstrip("/") + "_windows_shuffled"
            )

    wall_ms = int((time.time() - t0) * 1000)
    if pending:
        # Lineage from the INPUT shard set (left-joined to plan aggregates):
        # a shard whose docs all tokenize to zero writes no plan rows but must
        # still be marked done, or it re-runs on every resume.
        # mapInPandas blocks column pruning, so the lineage count and the
        # shard semi-join run on the un-tokenized frame
        shard_docs = docs_plain.groupBy("shard").agg(F.count("*").alias("docs_in"))
        plan_agg = (
            spark.read.parquet(output_path)
            .groupBy("shard")
            .agg(
                F.sum((F.col("seq_offset") == 0).cast("long")).alias("windows"),
                F.count("*").alias("slices"),
            )
        )
        if done:
            plan_agg = plan_agg.filter(~F.col("shard").isin(*sorted(done)))
        lineage = (
            shard_docs.join(plan_agg, "shard", "left")
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit("pack").alias("stage"),
                F.col("shard").cast("int").alias("partition_id"),
                F.lit("done").alias("status"),
                F.col("docs_in"),
                F.coalesce(F.col("windows"), F.lit(0)).cast("long").alias("docs_out"),
                F.coalesce(F.col("slices"), F.lit(0)).cast("long").alias("spans_out"),
                F.lit(0).cast("long").alias("parse_failures"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
                F.current_timestamp().alias("finished_at"),
            )
        )
        lineage.write.mode("append").parquet(lineage_path)

    n_slices, n_tokens, n_windows = (int(m.get(k) or 0) for k in ("slices", "tokens", "windows"))
    metrics_row = local_frame(
        spark,
        [(run_id, "pack", n_slices, n_tokens, n_windows, budget)],
        "run_id string, stage string, slices long, tokens long, "
        "windows long, budget long",
    )
    metrics_row.write.mode("append").parquet(metrics_path)
    return {
        "slices": n_slices,
        "tokens": n_tokens,
        "windows": n_windows,
        "resumed_shards_skipped": len(done),
        "wall_ms": wall_ms,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--splits", default="train=0.9,val=0.05,test=0.05")
    ap.add_argument("--materialize", action="store_true",
                    help="also write the assembled token windows")
    ap.add_argument("--shuffle-windows", action="store_true",
                    help="also write the windows in a deterministic "
                         "pseudo-random global training order "
                         "(implies --materialize)")
    ap.add_argument("--shuffle-seed", default="shuffle42",
                    help="order-key seed; a new seed = a new epoch order")
    ap.add_argument("--tokenizer", choices=("bpe-ish", "bpe"),
                    default="bpe-ish",
                    help="token space: the pretoken regex (bpe-ish) or a "
                         "corpus-trained BPE with persisted merges (bpe)")
    ap.add_argument("--bpe-merges", type=int, default=200,
                    help="number of BPE merges to learn")
    ap.add_argument("--bpe-path", default=None,
                    help="path for the persisted merge table "
                         "(default <output>_bpe_merges)")
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    from doc_agent_spark.session import get_spark

    spark = get_spark(app=f"pack-{args.run_id}")
    ship_package(spark)
    stats = run_pack(
        spark, args.input, args.output, args.lineage, args.metrics,
        args.run_id, args.budget, args.shards, parse_splits(args.splits),
        args.materialize,  # run_pack owns the shuffle-implies-materialize rule
        shuffle_windows=args.shuffle_windows, shuffle_seed=args.shuffle_seed,
        tokenizer=args.tokenizer, bpe_merges=args.bpe_merges,
        bpe_path=args.bpe_path,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
