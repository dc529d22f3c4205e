"""Structured Streaming surface.

The reference has NO streaming dataflow (SURVEY §2.7) — its 'stream' is a
progress callback. This module exists for the continuous-ingest deployment
mode: the SAME extraction transformation applied to a file stream, plus an
event-time windowed aggregation with watermarked late-data handling for the
metrics feed. Batch and streaming share one code path (extractor.extract is
a mapInArrow over a streaming-compatible plan), so span outputs are
byte-identical to the batch pipeline — tests assert exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extractor
from ..schema import DOCUMENTS_SPANS


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source stream of spans tables → extracted flat spans (parquet).

    ``available_now=True`` drains everything currently present and stops —
    the batch-equivalence mode used in tests; production runs keep the
    default micro-batch trigger and the checkpoint gives exactly-once file
    sink semantics (the streaming analog of the lineage/resume contract).
    """
    docs = (
        spark.readStream.schema(DOCUMENTS_SPANS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    flat = extractor.extracted_spans(docs)
    writer = (
        flat.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def events_windowed_counts(events: DataFrame, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time windowed aggregation (late data beyond the
    watermark dropped): per (window, event_type) counts + value sum."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )


def dedup_stream(docs: DataFrame, watermark: str = "1 hour",
                 text_col: str = "text", ts_col: str = "ts") -> DataFrame:
    """Streaming exact dedup: first-seen wins. State holds one 32-byte md5
    per document seen inside the watermark horizon and is EVICTED as event
    time advances (``dropDuplicatesWithinWatermark``) — plain
    ``dropDuplicates`` on a stream grows state forever, the classic
    unbounded-state footgun. The dedup key is the content hash, never the
    text, so the state store stays tiny at any corpus rate (same key
    discipline as the batch exact dedup's shuffle)."""
    return (
        docs.withWatermark(ts_col, watermark)
        .withColumn("text_md5", F.md5(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["text_md5"])
    )


def near_dup_stream(
    docs: DataFrame,
    band_table: DataFrame,
    k: int = 8,
    bands: int = 4,
    watermark: str = "1 hour",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming NEAR-dup detection: each arriving doc's MinHash band
    buckets (computed statelessly per row — operators/dedup.py
    minhash_band_structs) join a PERSISTED band table snapshot
    (minhash_band_table output) built by the batch dedup job; emits
    ``(id, matched_id, ts)`` candidate pairs, each at most once inside the
    watermark horizon.

    Division of labor at scale: the batch job owns the corpus-wide index
    (10^12 rows, rebuilt/merged per snapshot); the stream only answers "is
    this NEW doc near-anything already indexed" — a stream-static equi-join
    on (band, bucket), stateless on the stream side. The static side
    broadcasts when small; at production size it's a bucketed table on the
    join key, and Spark plans a regular stream-static hash join per
    micro-batch. The only stateful stage is the pair-level
    dropDuplicatesWithinWatermark (32-byte keys, state evicted as event
    time advances) so one doc hitting the same neighbor in several bands
    emits a single candidate. Verification (exact Jaccard on the candidate
    pair) stays a batch concern — the same generate-then-verify split as
    the batch path."""
    from ..operators.dedup import minhash_band_structs

    bb = (
        docs.withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("id"),
            F.col(ts_col),
            F.explode(minhash_band_structs(F.col(text_col), k, bands)).alias("bb"),
        )
        .select("id", ts_col, F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    static = band_table.select(
        F.col("id").alias("matched_id"), "band", "bucket"
    )
    hits = bb.join(static, ["band", "bucket"]).filter(
        F.col("id") != F.col("matched_id")
    )
    return hits.select("id", "matched_id", ts_col).dropDuplicatesWithinWatermark(
        ["id", "matched_id"]
    )


SESSION_OUTPUT_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long, sum_value double"
SESSION_STATE_SCHEMA = "session_start long, last_ts long, n_events long, sum_value double"
SESSION_GAP_S = 1800


def frontier_stream(
    pages: DataFrame,
    seen: DataFrame,
    rules: DataFrame,
    watermark: str = "1 hour",
    url_col: str = "url",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming frontier discovery: each arriving fetched page's outlinks
    extract/resolve/canonicalize statelessly per row (functions/urls.py —
    pure column algebra, no state), stream-static LEFT ANTI join against
    the persisted seen-URL snapshot, robots exclusion through the same
    broadcast prefix-array filter as the batch job; emits ``(url, host,
    src, ts)`` discovery events, each target at most once inside the
    watermark horizon (dropDuplicatesWithinWatermark on url — 32-byte-ish
    keys, state evicted as event time advances).

    Division of labor mirrors near_dup_stream: the batch job
    (jobs/frontier.py) owns citation-count priorities and politeness
    scheduling per cycle over the accumulated discovery log; this stream
    answers "what NEW URL did we just learn about" continuously, so a
    fetcher fleet can top up mid-cycle without waiting for the batch."""
    from ..functions import urls
    from ..operators.frontier import robots_filter

    url = F.col(url_col)
    links = (
        pages.withWatermark(ts_col, watermark)
        .select(
            url.alias("src"), F.col(ts_col),
            F.explode(urls.extract_hrefs(F.col(text_col))).alias("ref"),
        )
        .filter(~F.col("ref").startswith("#"))
        .select(
            "src", ts_col,
            urls.resolve_url(F.col("src"), F.col("ref")).alias("res"),
        )
        .filter(F.col("res").rlike("^https?://"))
        .select(
            urls.url_canonicalize(F.col("res")).alias("url"),
            "src", ts_col,
        )
    )
    new = links.join(seen.select(F.col("url")), "url", "left_anti")
    flagged = robots_filter(new, rules)
    return (
        flagged.filter(~F.col("blocked"))
        .select("url", urls.url_host(F.col("url")).alias("host"), "src", ts_col)
        .dropDuplicatesWithinWatermark(["url"])
    )


def _session_fn(key, pdfs, state):
    """applyInPandasWithState worker: per-user session accumulation.

    State carries (session_start_us, last_ts_us, n_events, sum_value).
    A gap > SESSION_GAP_S closes the current session (emitted) and opens a
    new one; event-time timeout closes the last session when the watermark
    passes last_ts + gap.

    Out-of-order handling (events within the watermark but older than the
    state's last_ts — they arrive in a LATER micro-batch, so rows.sort()
    alone cannot fix them):
    - within [session_start - gap, last_ts]: merged into the open session,
      extending session_start backwards / never regressing session_end
      (ss = min, ls = max);
    - older than session_start - gap: the event belongs to a session that
      precedes the open one. Consecutive such stragglers are coalesced into
      their own session and emitted this batch (append mode cannot retract
      sessions already emitted, so this is the best-effort completion the
      watermark contract allows).
    Emitted rows are sorted by session_start per user.
    """
    import pandas as pd

    (user_id,) = key
    GAP_US = SESSION_GAP_S * 1_000_000
    out = []

    if state.hasTimedOut:
        ss, ls, n, sv = state.get
        out.append((user_id, ss, ls, n, sv))
        state.remove()
    else:
        rows = []
        for pdf in pdfs:
            for ts, v in zip(pdf["ts"], pdf["value"]):
                rows.append((int(pd.Timestamp(ts).value // 1000), float(v)))
        rows.sort()
        if state.exists:
            ss, ls, n, sv = state.get
        else:
            ss = ls = None
            n, sv = 0, 0.0
        po = None  # pending straggler session, strictly older than the open one
        for ts_us, v in rows:
            if ss is None:
                ss, ls, n, sv = ts_us, ts_us, 1, v
            elif ts_us < ss - GAP_US:
                # straggler from before the open session (sorted input ⇒ all
                # stragglers precede in-order rows, so po is complete once a
                # row lands in another branch)
                if po is not None and ts_us - po[1] <= GAP_US:
                    po = (po[0], max(po[1], ts_us), po[2] + 1, po[3] + v)
                else:
                    if po is not None:
                        out.append((user_id, *po))
                    po = (ts_us, ts_us, 1, v)
            elif ts_us - ls > GAP_US:
                out.append((user_id, ss, ls, n, sv))
                ss, ls, n, sv = ts_us, ts_us, 1, v
            else:
                ss, ls = min(ss, ts_us), max(ls, ts_us)
                n, sv = n + 1, sv + v
        if po is not None:
            # the straggler test above compared against ss AS OF that row;
            # later in-batch rows can have extended the open session further
            # backward, so re-check at flush time: a pending session ending
            # within gap of the (final) open session start is the SAME
            # session by the gap rule — merge it instead of emitting a
            # spurious split (start regresses to the straggler's start).
            if ss is not None and ss - po[1] <= GAP_US:
                ss = min(ss, po[0])
                n, sv = n + po[2], sv + po[3]
            else:
                out.append((user_id, *po))
        out.sort(key=lambda r: r[1])
        if ss is not None:
            state.update((ss, ls, n, sv))
            state.setTimeoutTimestamp(ls // 1000 + SESSION_GAP_S * 1000)

    if out:
        yield pd.DataFrame({
            "user_id": [r[0] for r in out],
            "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
            "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
            "n_events": [r[3] for r in out],
            "sum_value": [r[4] for r in out],
        })


def sessionize_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: event-time sessionization with a 30-min gap
    via ``applyInPandasWithState`` (the reference has no streaming at all —
    SURVEY §2.7; this is the scale-path for continuous metric feeds).

    State is per-user and O(1); the stream shuffles once on user_id. Sessions
    close either inline (gap observed within the data) or by event-time
    timeout when the watermark passes last_ts + gap.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def events_stream_to_memory(spark: SparkSession, input_dir: str, checkpoint_dir: str,
                            query_name: str = "events_counts"):
    """readStream variant of the events aggregation (file source), writing
    to the in-memory sink for inspection/tests."""
    from ..schema import StructType  # noqa: F401  (schema import below)
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    ev = spark.readStream.schema(schema).parquet(input_dir)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = events_windowed_counts(ev)
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curate_stream(
    docs: DataFrame,
    min_quality: float = 0.0,
    langs: list[str] | None = None,
    sample_fraction: float = 1.0,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Continuous-ingest curation: the stateless stages of the batch
    funnel (quality score, language ID, PII redaction, content-hash
    sampling — all pure per-row projections, jobs/curate.py) composed
    with the one stateful stage streaming needs: watermark-bounded exact
    dedup (``dropDuplicatesWithinWatermark`` on the content hash, state
    evicted as event time advances — the batch job's globally-exact
    content-hash bucketing has no streaming analog, so the horizon IS the
    dedup scope and the docstring contract says so).

    Corpus-stat stages (boilerplate lines, duplicated shingles, fuzzy
    drops, the LM model) are whole-corpus statistics and deliberately
    absent: a production stream would anti-join the batch job's persisted
    artifacts, which are static frames and join fine against a stream."""
    from ..functions import redact, textfns
    from ..operators import sampling

    deduped = (
        docs.withColumn("text_md5", F.md5("text"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )
    scored = textfns.with_pred_lang(
        deduped.withColumn("quality", textfns.quality_score(F.col("text"))),
        F.col("text"),
    )
    keep = F.col("quality") >= min_quality
    if langs:
        keep = keep & F.col("pred_lang").isin(langs)
    kept = sampling.sample_bernoulli(
        scored.filter(keep), sample_fraction, "doc_id", "curate"
    )
    return kept.withColumn("text", redact.redact_pii(F.col("text")))


def click_attribution_stream(
    impressions: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM event-time interval join (the ad-attribution classic,
    and the one join class the stream-static machinery above cannot
    express): every click joins the impression of the same ad_id that
    preceded it by at most ``horizon``.

    State-bound by construction: BOTH sides are watermarked and the join
    carries an event-time range condition, so the state store retains an
    impression only inside ``watermark + horizon`` and a click only inside
    ``watermark`` — without the range condition a stream-stream join
    buffers both streams forever (the unbounded-state footgun, same class
    as dropDuplicates without a watermark in dedup_stream above). At
    cluster scale each micro-batch co-partitions both sides on ad_id, so
    the probe is a local hash join against the keyed state store.

    Inputs: impressions(imp_id, ad_id, imp_ts), clicks(click_id, ad_id,
    click_ts). Returns (ad_id, imp_id, imp_ts, click_id, click_ts).
    """
    i = impressions.withWatermark("imp_ts", watermark)
    c = clicks.withColumnRenamed("ad_id", "c_ad").withWatermark(
        "click_ts", watermark
    )
    joined = i.join(
        c,
        F.expr(
            f"ad_id = c_ad AND click_ts >= imp_ts "
            f"AND click_ts <= imp_ts + interval {horizon}"
        ),
        "inner",
    )
    return joined.select("ad_id", "imp_id", "imp_ts", "click_id", "click_ts")


def publish_stream(
    docs: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    shards: int = 64,
    key_col: str = "doc_id",
    seed: str = "publish42",
):
    """Streaming publish: continuous JSONL shard export with an
    INCREMENTAL manifest — the streaming face of jobs/publish.py, and the
    direct payoff of the manifest's digest-SUM design: per-micro-batch
    manifest deltas merge into the whole-corpus manifest by plain
    summation (commutative, associative), so the stream never rewrites or
    even reads what earlier batches published. Each micro-batch appends
    its rows under shard= directories and appends one delta row per
    touched shard, tagged with the batch_id.

    Delivery contract (documented, not hidden): foreachBatch replays a
    micro-batch after a crash, and a text APPEND is not idempotent — so
    the stream is at-least-once on the data files, while the manifest
    detects it: a replayed batch appends duplicate (batch_id, shard)
    delta rows, which :func:`merged_stream_manifest` collapses, and
    ``operators.publish.verify_shards`` re-checksums actual bytes against
    the merged manifest, so any double-appended shard surfaces as
    ok=false and can be repaired by the batch job (re-publish the shard
    from the table — its directory overwrite is idempotent). Exactly-once
    publish stays the batch job's contract; the stream buys freshness.

    Returns the started StreamingQuery (availableNow trigger: drain all
    ready input, then stop — rerun for the next increment)."""
    from ..operators import publish as pubops
    from ..operators.packing import shard_of

    cols = columns or sorted(docs.columns)
    shards_path = output_path.rstrip("/") + "_shards"
    manifest_path = output_path.rstrip("/") + "_manifest"
    # same config guard as the batch job (defaults aligned at shards=64):
    # the documented repair path runs jobs/publish.py against THIS output,
    # so both writers must agree on the mapping or fail fast here
    pubops.check_or_write_config(
        output_path,
        {"shards": shards, "columns": cols, "seed": seed, "key_col": key_col},
    )

    def sink(batch_df, batch_id: int) -> None:
        staged = batch_df.select(
            shard_of(F.col(key_col), shards, seed).alias("shard"),
            pubops.json_line(*cols).alias("line"),
        ).localCheckpoint()  # one write + one aggregate off the same pass
        staged.write.mode("append").partitionBy("shard").text(shards_path)
        (
            pubops.manifest_agg(staged, shard_col="shard", line_col="line")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(manifest_path)
        )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merged_stream_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The whole-corpus manifest from the stream's per-batch deltas: drop
    replayed delta rows (same batch_id + shard), then SUM — identical to
    the batch job's manifest when every batch appended exactly once (the
    mergeability property tests pin)."""
    return (
        spark.read.parquet(manifest_path)
        .dropDuplicates(["batch_id", "shard"])
        .groupBy("shard")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum("checksum").cast("decimal(38,0)").alias("checksum"),
        )
    )


def rollup_stream(
    events: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    checkpoint_dir: str,
    scale: int = 6,
    epoch_prefix: str | None = None,
    retain_last: int = 2,
):
    """Streaming face of jobs/rollup.py: each micro-batch reduces to its
    per-key partial state and merges into the SAME versioned snapshot
    directory the batch job maintains (sinks/rollup_state.py — one
    implementation, two cadences). Stream/batch parity falls out of the
    ledger protocol: the foreachBatch epoch id becomes the ledger batch
    identity, so a replayed epoch (the foreachBatch at-least-once
    contract) is skipped exactly like a re-run batch day — the state is
    effectively exactly-once without any sink-side dedup of rows.

    Epoch identity is scoped to the CHECKPOINT LINEAGE: epoch ids restart
    at 0 for a fresh checkpoint dir, so the default ``epoch_prefix``
    derives from a hash of ``checkpoint_dir`` — a new checkpoint over the
    same state gets a new identity space instead of silently colliding
    with (and being skipped against) the old lineage's epochs. Deleting
    and recreating the SAME checkpoint path is the one identity the
    ledger cannot distinguish — that operation means "replay everything"
    and must go to a fresh state dir (or an explicit new epoch_prefix).

    ``retain_last`` applies the batch job's snapshot-expiry discipline
    per committed epoch — streaming-only operation would otherwise grow
    the state dir by one full snapshot per micro-batch, unboundedly.

    The merge algebra is what makes a streaming UPDATE of a persisted
    aggregate safe at all: per-key (count, fixed-point long sum, min,
    max) states add exactly under any arrival order, so late or
    out-of-order events need no watermark for CORRECTNESS — an event
    landing in a later epoch merges into its key like any other row
    (watermarks remain a latency/state-size device for windowed serving
    layers, not a requirement of this sink).

    Returns the started StreamingQuery (availableNow trigger: drain ready
    input, then stop — rerun for the next increment, alternating freely
    with the batch job under the single-writer-at-a-time contract)."""
    import hashlib

    from ..sinks import rollup_state as rs

    prefix = (
        epoch_prefix
        or "epoch-" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
    )

    def sink(batch_df, batch_id: int) -> None:
        out = rs.apply_batch(
            batch_df.sparkSession, batch_df, state_path, keys, value_col,
            batch_id=f"{prefix}-{int(batch_id)}", scale=scale,
        )
        if not out["skipped"]:
            rs.expire_snapshots(state_path, out["version"], retain_last)

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
