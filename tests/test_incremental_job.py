"""Incremental near-dup ingest job (jobs/incremental.py): batch-vs-history
and batch-internal drops, kept-only bands delta, artifact-granular resume,
and the union-merge contract for snapshot N+1's index."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from incremental import run_incremental

from doc_agent_spark.operators import dedup

BASE = ("the quarterly report shows the revenue number and the cost "
        "number for the data pipeline team in the usual format")
OTHER = ("completely unrelated english words about some other topic "
         "entirely with no overlap in the shingle space at all")
THIRD = ("a third body of text discussing the architecture of the "
         "spark engine and the iceberg tables it writes every day")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _setup(spark, d):
    history = _docs(spark, [(0, BASE), (2, OTHER)])
    hist_p = str(d / "history.parquet")
    history.write.parquet(hist_p)
    # index snapshot: just the band table artifact this job consumes
    idx = str(d / "index")
    dedup.minhash_band_table(history).write.parquet(idx + "/minhash_bands")
    batch = _docs(spark, [
        (10, BASE.replace("usual", "updated")),     # near-dup of history 0
        (11, THIRD),                                # near-dup pair with 12
        (12, THIRD.replace("every day", "each day")),
        (13, "fresh unique content that matches nothing else at all here"),
    ])
    batch_p = str(d / "batch.parquet")
    batch.write.parquet(batch_p)
    return hist_p, idx, batch_p


def test_incremental_drops_and_delta(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("inc")
    hist_p, idx, batch_p = _setup(spark, d)
    out, lin = str(d / "delta"), str(d / "lineage")
    r = run_incremental(
        spark, batch_p, hist_p, idx, out, lin, run_id="i1", jaccard=0.5
    )
    assert r["batch_docs"] == 4
    pairs = spark.read.parquet(out + "/pairs_delta").collect()
    kinds = {(p.id_new, p.matched_id): p.kind for p in pairs}
    assert kinds[(10, 0)] == "history"
    assert kinds[(11, 12)] == "batch"
    # history match drops the new doc (history is canonical); the batch
    # cluster {11,12} keeps its min id
    drops = {r.doc_id for r in spark.read.parquet(out + "/drop_delta").collect()}
    assert drops == {10, 12}
    kept_band_ids = {
        r.id for r in spark.read.parquet(out + "/bands_delta").select("id").distinct().collect()
    }
    assert kept_band_ids == {11, 13}

    # snapshot N+1 = history index ∪ delta bands: a re-crawl of doc 11's
    # text must now find 11 through the MERGED index
    merged = spark.read.parquet(idx + "/minhash_bands").unionByName(
        spark.read.parquet(out + "/bands_delta")
    )
    probe = dedup.minhash_band_table(_docs(spark, [(99, THIRD)]))
    hits = {
        r.id
        for r in probe.select("band", "bucket")
        .join(merged, ["band", "bucket"])
        .select("id").distinct().collect()
    }
    assert 11 in hits and 12 not in hits

    # resume: identical second run reuses every artifact
    r2 = run_incremental(
        spark, batch_p, hist_p, idx, out, lin, run_id="i2", jaccard=0.5
    )
    assert r2["artifacts_reused"] == 3
    assert r2["dropped"] == r["dropped"] == 2


def test_incremental_partial_artifact_rebuilds(spark, tmp_path_factory):
    """Crash-resume contract: an artifact directory that exists but does
    not read back as parquet (crash mid-write) is rebuilt identically;
    committed artifacts upstream of it are still reused."""
    d = tmp_path_factory.mktemp("inc_crash")
    hist_p, idx, batch_p = _setup(spark, d)
    out, lin = str(d / "delta"), str(d / "lineage")
    r1 = run_incremental(
        spark, batch_p, hist_p, idx, out, lin, run_id="c1", jaccard=0.5
    )
    # simulate a crash that corrupted the LAST artifact
    import shutil

    shutil.rmtree(out + "/bands_delta")
    os.makedirs(out + "/bands_delta")  # exists, but unreadable as parquet
    r2 = run_incremental(
        spark, batch_p, hist_p, idx, out, lin, run_id="c2", jaccard=0.5
    )
    assert r2["reused"] == {
        "pairs_delta": True, "drop_delta": True, "bands_delta": False
    }
    assert r2["bands_delta"] == r1["bands_delta"]
    assert {
        x.id for x in spark.read.parquet(out + "/bands_delta").select("id").distinct().collect()
    } == {11, 13}


def test_incremental_no_matches(spark, tmp_path_factory):
    """A batch with no near-dups anywhere: empty pairs/drops, full bands."""
    d = tmp_path_factory.mktemp("inc_clean")
    hist_p, idx, _ = _setup(spark, d)
    batch = _docs(spark, [
        (20, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    batch_p = str(d / "clean_batch.parquet")
    batch.write.parquet(batch_p)
    out, lin = str(d / "delta2"), str(d / "lineage2")
    r = run_incremental(
        spark, batch_p, hist_p, idx, out, lin, run_id="i3", jaccard=0.5
    )
    assert r["pairs_delta"] == 0
    assert r["dropped"] == 0
    assert {
        x.id for x in spark.read.parquet(out + "/bands_delta").select("id").distinct().collect()
    } == {20}


def test_recrawled_ids_drop_and_never_duplicate_the_index(spark, tmp_path_factory):
    """A batch row whose doc_id already exists in history (a re-fetch) must
    be dropped outright — history is canonical — and its bands must NOT be
    re-added (the merged index would otherwise hold duplicate rows and the
    verify corpus would carry one id with two texts)."""
    d = tmp_path_factory.mktemp("inc_rc")
    hist_p, idx, batch_p = _setup(spark, d)
    # batch: re-fetch of history id 0 (changed text) + one fresh doc
    batch = _docs(spark, [
        (0, BASE.replace("usual", "refetched")),   # re-crawl, id collision
        (20, "entirely new words that match nothing anywhere else now"),
    ])
    bp = str(d / "batch_rc.parquet")
    batch.write.parquet(bp)
    out, lin = str(d / "delta_rc"), str(d / "lineage_rc")
    r = run_incremental(spark, bp, hist_p, idx, out, lin, run_id="rc1")
    drops = {x.doc_id for x in spark.read.parquet(out + "/drop_delta").collect()}
    assert 0 in drops
    band_ids = {
        x.id for x in
        spark.read.parquet(out + "/bands_delta").select("id").distinct().collect()
    }
    assert band_ids == {20}
    # merged index has NO duplicate rows for id 0
    merged = spark.read.parquet(idx + "/minhash_bands").unionByName(
        spark.read.parquet(out + "/bands_delta")
    )
    assert merged.count() == merged.distinct().count()


def test_lineage_rows_use_shared_schema_per_artifact(spark, tmp_path_factory):
    """Every artifact commits its own LINEAGE-schema row (shared table with
    the other jobs — mixed column names silently null out on read)."""
    from doc_agent_spark.schema import LINEAGE

    d = tmp_path_factory.mktemp("inc_lin")
    hist_p, idx, batch_p = _setup(spark, d)
    out, lin = str(d / "delta_l"), str(d / "lineage_l")
    run_incremental(spark, batch_p, hist_p, idx, out, lin, run_id="l1")
    rows = (
        spark.read.schema(LINEAGE).parquet(lin)
        .filter("run_id = 'l1' AND stage = 'incremental' AND status = 'done'")
        .collect()
    )
    assert sorted(r.partition_id for r in rows) == [0, 1, 2]
    assert all(r.finished_at is not None for r in rows)
    # a fully-resumed run appends nothing new (rows already exist)
    run_incremental(spark, batch_p, hist_p, idx, out, lin, run_id="l1")
    again = (
        spark.read.schema(LINEAGE).parquet(lin)
        .filter("run_id = 'l1' AND stage = 'incremental'").collect()
    )
    assert len(again) == 3


def test_fully_resumed_run_takes_counts_from_lineage(spark, tmp_path_factory):
    """A fully-resumed run reports every artifact's count from its commit
    lineage row: no per-artifact count() and no lineage head() job. What
    is left is the input/artifact schema probes, at most one lineage
    collect and the batch_docs count — 6 jobs here, where a count() plus a
    head job per reused artifact takes 18."""
    d = tmp_path_factory.mktemp("inc_resume")
    hist_p, idx, batch_p = _setup(spark, d)
    out, lin = str(d / "delta"), str(d / "lineage")
    cold = run_incremental(spark, batch_p, hist_p, idx, out, lin, run_id="r1")
    sc = spark.sparkContext
    sc.setJobGroup("inc-resume", "inc-resume")
    try:
        again = run_incremental(spark, batch_p, hist_p, idx, out, lin, run_id="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("inc-resume"))
    assert again["artifacts_reused"] == 3
    keys = ("batch_docs", "pairs_delta", "dropped", "bands_delta")
    assert {k: again[k] for k in keys} == {k: cold[k] for k in keys}
    assert n_jobs <= 10, n_jobs
