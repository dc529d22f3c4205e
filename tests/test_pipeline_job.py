"""End-to-end pipeline driver (jobs/pipeline.py): extract -> bridge ->
curate -> pack + index through one workdir/run-id, then a full resume
pass that must skip every stage's completed work."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jobs.pipeline import run_pipeline


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    from doc_agent_spark.corpus import make_doc
    from doc_agent_spark.schema import DOCUMENTS_SPANS

    rows = [make_doc(i) for i in range(40)]
    path = str(tmp_path_factory.mktemp("pipe") / "spans")
    spark.createDataFrame(rows, DOCUMENTS_SPANS).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def cold(spark, corpus, tmp_path_factory):
    """One cold pipeline run; the resume tests below only read its workdir."""
    wd = str(tmp_path_factory.mktemp("pipe") / "run")
    return wd, run_pipeline(spark, corpus, wd, "p1", buckets=4, shards=2, publish=True)


def test_pipeline_all_stages_and_resume(spark, corpus, cold):
    wd, stats = cold
    assert stats["extract"]["docs_processed"] == 40
    assert stats["bridge"]["docs"] == 40
    assert stats["curate"]["docs_in"] == 40

    docs = spark.read.parquet(f"{wd}/documents")
    assert docs.count() == 40
    assert set(docs.columns) >= {"doc_id", "text", "lang", "source", "n_chars"}
    # provenance axis: docs with media-backed spans are 'scanned', pure
    # text docs 'digital' — both occur in the synthetic corpus
    srcs = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(srcs) == {"scanned", "digital"} and sum(srcs.values()) == 40

    curated = spark.read.parquet(f"{wd}/curated")
    assert 0 < curated.count() <= 40
    assert spark.read.parquet(f"{wd}/index/bm25_postings").count() > 0
    assert spark.read.parquet(f"{wd}/packed").count() > 0

    # publish (final stage): verified shard export over the curated set
    assert stats["publish"]["complete"] is True
    assert stats["publish"]["verify_failed_shards"] == 0
    assert stats["publish"]["rows_written"] == curated.count()
    assert spark.read.text(f"{wd}/corpus_shards/shard=*").count() == curated.count()

    # resume: everything already committed -> no stage redoes work
    stats2 = run_pipeline(spark, corpus, wd, "p1", buckets=4, shards=2, publish=True)
    assert stats2["extract"]["docs_processed"] == 0
    assert stats2["extract"]["resumed_buckets_skipped"] == 4
    assert stats2["bridge"]["resumed"] is True
    assert stats2["publish"]["shards_written"] == 0
    assert stats2["publish"]["complete"] is True
    assert spark.read.parquet(f"{wd}/curated").count() == curated.count()


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number of
    Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_fully_resumed_stage_reads_only_lineage(spark, corpus, cold, tmp_path):
    """A stage whose every bucket/shard is in lineage launches at most the
    lineage read — it never reads its input, not even its schema (running
    the full path over the empty remainder takes 7-8 jobs), and its
    metrics row is a driver-side append — and the lineage is read once
    for all three stages, none of which writes it. A bucket missing from
    lineage still takes the full path and rebuilds exactly the cold
    output."""
    import shutil

    from jobs.curate import run_curate
    from jobs.extract import run_extract
    from jobs.pack import run_pack

    wd, _ = cold
    lin = f"{wd}/lineage"
    met = lambda name: str(tmp_path / f"metrics_{name}")  # noqa: E731
    stages = {
        "extract": (lambda: run_extract(
            spark, corpus, f"{wd}/extracted", lin, met("extract"), "p1", buckets=4),
            "resumed_buckets_skipped", 4),
        "curate": (lambda: run_curate(
            spark, f"{wd}/documents", f"{wd}/curated", lin, met("curate"), "p1",
            buckets=4), "resumed_buckets_skipped", 4),
        "pack": (lambda: run_pack(
            spark, f"{wd}/curated", f"{wd}/packed", lin, met("pack"), "p1",
            budget=256, shards=2), "resumed_shards_skipped", 2),
    }
    for name, (run, skipped, units) in stages.items():
        st, n_jobs = _jobs_in_group(spark, f"resume-{name}", run)
        assert n_jobs <= (1 if name == "extract" else 0), (name, n_jobs)
        assert st[skipped] == units
        # a full resume still reports zero counts and appends one zero metrics row
        assert all(v in (0, None) for k, v in st.items() if k not in (skipped, "wall_ms"))
        (row,) = spark.read.parquet(met(name)).collect()
        assert all(v == 0 for k, v in row.asDict().items()
                   if k not in ("run_id", "stage", "budget")), row

    # drop one extract bucket's lineage: that bucket alone re-runs
    lineage = spark.read.parquet(lin)
    bucket, n_docs = (
        lineage.filter((F.col("stage") == "extract") & (F.col("docs_in") > 0))
        .orderBy("partition_id").select("partition_id", "docs_in").first()
    )
    partial = str(tmp_path / "lineage")
    lineage.filter(~((F.col("stage") == "extract") & (F.col("partition_id") == bucket))) \
        .write.parquet(partial)
    out = str(tmp_path / "extracted")
    shutil.copytree(f"{wd}/extracted", out)
    st = run_extract(spark, corpus, out, partial, met("partial"), "p1", buckets=4)
    assert st["resumed_buckets_skipped"] == 3
    assert st["docs_processed"] == n_docs
    assert _rows(spark, out) == _rows(spark, f"{wd}/extracted")


def test_fully_resumed_pipeline_job_inventory(spark, corpus, cold, monkeypatch):
    """A whole resumed pipeline leg: extract, curate and pack read only
    their lineage, the bridge's and index's commit proofs are driver-side,
    and every metrics row is a driver-side append: no stage launches a
    job but for the one lineage collect, which extract, the first stage
    to ask, makes. No stage writes lineage, so the leg reads it at most
    once (none when the last write was already read): 1 job at most."""
    import jobs.pipeline as jp

    wd, _ = cold
    n_jobs = {}
    for attr, stage in (("run_extract", "extract"), ("build_documents", "bridge"),
                        ("run_curate", "curate"), ("run_pack", "pack"),
                        ("run_index", "index")):
        def counted(*a, _fn=getattr(jp, attr), _stage=stage, **k):
            out, n_jobs[_stage] = _jobs_in_group(
                spark, f"pipeline-resume-{_stage}", lambda: _fn(*a, **k))
            return out
        monkeypatch.setattr(jp, attr, counted)
    stats = run_pipeline(spark, corpus, wd, "p1", buckets=4, shards=2)
    assert stats["bridge"]["resumed"] is True
    assert stats["index"]["artifacts_reused"] == 9
    assert n_jobs["extract"] <= 1, n_jobs
    assert all(n_jobs[s] == 0 for s in ("bridge", "curate", "pack", "index")), n_jobs
    assert sum(n_jobs.values()) <= 1, n_jobs


# each stage's own metrics columns (besides run_id and stage)
METRIC_COLUMNS = {
    "extract": {"docs_processed", "spans_emitted", "parse_failures"},
    "curate": {"docs_in", "after_dedup", "after_filters", "kept"},
    "pack": {"slices", "tokens", "windows", "budget"},
    "index": {"n_vectors", "n_postings", "artifacts_reused", "wall_ms"},
    "publish": {"rows_written", "shards_written", "shards_skipped", "wall_ms"},
}


def test_metrics_table_holds_one_row_per_stage_per_leg(spark, corpus, tmp_path):
    """After a cold and a resumed leg, the shared metrics table, read with
    every stage's schema merged, holds one row per stage per leg, each
    with exactly its stage's columns set."""
    wd = str(tmp_path / "run")
    for _ in range(2):
        run_pipeline(spark, corpus, wd, "m1", buckets=2, shards=2, publish=True)
    metrics = spark.read.option("mergeSchema", True).parquet(wd + "/metrics")
    assert set(metrics.columns) == {"run_id", "stage"}.union(*METRIC_COLUMNS.values())
    rows = [r.asDict() for r in metrics.collect()]
    assert sorted(r["stage"] for r in rows) == sorted([*METRIC_COLUMNS] * 2)
    for r in rows:
        assert r["run_id"] == "m1"
        assert {k for k, v in r.items() if v is not None} == \
            {"run_id", "stage"} | METRIC_COLUMNS[r["stage"]], r


def test_pipeline_jsonl_ingest_with_quarantine(spark, tmp_path_factory):
    import os

    from doc_agent_spark.corpus import make_doc

    import json as _json

    d = tmp_path_factory.mktemp("pipej")
    jd = str(d / "drop")
    os.makedirs(jd)
    with open(f"{jd}/docs.jsonl", "w") as f:
        for i in range(20):
            f.write(_json.dumps(make_doc(i)) + "\n")
        # corrupt the drop: a truncated line and a type-mangled line
        f.write('{"doc_id": "doc-x", "spans": [{"kind": tru\n')
        f.write('{"doc_id": 12345, "spans": "not an array"}\n')

    wd = str(d / "run")
    stats = run_pipeline(spark, jd, wd, "pj", buckets=4, shards=2,
                         input_format="jsonl")
    assert stats["ingest"]["docs"] == 20
    assert stats["ingest"]["quarantined"] == 2
    assert stats["extract"]["docs_processed"] == 20
    assert stats["bridge"]["docs"] == 20
    # quarantined raw lines are replayable verbatim
    q = spark.read.json(f"{wd}/quarantine")
    assert q.count() == 2


def test_pipeline_warc_ingest_stage(spark, tmp_path_factory):
    """Stage 0 = WARC archives: clean 200-responses become single-span docs
    keyed by canonical URI (latest record wins a re-crawl), truncated
    records quarantine, and the whole chain runs + resumes behind it."""
    from doc_agent_spark.corpus import make_doc
    from doc_agent_spark.sources import warc as warcsrc

    wdir = tmp_path_factory.mktemp("warcin")
    plain, gz = [], []
    for i in range(24):
        body = "\n".join(
            s["text"] for s in make_doc(i)["spans"] if s.get("text")
        )
        rec = dict(
            uri=f"https://www.Crawl.example.com/inv/{i}?utm_source=x",
            body=body.encode(),
        )
        if i % 2:
            plain.append(warcsrc.make_warc_response(**rec))
        else:
            gz.append(warcsrc.make_warc_response(**rec, gzip_member=True))
    # truncated tail record -> quarantine, not a crash
    trunc = warcsrc.make_warc_response(uri="https://x/bad", body=b"cut")
    warcsrc.write_warc_file(
        str(wdir / "a.warc"),
        [warcsrc.make_warcinfo("a.warc"), *plain, trunc[: len(trunc) - 20]],
    )
    warcsrc.write_warc_file(str(wdir / "b.warc.gz"), gz)
    # re-crawl of inv/1 in a lexically-later file: latest-wins
    warcsrc.write_warc_file(
        str(wdir / "z.warc"),
        [warcsrc.make_warc_response(
            uri="https://crawl.example.com/inv/1", body=b"<html>recrawl</html>"
        )],
    )

    wd = str(tmp_path_factory.mktemp("warcpipe") / "run")
    stats = run_pipeline(
        spark, str(wdir) + "/*.warc*", wd, "pw1", buckets=4, shards=2,
        input_format="warc",
    )
    assert stats["ingest"]["docs"] == 24          # 25 responses, 1 dup URI
    assert stats["ingest"]["quarantined"] == 1
    spans = spark.read.parquet(f"{wd}/spans")
    assert spans.count() == 24
    dup = spans.filter(
        F.col("doc_id") == "https://crawl.example.com/inv/1"
    ).head()
    assert dup["spans"][0]["text"] == "<html>recrawl</html>"
    assert stats["extract"]["docs_processed"] == 24
    assert spark.read.parquet(f"{wd}/documents").count() == 24

    stats2 = run_pipeline(
        spark, str(wdir) + "/*.warc*", wd, "pw1", buckets=4, shards=2,
        input_format="warc",
    )
    assert stats2["ingest"]["resumed"] is True
    assert stats2["extract"]["docs_processed"] == 0
