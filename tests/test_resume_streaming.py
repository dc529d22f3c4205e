"""Checkpoint/resume (jobs/extract.py) and streaming-equals-batch tests:
- kill-between-buckets resume: output identical to a clean one-shot run
- re-run idempotency
- Structured Streaming extraction produces byte-identical spans to batch
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from doc_agent_spark import corpus
from doc_agent_spark.operators import extractor
from doc_agent_spark.schema import DOCUMENTS_SPANS
from doc_agent_spark.streaming.pipeline import extract_stream

from extract import run_extract  # jobs/extract.py

N = 120


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("resume") / "docs.parquet")
    spark.createDataFrame(list(corpus.gen_docs(N)), DOCUMENTS_SPANS).write.parquet(p)
    return p


def _spans_set(spark, path):
    df = spark.read.parquet(path)
    return {
        (r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in df.collect()
    }


def test_resume_after_partial_run(spark, tmp_path, corpus_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    met = str(tmp_path / "metrics")

    # simulate a prior partial run: pretend buckets 0..3 completed by a
    # first pass over ONLY those buckets
    docs = spark.read.parquet(corpus_path)
    sub = docs.filter(F.pmod(F.hash("doc_id"), F.lit(8)) < 4)
    sub_path = str(tmp_path / "subset.parquet")
    sub.write.parquet(sub_path)
    r1 = run_extract(spark, sub_path, out, lin, met, run_id="r1", buckets=8)
    assert r1["docs_processed"] == sub.count()

    # resume over the FULL input: completed buckets must be skipped
    r2 = run_extract(spark, corpus_path, out, lin, met, run_id="r1", buckets=8)
    assert r2["resumed_buckets_skipped"] >= 1
    assert r1["docs_processed"] + r2["docs_processed"] == N

    # combined output equals a clean one-shot run
    clean_out = str(tmp_path / "clean")
    run_extract(spark, corpus_path, clean_out, str(tmp_path / "l2"), str(tmp_path / "m2"),
                run_id="clean", buckets=8)
    assert _spans_set(spark, out) == _spans_set(spark, clean_out)


def test_rerun_is_idempotent(spark, tmp_path, corpus_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    met = str(tmp_path / "metrics")
    run_extract(spark, corpus_path, out, lin, met, run_id="a", buckets=8)
    first = _spans_set(spark, out)
    # a second full run under a NEW run id rewrites every bucket in place
    run_extract(spark, corpus_path, out, lin, met, run_id="b", buckets=8)
    assert _spans_set(spark, out) == first


def test_metrics_written(spark, tmp_path, corpus_path):
    out, lin, met = (str(tmp_path / x) for x in ("o", "l", "m"))
    stats = run_extract(spark, corpus_path, out, lin, met, run_id="m1", buckets=8)
    mrows = spark.read.parquet(met).collect()
    assert mrows[0].docs_processed == N == stats["docs_processed"]
    assert mrows[0].spans_emitted == stats["spans_emitted"] > N
    lrows = spark.read.parquet(lin)
    assert lrows.agg(F.sum("docs_out")).collect()[0][0] == N


def test_lineage_readback_is_column_pruned(spark, tmp_path, corpus_path):
    """The lineage pass over the written output must never scan the heavy
    span columns — only the partition dir + narrow doc-flag columns."""
    from extract import lineage_from_written

    out, lin, met = (str(tmp_path / x) for x in ("o", "l", "m"))
    run_extract(spark, corpus_path, out, lin, met, run_id="p1", buckets=8)
    plan = (
        lineage_from_written(spark, out, set())
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan = plan[plan.find("ReadSchema"):]
    assert "parse_failure" in scan and "order" in scan
    assert "text" not in scan and "media_ref" not in scan


def test_streaming_extraction_equals_batch(spark, tmp_path, corpus_path):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = extract_stream(spark, corpus_path, out, ckpt, available_now=True)
    q.awaitTermination(120)

    stream_spans = _spans_set(spark, out)
    batch = extractor.extracted_spans(spark.read.parquet(corpus_path))
    batch_spans = {
        (r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in batch.collect()
    }
    assert stream_spans == batch_spans


def test_uri_lineage_path_resumes(spark, tmp_path, corpus_path):
    """A ``file://`` lineage path resumes like a plain one: the second run
    skips every bucket, and the committed counts read back through it."""
    from doc_agent_spark.sinks.metrics import committed_outputs

    out, met = str(tmp_path / "o"), str(tmp_path / "m")
    lin = (tmp_path / "l").as_uri()
    first = run_extract(spark, corpus_path, out, lin, met, run_id="u1", buckets=8)
    assert first["docs_processed"] == N
    again = run_extract(spark, corpus_path, out, lin, met, run_id="u1", buckets=8)
    assert again["resumed_buckets_skipped"] == 8
    assert again["docs_processed"] == 0
    counts = committed_outputs(spark, lin, "u1", "extract")
    assert counts == committed_outputs(spark, str(tmp_path / "l"), "u1", "extract")
    assert sum(docs for docs, _ in counts.values()) == N
