"""The span-sequence equality gate (north_rule): the distributed pipeline's
output must equal the oracle's per-document `(kind, text, media_ref, order)`
sequence on the synthetic interleaved corpus — including the skewed
media-heavy tail and the split-heavy plan variant.
"""

import pytest

from pyspark.sql import functions as F

from doc_agent_spark import corpus, spec
from doc_agent_spark.operators import extractor
from doc_agent_spark.plans.skew import split_heavy, spread_by_doc
from doc_agent_spark.schema import DOCUMENTS_SPANS

N_DOCS = 400


@pytest.fixture(scope="module")
def docs(spark):
    rows = list(corpus.gen_docs(N_DOCS))
    # ensure at least one skewed doc in the test slice
    assert any(len(d["spans"]) >= 50 for d in rows) or N_DOCS < 300
    return spark.createDataFrame(rows, DOCUMENTS_SPANS).repartition(7).cache()


def oracle_spans(rows):
    out = {}
    for d in rows:
        r = spec.extract_document(d["doc_id"], [dict(s) for s in d["spans"]])
        out[d["doc_id"]] = [(s["order"], s["kind"], s["text"], s["media_ref"]) for s in r["out_spans"]]
    return out


@pytest.fixture(scope="module")
def golden():
    return oracle_spans(list(corpus.gen_docs(N_DOCS)))


def collect_spans(df):
    got = {}
    for r in df.collect():
        got.setdefault(r.doc_id, []).append((r.order, r.kind, r.text, r.media_ref))
    for v in got.values():
        v.sort()
    return got


def test_span_sequence_equality(spark, docs, golden):
    got = collect_spans(extractor.extracted_spans(docs))
    assert set(got) == set(golden)
    for doc_id in golden:
        assert got[doc_id] == golden[doc_id], f"span mismatch for {doc_id}"


def test_split_heavy_plan_same_result(spark, docs, golden):
    routed = split_heavy(docs, max_spans=16)
    got = collect_spans(extractor.extracted_spans(routed))
    assert got == golden


def test_salted_spread_same_result(spark, docs, golden):
    got = collect_spans(extractor.extracted_spans(spread_by_doc(docs, 13)))
    assert got == golden


def test_metrics(spark, docs):
    res = extractor.extract(docs)
    m = extractor.extraction_metrics(res).collect()[0]
    assert m.docs_processed == N_DOCS
    assert m.spans_emitted > N_DOCS  # at least doc_type per doc + more
    assert m.parse_failures >= 0


def test_extraction_fields_sane(spark, docs):
    res = extractor.extract(docs).cache()
    types = {r.type for r in res.select("type").distinct().collect()}
    assert types <= {"invoice", "receipt", "bank_statement", "other"}
    # receipts/invoices/statements dominate the corpus
    typed = res.filter(F.col("type") != "other").count()
    assert typed > N_DOCS * 0.5
    # amounts parsed for non-malformed docs
    with_amount = res.filter(F.col("amount").isNotNull()).count()
    assert with_amount > N_DOCS * 0.5
    res.unpersist()


def test_deterministic_across_parallelism(spark, docs):
    one = collect_spans(extractor.extracted_spans(docs.coalesce(1)))
    eight = collect_spans(extractor.extracted_spans(docs.repartition(8)))
    assert one == eight


def test_cols_path_bit_exact():
    """spec.extract_document_cols (the Arrow worker's columnar entry) must be
    bit-exact with the dict path on every corpus shape, including media spans,
    null-ish offsets, and whitespace-only pages."""
    for d in corpus.gen_docs(600):
        spans = d["spans"]
        a = spec.extract_document(d["doc_id"], [dict(s) for s in spans])
        b = spec.extract_document_cols(
            d["doc_id"],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [0 if s["offset"] is None else s["offset"] for s in spans],
        )
        assert a == b, d["doc_id"]
