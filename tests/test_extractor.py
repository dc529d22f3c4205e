"""The span-sequence equality gate (north_rule): the distributed pipeline's
output must equal the oracle's per-document `(kind, text, media_ref, order)`
sequence on the synthetic interleaved corpus — including the skewed
media-heavy tail and the split-heavy plan variant.
"""

import hashlib
import json

import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from doc_agent_spark import corpus, spec
from doc_agent_spark.operators import extractor
from doc_agent_spark.plans.skew import split_heavy, spread_by_doc
from doc_agent_spark.schema import DOCUMENTS_SPANS, EXTRACTION_RESULT

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
        spans = d["spans"]
        r = spec.extract_document_cols(
            d["doc_id"],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [0 if s["offset"] is None else s["offset"] for s in spans],
        )
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


# sha256 of spec.extract_document_cols over corpus.gen_docs(600), one
# sort_keys JSON line per document, as the per-line extractor with the
# model-JSON finish through normalize_docdata produced it
GEN_DOCS_600_SHA256 = "1589e7af68be5a534a9d2942ab392c6101da7bcd02d368ca1c92db2858d49514"


def test_cols_path_bit_exact():
    """spec.extract_document_cols (the columnar entry perfbench calls) is
    bit-exact with the pinned output of the extractor it replaced, on every
    corpus shape, including media spans, null offsets and whitespace-only
    pages."""
    h = hashlib.sha256()
    for d in corpus.gen_docs(600):
        spans = d["spans"]
        r = spec.extract_document_cols(
            d["doc_id"],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [0 if s["offset"] is None else s["offset"] for s in spans],
        )
        h.update(json.dumps(r, sort_keys=True).encode() + b"\n")
    assert h.hexdigest() == GEN_DOCS_600_SHA256


def _per_doc_table(rows):
    """EXTRACTION_RESULT built one document at a time: a dict per document
    from spec.extract_document_cols, then one pa.array per field."""
    schema = to_arrow_schema(EXTRACTION_RESULT)
    results = [
        spec.extract_document_cols(
            str(d["doc_id"]),
            [s["text"] for s in d["spans"]],
            [s["media_ref"] for s in d["spans"]],
            [0 if s["offset"] is None else s["offset"] for s in d["spans"]],
        )
        for d in rows
    ]
    return pa.Table.from_batches([pa.RecordBatch.from_arrays(
        [pa.array([r[f.name] for r in results], type=f.type) for f in schema], schema=schema)])


def _span(text, ref="", offset=0, kind="text"):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


# documents the corpus does not make: no spans, null/whitespace pages, null
# offsets, a -0.00 amount, an item total that reads as inf, an item with an
# empty description, fold-trap keywords
EDGE_DOCS = [
    {"doc_id": "e-empty", "spans": []},
    {"doc_id": "e-blank", "spans": [_span(None), _span(" \n\t ", offset=1)]},
    {"doc_id": "e-null-offsets", "spans": [
        _span("Total  4.00\nSubtotal  4.00", "m://b", None), _span("ACME\nTax  0.00", "", None)]},
    {"doc_id": "e-neg-zero", "spans": [_span("SHOP\nSubtotal  1.00\nTotal  -0.00\nTax  0.00")]},
    {"doc_id": "e-inf", "spans": [_span("SHOP\n2x Big    " + "9" * 400 + ".00\nTotal  1.00\nTax  1.00")]},
    {"doc_id": "e-no-desc", "spans": [_span("Invoice #A-1\n1x    5.00\nAmount Due  5.00")]},
    {"doc_id": "e-fold", "spans": [_span("\u0131nvoice No: A-17\nTotal  5.00\n\u017fubtotal  4.00")]},
]


def test_batch_columns_equal_per_doc_build():
    """extract_batches_arrow builds its columns per batch (flat lists plus
    list offsets); the table must equal the per-document build, for every
    batch size, including a batch with no rows."""
    schema = to_arrow_schema(DOCUMENTS_SPANS)
    rows = list(corpus.gen_docs(1500)) + EDGE_DOCS
    table = pa.Table.from_pylist(rows, schema=schema)
    want = _per_doc_table(rows)
    out_schema = to_arrow_schema(EXTRACTION_RESULT)
    for size in (1, 7, 2048):
        batches = table.to_batches(max_chunksize=size)
        got = pa.Table.from_batches(list(extractor.extract_batches_arrow(iter(batches))),
                                    schema=out_schema)
        assert got.equals(want), size
    empty = list(extractor.extract_batches_arrow(iter([pa.RecordBatch.from_pylist([], schema=schema)])))
    assert len(empty) == 1 and empty[0].num_rows == 0 and empty[0].schema.equals(out_schema)
