"""Workload ``extract``: the paper's headline job.

``operators.extractor.extract`` over a seeded ``corpus.make_doc`` corpus into
the noop sink, first on ``local[nproc]``, then on ``local[1]`` for the
scaling pair. Both legs use plain 1-cpu task slots. The order-insensitive
fingerprint over ``(doc_id, order, kind, text, media_ref)`` must be equal on
both legs, and a seeded sample of documents must match in-process
``spec.extract_document_cols`` span for span. The traced run also traces
one serve session (see ``w_serve``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from statistics import median

import w_serve
from common import (WORK, Tracer, get_spark, group_stats, noop, reduce_event_log,
                    self_times, stop_jvm)

# One file (one task: small files are never packed together) per core, so
# a pass is one even wave. Each task has a fixed cost of about 0.6 s on a
# 4-core host, so more, smaller files would measure mostly task start-up.
DOCS_PER_CORE = 3000
FILES_PER_CORE = 1
SAMPLE = 64
SPEC_DOCS = 1500
SELF_SPANS = ("extract.pass", "extract.fingerprint", "extract.check",
              "sources.scan", "extractor.decode", "sinks.parquet_write",
              "spec.extract")


def passes(seconds: int) -> tuple[int, int]:
    """Fixed work per run: nproc-leg and 1-core-leg passes over the corpus,
    about ``seconds`` of passes in all on a 4-core host (a 1-core pass takes
    about three nproc passes)."""
    return max(4, seconds * 2 // 3), max(2, seconds // 5)


def ensure_corpus(seed: int, n_docs: int, n_files: int) -> tuple[str, int]:
    """The seeded corpus as ``n_files`` parquet files (one input split
    each), cached by (seed, size). Returns (path, spans_in)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from doc_agent_spark.corpus import make_doc
    from doc_agent_spark.schema import DOCUMENTS_SPANS
    from pyspark.sql.pandas.types import to_arrow_schema

    path = os.path.join(WORK, "corpus", f"spans_s{seed}_n{n_docs}_f{n_files}")
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)["spans_in"]
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    schema = to_arrow_schema(DOCUMENTS_SPANS)
    spans_in, per = 0, -(-n_docs // n_files)
    for k in range(n_files):
        rows = [make_doc(i, seed) for i in range(k * per, min(n_docs, (k + 1) * per))]
        spans_in += sum(len(r["spans"]) for r in rows)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.replace(tmp, path)
    with open(meta, "w") as f:
        json.dump({"spans_in": spans_in}, f)
    return path, spans_in


def decode_only(batches):
    """The extractor's Arrow decode (flatten + primitive ``to_pylist``)
    with no spec call: one output row per batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        col = batch.column(1)
        flat = col.flatten()
        batch.column(0).to_pylist()
        flat.field("text").to_pylist()
        flat.field("media_ref").to_pylist()
        flat.field("offset").to_pylist()
        pc.list_value_length(col).to_pylist()
        yield pa.RecordBatch.from_pydict({"n": pa.array([batch.num_rows], pa.int64())})


def fingerprint(spark, path: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from doc_agent_spark.operators import extractor

    flat = extractor.extracted_spans(spark.read.parquet(path))
    row = flat.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64("doc_id", "order", "kind", "text", "media_ref")
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["rows"]), int(row["h"] or 0)


def check_sample(spark, path: str, seed: int, n_docs: int) -> bool:
    """A seeded sample of documents extracted by Spark equals the
    in-process spec span for span."""
    from pyspark.sql import functions as F

    from doc_agent_spark import spec
    from doc_agent_spark.corpus import make_doc
    from doc_agent_spark.operators import extractor

    idx = random.Random(seed).sample(range(n_docs), min(SAMPLE, n_docs))
    docs = [make_doc(i, seed) for i in idx]
    want = {}
    for d in docs:
        sp = d["spans"]
        r = spec.extract_document_cols(
            d["doc_id"], [s["text"] for s in sp], [s["media_ref"] for s in sp],
            [s["offset"] for s in sp])
        want[d["doc_id"]] = (r["parse_failure"], [
            (s["order"], s["kind"], s["text"], s["media_ref"]) for s in r["out_spans"]])
    got = extractor.extract(
        spark.read.parquet(path).filter(F.col("doc_id").isin(list(want)))
    ).select("doc_id", "parse_failure", "out_spans").collect()
    have = {r["doc_id"]: (r["parse_failure"], [
        (s["order"], s["kind"], s["text"], s["media_ref"]) for s in r["out_spans"]])
        for r in got}
    return have == want


def spec_rate(path: str) -> float:
    """In-process ``spec.extract_document_cols`` docs/s on one core over
    lists decoded up front, with no Spark."""
    import pyarrow.dataset as ds

    from doc_agent_spark import spec

    table = ds.dataset(path, format="parquet").head(SPEC_DOCS)
    docs = []
    for did, spans in zip(table.column("doc_id").to_pylist(),
                          table.column("spans").to_pylist()):
        docs.append((did, [s["text"] for s in spans], [s["media_ref"] for s in spans],
                     [s["offset"] for s in spans]))
    t = time.perf_counter()
    for d in docs:
        spec.extract_document_cols(*d)
    return len(docs) / (time.perf_counter() - t)


def run(seed: int, seconds: int, trace: bool, host: dict) -> dict:
    from doc_agent_spark.operators import extractor

    nproc = host["nproc"]
    n_docs, n_files = DOCS_PER_CORE * nproc, FILES_PER_CORE * nproc
    n_hi, n_lo = passes(seconds)
    event_dir = os.path.join(WORK, "eventlog", f"extract_{os.getpid()}") if trace else None
    failed = attempted = 0

    # setup: JVM, corpus and the leg's fingerprint job, which runs the whole
    # extraction and so warms the JIT and the Python workers
    t0 = time.perf_counter()
    spark = get_spark(nproc, event_dir)
    path, spans_in = ensure_corpus(seed, n_docs, n_files)
    fp_hi = fingerprint(spark, path)
    setup = time.perf_counter() - t0
    tr = Tracer(trace, spark)

    def one_pass(traced: bool) -> float:
        t = time.perf_counter()
        if traced:
            with tr.span("extract.pass", group=True):
                noop(extractor.extract(spark.read.parquet(path)))
        else:
            noop(extractor.extract(spark.read.parquet(path)))
        return time.perf_counter() - t

    hi, untraced = [], []
    for _ in range(n_hi):
        if trace:   # interleaved so warm-up drift does not bias the overhead
            untraced.append(one_pass(False))
        hi.append(one_pass(trace))
    attempted += n_hi
    with tr.span("extract.check", group=True):
        sample_ok = check_sample(spark, path, seed, n_docs)
    attempted += 1
    failed += not sample_ok

    layers: dict = {}
    if trace:
        def timed(name: str, fn, reps: int) -> float:
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                with tr.span(name, group=True):
                    fn()
                ts.append(time.perf_counter() - t)
            return median(ts)

        docs = lambda: spark.read.parquet(path).select("doc_id", "spans")  # noqa: E731
        scan = timed("sources.scan", lambda: noop(docs()), 3)
        decode = timed("extractor.decode",
                       lambda: noop(docs().mapInArrow(decode_only, "n long")), 3)
        out = os.path.join(WORK, "extract_out")
        write = timed("sinks.parquet_write", lambda: extractor.extract(
            spark.read.parquet(path)).write.mode("overwrite").parquet(out), 2)
        shutil.rmtree(out)
        m = extractor.extraction_metrics(extractor.extract(spark.read.parquet(path))).first()
        with tr.span("spec.extract"):
            rate = spec_rate(path)
        full = median(hi)
        compute = n_docs / (rate * nproc)
        layers.update({
            "sources.scan_s": scan,
            "extractor.decode_s": decode,
            "extractor.full_s": full,
            "spec.docs_per_core_s": rate,
            "extractor.transport_share": max(0.0, decode - scan) / full,
            "extractor.compute_share": min(1.0, compute / full),
            "extractor.encode_share": max(0.0, full - decode - compute) / full,
            "sinks.parquet_write_s": max(0.0, write - full),
            "extract.docs": m["docs_processed"],
            "extract.spans_in": spans_in,
            "extract.spans_out": m["spans_emitted"],
            "extract.parse_failures": m["parse_failures"],
        })

    # 1-core leg: same JVM, a fresh local[1] context
    t0 = time.perf_counter()
    spark.stop()
    spark = get_spark(1, event_dir)
    tr.spark = spark
    with tr.span("extract.fingerprint", group=True):
        fp_lo = fingerprint(spark, path)
    setup += time.perf_counter() - t0
    lo = []
    for _ in range(n_lo):
        t = time.perf_counter()
        noop(extractor.extract(spark.read.parquet(path)))
        lo.append(time.perf_counter() - t)
    attempted += n_lo
    spark.stop()
    attempted += 1
    same = fp_hi == fp_lo and fp_hi[0] > 0
    failed += not same

    rate_hi, rate_lo = n_docs / median(hi), n_docs / median(lo)
    eff = rate_hi / rate_lo / nproc
    result = {
        "attempted": attempted, "failed": failed,
        "e2e": {
            "setup_s": setup,
            "wall_s": sum(hi) + sum(lo),
            "rate_per_s": rate_hi,
            "op_ms": median(hi) * 1e3,
        },
        "named": {"docs_per_s": rate_hi, "scaling_eff": eff if same else None},
        "layers": layers,
        "info": {"docs": n_docs, "pass_s": {"nproc": hi, "1core": lo},
                 "fingerprint_equal": same, "sample_ok": sample_ok},
    }
    if trace:
        ev = group_stats(reduce_event_log(event_dir), "extract.pass")
        shutil.rmtree(event_dir)
        layers.update({
            "extract.scaling_eff": eff if same else 0.0,
            "extract.executor_run_s": ev["executor_run_s"] / n_hi,
            "extract.executor_cpu_s": ev["executor_cpu_s"] / n_hi,
            "extract.jvm_gc_s": ev["jvm_gc_s"] / n_hi,
            "extract.tasks": ev["tasks"] / n_hi,
            "trace.wall_s": sum(hi),
            "trace.overhead_s": sum(hi) - sum(untraced),
        })
        st = self_times(tr.spans)
        for name in SELF_SPANS:
            layers[f"self.{name}_s"] = st.get(name, 0.0)
        # the serve layers, in their own JVM once this one has ended
        stop_jvm()
        srv = w_serve.traced(seed, seconds, nproc)
        result["attempted"] += srv["attempted"]
        result["failed"] += srv["failed"]
        layers.update(srv["layers"])
        result["info"]["serve"] = srv["info"]
    return result
