"""Workload ``pipeline``: the write-heavy run.

``jobs.pipeline.run_pipeline`` on a seeded spans corpus into a fresh workdir
(the cold leg: bucketed extract output, the bridge, curate, pack, nine index
artifacts and lineage), then the identical call on the same workdir, which
must resume or reuse every stage and only read (the resume legs). Every
committed artifact's row count and order-insensitive hash after the resume
legs must equal the cold leg's.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

from common import (WORK, Tracer, dataset_fingerprint, dir_bytes, get_spark,
                    reduce_event_log, self_times, span_totals)
from w_extract import ensure_corpus

DOCS = 1000
FILES = 4
BUCKETS = 2
SHARDS = 2
# A resume leg is a few seconds of driver-bound work that follows the
# drift of single cores; the median of four is steadier than one or two.
RESUMES = 4
# The traced run repeats its legs three times (the first set warms the
# JVM for the traced and untraced ones), so each set resumes once.
TRACE_RESUMES = 1
INDEX_ARTIFACTS = 9
STAGES = ("extract", "bridge", "curate", "pack", "index")
STAGE_DIRS = ("extracted", "documents", "curated", "packed", "index")


def artifacts(workdir: str) -> list[str]:
    index = os.path.join(workdir, "index")
    return [os.path.join(workdir, d) for d in STAGE_DIRS[:-1]] + sorted(
        os.path.join(index, d) for d in os.listdir(index)
        if os.path.isdir(os.path.join(index, d)))


def fingerprints(workdir: str) -> dict:
    return {os.path.relpath(p, workdir): dataset_fingerprint(p)
            for p in artifacts(workdir)}


def resumed_fully(st: dict) -> bool:
    return (st["extract"]["resumed_buckets_skipped"] == BUCKETS
            and st["bridge"].get("resumed") is True
            and st["curate"]["resumed_buckets_skipped"] == BUCKETS
            and st["pack"]["resumed_shards_skipped"] == SHARDS
            and st["index"]["artifacts_reused"] == INDEX_ARTIFACTS)


def reuse_ratio(st: dict) -> float:
    reused = (st["extract"]["resumed_buckets_skipped"] + int(bool(st["bridge"].get("resumed")))
              + st["curate"]["resumed_buckets_skipped"] + st["pack"]["resumed_shards_skipped"]
              + st["index"]["artifacts_reused"])
    return reused / (BUCKETS + 1 + BUCKETS + SHARDS + INDEX_ARTIFACTS)


class StageTracer:
    """Wraps the stage functions ``jobs.pipeline`` calls, naming each span
    ``jobs.<stage>`` on the cold leg and ``jobs.<stage>_resume`` after it."""

    def __init__(self, tracer: Tracer):
        import jobs.pipeline as jp

        self.tracer, self.leg = tracer, "cold"
        for attr, stage in (("run_extract", "extract"), ("build_documents", "bridge"),
                            ("run_curate", "curate"), ("run_pack", "pack"),
                            ("run_index", "index")):
            setattr(jp, attr, self._wrap(stage, getattr(jp, attr)))

    def _wrap(self, stage: str, fn):
        def traced(*a, **k):
            name = f"jobs.{stage}" + ("" if self.leg == "cold" else "_resume")
            with self.tracer.span(name, group=True):
                return fn(*a, **k)
        return traced


def legs(spark, tr: Tracer, stages: StageTracer | None, corpus: str, workdir: str,
         resumes: int) -> tuple[float, list[float], dict, list[dict], bool]:
    """One cold leg and ``resumes`` resume legs; the last flag is whether
    every artifact read the same after the resume legs as after the cold leg."""
    from jobs.pipeline import run_pipeline

    def call():
        return run_pipeline(spark, corpus, workdir, "bench", buckets=BUCKETS,
                            shards=SHARDS)

    shutil.rmtree(workdir, ignore_errors=True)
    if stages:
        stages.leg = "cold"
    t = time.perf_counter()
    with tr.span("pipeline.cold"):
        cold_stats = call()
    cold = time.perf_counter() - t
    fp = fingerprints(workdir)
    if stages:
        stages.leg = "resume"
    times, resume_stats = [], []
    for _ in range(resumes):
        t = time.perf_counter()
        with tr.span("pipeline.resume"):
            resume_stats.append(call())
        times.append(time.perf_counter() - t)
    return cold, times, cold_stats, resume_stats, fingerprints(workdir) == fp


def run(seed: int, seconds: int, trace: bool, host: dict) -> dict:
    """The cold leg runs in a fresh JVM with no warm-up, as a spark-submit
    of the job would: JIT warm-up is part of what a batch user waits for."""
    nproc = host["nproc"]
    event_dir = os.path.join(WORK, "eventlog", f"pipeline_{os.getpid()}") if trace else None
    wd = os.path.join(WORK, "pipeline")

    t0 = time.perf_counter()
    spark = get_spark(nproc, event_dir)
    corpus, _spans = ensure_corpus(seed, DOCS, FILES)
    setup = time.perf_counter() - t0

    n = TRACE_RESUMES if trace else RESUMES
    cold, resumes, cold_stats, resume_stats, kept = legs(
        spark, Tracer(False), None, corpus, os.path.join(wd, "run"), n)
    attempted = 2 + n
    failed = int(cold_stats["extract"]["docs_processed"] != DOCS)
    failed += sum(not resumed_fully(st) for st in resume_stats)
    failed += not kept
    info = {"docs": DOCS, "cold_s": cold, "resume_s": resumes, "artifacts_kept": kept,
            "resumed_fully": [resumed_fully(s) for s in resume_stats]}

    layers: dict = {}
    if trace:
        tr = Tracer(True, spark)
        stages = StageTracer(tr)
        twd = os.path.join(wd, "traced")
        t_cold, t_res, _, t_rstats, t_kept = legs(spark, tr, stages, corpus, twd,
                                                  TRACE_RESUMES)
        attempted += 1
        # a second fresh workdir rebuilds every artifact identically
        same = t_kept and fingerprints(twd) == fingerprints(os.path.join(wd, "run"))
        failed += not same
        info["rebuild_identical"] = same
        totals = span_totals(tr.spans)
        for stage in STAGES:
            layers[f"jobs.{stage}_s"] = totals.get(f"jobs.{stage}", 0.0)
            layers[f"jobs.{stage}_resume_s"] = (totals.get(f"jobs.{stage}_resume", 0.0)
                                                / TRACE_RESUMES)
        written = 0
        for d in STAGE_DIRS:
            b = dir_bytes(os.path.join(twd, d))
            layers[f"pipeline.bytes_{d}"] = b
            written += b
        layers["pipeline.bytes_per_input_byte"] = written / dir_bytes(corpus)
        import pyarrow.dataset as ds

        layers["pipeline.lineage_rows"] = ds.dataset(
            os.path.join(twd, "lineage"), format="parquet", partitioning="hive").count_rows()
        layers["pipeline.resume_reuse_ratio"] = min(reuse_ratio(s) for s in t_rstats)
        layers["pipeline.resume_s"] = median(t_res)
        # untraced again, as warm as the traced legs, for the overhead
        u_cold, u_res, *_ = legs(spark, Tracer(False), None, corpus,
                                 os.path.join(wd, "untraced"), TRACE_RESUMES)
        spark.stop()
        ev = reduce_event_log(event_dir)
        shutil.rmtree(event_dir)
        cold_groups = [v for k, v in ev.items() if k.startswith("jobs.")
                       and not k.endswith("_resume")]
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "executor_cpu_s", "tasks"):
            layers[f"pipeline.{key}"] = sum(g[key] for g in cold_groups)
        st = self_times(tr.spans)
        layers["self.pipeline.cold_s"] = st.get("pipeline.cold", 0.0)
        layers["self.pipeline.resume_s"] = st.get("pipeline.resume", 0.0)
        layers["trace.wall_s"] = t_cold + sum(t_res)
        layers["trace.overhead_s"] = t_cold + sum(t_res) - u_cold - sum(u_res)
    else:
        spark.stop()

    return {
        "attempted": attempted, "failed": failed,
        "e2e": {
            "setup_s": setup,
            "wall_s": cold + sum(resumes),
            "rate_per_s": DOCS / cold,
            "op_ms": median(resumes) * 1e3,
        },
        "named": {"docs_per_s": DOCS / cold, "resume_s": median(resumes)},
        "layers": layers,
        "info": info,
    }
