"""Metric definitions: the single source BENCHMARK.json is checked against.

    python3 perfbench/metrics.py > BENCHMARK.json   # write the manifest
    python3 perfbench/metrics.py --check            # exit 1 if it differs

Each workload reports every end-to-end metric; what the generic names mean
on each workload is in perfbench/README.md. Per-layer metrics are grouped by
the end-to-end metric and workload they should move (see README.md).
"""

from __future__ import annotations

import json
import os
import sys

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = {
    "extract": "headline job: Python-compute-bound narrow extraction at local[nproc] "
               "then local[1]; moves sources/extractor/spec only; its traced run also "
               "traces a serve session",
    "pipeline": "write-heavy cold run of jobs.pipeline into a fresh workdir, then "
                "read-only resumes of the same call: jobs/ and sinks/ commit paths",
}

# name -> (unit, better, bound). On a shared 4-vCPU VM the speed of a core
# drifts by up to 1.6x over seconds to minutes and sets of ten runs of these
# workloads spread by 0.08-0.28, so every bound is the largest allowed.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "rate_per_s": ("1/s", "higher", 0.25),
    "op_ms": ("ms", "lower", 0.25),
}

# The workload-specific end-to-end figures under their own names, printed
# in the info line before the result (name -> unit). A workload reports the
# ones it measures; scaling_eff only when both legs' fingerprints match.
NAMED = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "scaling_eff": "ratio",
    "resume_s": "s",
    "peak_rss_mb": "MB",
}

_L = "lower"
_H = "higher"
PER_LAYER = {
    # extract -> rate_per_s / op_ms on extract
    "sources.scan_s": ("s", _L),
    "extractor.decode_s": ("s", _L),
    "extractor.full_s": ("s", _L),
    "spec.docs_per_core_s": ("docs/s", _H),
    "extractor.transport_share": ("ratio", _L),
    "extractor.compute_share": ("ratio", _H),
    "extractor.encode_share": ("ratio", _L),
    "extract.docs": ("count", _H),
    "extract.spans_in": ("count", _H),
    "extract.spans_out": ("count", _H),
    "extract.parse_failures": ("count", _L),
    "extract.scaling_eff": ("ratio", _H),
    "extract.executor_run_s": ("s", _L),
    "extract.executor_cpu_s": ("s", _L),
    "extract.jvm_gc_s": ("s", _L),
    "extract.tasks": ("count", _L),
    # sinks -> wall_s on pipeline
    "sinks.parquet_write_s": ("s", _L),
    # pipeline -> wall_s / rate_per_s (cold) and op_ms (resume)
    "jobs.extract_s": ("s", _L),
    "jobs.bridge_s": ("s", _L),
    "jobs.curate_s": ("s", _L),
    "jobs.pack_s": ("s", _L),
    "jobs.index_s": ("s", _L),
    "jobs.extract_resume_s": ("s", _L),
    "jobs.bridge_resume_s": ("s", _L),
    "jobs.curate_resume_s": ("s", _L),
    "jobs.pack_resume_s": ("s", _L),
    "jobs.index_resume_s": ("s", _L),
    "pipeline.bytes_extracted": ("bytes", _L),
    "pipeline.bytes_documents": ("bytes", _L),
    "pipeline.bytes_curated": ("bytes", _L),
    "pipeline.bytes_packed": ("bytes", _L),
    "pipeline.bytes_index": ("bytes", _L),
    "pipeline.bytes_per_input_byte": ("ratio", _L),
    "pipeline.lineage_rows": ("count", _L),
    "pipeline.resume_reuse_ratio": ("ratio", _H),
    "pipeline.shuffle_read_bytes": ("bytes", _L),
    "pipeline.shuffle_write_bytes": ("bytes", _L),
    "pipeline.spill_bytes": ("bytes", _L),
    "pipeline.executor_cpu_s": ("s", _L),
    "pipeline.tasks": ("count", _L),
    "pipeline.resume_s": ("s", _L),
    # serve session of the traced extract run -> serve request latency
    # (not gated: see perfbench/w_serve.py)
    "cache.fingerprint_ms": ("ms", _L),
    "cache.lookup_ms": ("ms", _L),
    "cache.store_ms": ("ms", _L),
    "api.plan_ms": ("ms", _L),
    "serve.execute_ms": ("ms", _L),
    "serve.serialize_ms": ("ms", _L),
    "serve.transport_ms": ("ms", _L),
    "serve.miss_execute_ms.keyword": ("ms", _L),
    "serve.miss_execute_ms.hybrid": ("ms", _L),
    "serve.miss_execute_ms.media": ("ms", _L),
    "serve.miss_execute_ms.rag": ("ms", _L),
    "serve.miss_execute_ms.semantic": ("ms", _L),
    "serve.miss_execute_ms.list": ("ms", _L),
    "serve.hit_ratio": ("ratio", _H),
    "serve.miss_p50_ms": ("ms", _L),
    "serve.hit_p50_ms": ("ms", _L),
    "serve.misses": ("count", _H),
    "serve.hits": ("count", _H),
    # self time of each traced span (duration minus child spans)
    "self.extract.pass_s": ("s", _L),
    "self.extract.check_s": ("s", _L),
    "self.extract.fingerprint_s": ("s", _L),
    "self.sources.scan_s": ("s", _L),
    "self.extractor.decode_s": ("s", _L),
    "self.sinks.parquet_write_s": ("s", _L),
    "self.spec.extract_s": ("s", _L),
    "self.pipeline.cold_s": ("s", _L),
    "self.pipeline.resume_s": ("s", _L),
    "self.serve.request_s": ("s", _L),
    # peak summed RSS of every process the traced run starts
    "run.peak_rss_mb": ("MB", _L),
    # traced wall_s of the workload, and traced minus untraced wall_s
    "trace.wall_s": ("s", _L),
    "trace.overhead_s": ("s", _L),
}


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": d}
                       for n, (u, b, d) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    if "--check" not in sys.argv:
        print(json.dumps(manifest(), indent=2))
        sys.exit(0)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        same = json.load(f) == manifest()
    print("BENCHMARK.json matches" if same else "BENCHMARK.json differs")
    sys.exit(0 if same else 1)
