"""Launch ``doc_agent_spark.serve`` with span wrappers installed.

    python perfbench/serve_traced.py <spans.json> --stdio --cache-dir <dir> ...

Everything after the spans path goes to ``serve.main``. The wrappers are
set on module attributes in this process only; no program file changes.
Spans (one ``serve.request`` per request, with op, mode and cache outcome,
and its children) are written to ``<spans.json>`` when stdin closes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer  # noqa: E402


class _TimedJson:
    """Stands in for the ``json`` module inside ``serve``: the response
    encode is timed as ``serve.serialize``; row decoding passes through."""

    def __init__(self, tracer: Tracer):
        self.loads = json.loads
        self.dumps = tracer.wrap("serve.serialize", json.dumps)


def install(tracer: Tracer) -> None:
    from pyspark.rdd import RDD

    from doc_agent_spark import api, cache, serve

    run_op = serve._run_op
    seq = iter(range(1, 1 << 62))

    def traced_run_op(spark, op, params, row_limit, cache=None):
        with tracer.span("serve.request", rid=f"req-{next(seq)}") as rec:
            rec["op"], rec["mode"] = op, params.get("mode")
            rows, dbg = run_op(spark, op, params, row_limit, cache)
            rec["hit"] = bool(dbg and dbg.get("hit"))
            return rows, dbg

    serve._run_op = traced_run_op
    serve.json = _TimedJson(tracer)
    cache.input_fingerprint = tracer.wrap("cache.fingerprint", cache.input_fingerprint)
    cache.ResultCache.lookup = tracer.wrap("cache.lookup", cache.ResultCache.lookup)
    cache.ResultCache.store = tracer.wrap("cache.store", cache.ResultCache.store)
    api.execute = tracer.wrap("api.plan", api.execute)
    RDD.collect = tracer.wrap("serve.execute", RDD.collect)


def main() -> int:
    out, argv = sys.argv[1], sys.argv[2:]
    tracer = Tracer(True)
    install(tracer)
    from doc_agent_spark import serve

    try:
        return serve.main(argv)
    finally:
        tracer.dump(out)


if __name__ == "__main__":
    sys.exit(main())
