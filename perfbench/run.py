"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Runs one workload (see metrics.WORKLOADS) from the root of a checkout,
builds its inputs from ``--seed`` under ``.perfbench_work/``, checks every
output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set, with ``--trace 1`` the per-layer set
(layers a workload does not exercise report 0). The line before it is an
info record: workload, seed, host, the workload's end-to-end figures under
their own names (metrics.NAMED), legs and checks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import metrics  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be importable from the checkout root
    sys.path.insert(0, common.ROOT)
    importlib.import_module("doc_agent_spark")
    os.chdir(common.ROOT)
    host = common.host()
    common.configure_env(host)

    module = importlib.import_module(f"w_{args.workload}")
    try:
        with common.RssSampler(os.getpid()) as rss:
            res = module.run(args.seed, args.seconds, bool(args.trace), host)
    finally:
        common.stop_jvm()
    if args.trace:
        wanted = metrics.PER_LAYER
        layers = {**res["layers"], "run.peak_rss_mb": rss.peak_mb}
        values = {name: layers.get(name, 0.0) for name in wanted}
    else:
        wanted = metrics.END_TO_END
        values = res["e2e"]
    out = {name: {"value": float(values[name]), "unit": spec[0]}
           for name, spec in wanted.items()}
    named = {"setup_s": res["e2e"]["setup_s"], "wall_s": res["e2e"]["wall_s"],
             **res["named"], "peak_rss_mb": rss.peak_mb}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace, "host": host,
                      "metrics": {n: {"value": v, "unit": metrics.NAMED[n]}
                                  for n, v in named.items() if v is not None},
                      "info": res["info"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
