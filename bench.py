"""Operator-suite and skew runner — prints ONE JSON line.

    python bench.py          # extraction keys + the 50-entry operator suite
    python bench.py suite    # the suite alone
    python bench.py skew     # the skew-lever phase alone

The default run takes ``docs_per_sec``, ``queries.extraction_corpus`` and
``scaling`` (the 1 → nproc pair) from one run of the benchmark,
``perfbench/run.py --workload extract --seed 1 --seconds 10``, and exits
nonzero when that run fails its output or fingerprint checks.

Env knobs:
  SPARK_GRAFT_SF_DIR   suite table dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] of the suite and skew sessions (default nproc)
  BENCH_SKEW=1         the default run also runs the skew phase
  BENCH_SKEW_DOCS      skew corpus size (default 200000)

Methodology:
- Every phase runs in its OWN subprocess (fresh JVM), like spark-submit:
  heap garbage left by one phase GC-throttles the next.
- Sessions are perfbench's (``common.get_spark``, ``common.driver_memory``
  heap), so both size the JVM the same way for the host.
- A warm-up job precedes the timed entries (Python worker pool spin-up).
- Timings are action-to-completion against a noop sink — never session
  startup, never collect.
- The suite runs each entry under a Spark job group named after it with the
  event log on; ``stages`` holds each entry's summed task metrics
  (``common.reduce_event_log``), plus "" (jobs outside any entry: the
  warm-up) and "*" (every task).
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from perfbench import common

ROOT = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.join(ROOT, ".bench")


def timed(thunk) -> tuple[float, float]:
    """Wall of building a DataFrame with ``thunk`` and running it into a
    noop sink, and the part of it that was CONSTRUCTION (index builds,
    eager checkpoints, model-sized collects) — so index-bearing entries
    read as build+query instead of looking like slow scans."""
    t = time.time()
    df = thunk()
    built = time.time() - t
    common.noop(df)
    return time.time() - t, built


def session(cores: int, event_dir: str | None = None):
    os.environ["SPARK_DRIVER_MEMORY"] = common.driver_memory(common.host()["mem_gb"])
    return common.get_spark(cores, event_dir)


# ---------------------------------------------------------------------------
# phases (each runs in its own subprocess / JVM)
# ---------------------------------------------------------------------------

def phase_suite(cpus: int, sf_dir: str) -> dict:
    import pandas as pd

    import __spark_entry__ as entrymod

    event_dir = os.path.join(BENCH_DIR, f"eventlog_{os.getpid()}")
    spark = session(cpus, event_dir)
    sc = spark.sparkContext
    # warm the python worker pool so per-query numbers measure the query,
    # not one-time worker spin-up
    common.noop(spark.range(10000).repartition(cpus).mapInPandas(
        lambda it: (pd.DataFrame({"n": [len(b)]}) for b in it), "n long"))
    qmap = entrymod.queries()  # every registered entry, all union arms each
    out = {}
    build = {}
    for name in qmap:
        sc.setJobGroup(name, name)
        total, built = timed(lambda: qmap[name](spark, sf_dir))
        sc.setJobGroup("", "")
        out[name] = round(total, 3)
        if built >= 0.5:  # report construction only where it matters
            build[name] = round(built, 3)
        # let the ContextCleaner unpersist this entry's localCheckpoint
        # blocks / broadcasts before the next one: lingering blocks measured
        # a 5.7x in-suite slowdown on checkpoint-heavy entries
        gc.collect()
        sc._jvm.System.gc()
    spark.stop()  # closes the event log
    reduced = common.reduce_event_log(event_dir)
    shutil.rmtree(event_dir)
    stages = {g: {k: round(v, 3) for k, v in common.group_stats(reduced, g).items()}
              for g in [*qmap, "", "*"]}
    if sum(stages[g]["tasks"] for g in [*qmap, ""]) != stages["*"]["tasks"]:
        raise RuntimeError(f"event log holds jobs of unknown groups: {sorted(reduced)}")
    return {"times": out, "build": build, "stages": stages}


def ensure_skew_corpus(spark, n_docs: int) -> str:
    """A corpus with a PATHOLOGICAL layout: every media-heavy doc (2%, 50-200
    spans each — ~45% of total span mass) packed into ONE parquet file, the
    rest spread over many — a crawl shard of media-rich documents landing
    in one input split."""
    path = os.path.join(BENCH_DIR, f"skew_{n_docs}.parquet")
    if os.path.exists(path + "/_SUCCESS"):
        return path
    from pyspark.sql import functions as F

    from doc_agent_spark.corpus import make_doc
    from doc_agent_spark.schema import DOCUMENTS_SPANS

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                d = make_doc(int(i))
                if int(i) % 50 == 0:  # force-heavy 2%: replicate spans to 50-200
                    base = d["spans"]
                    k = 50 + (int(i) // 50) % 151
                    d["spans"] = [
                        {**base[j % len(base)], "offset": j} for j in range(k)
                    ]
                rows.append(d)
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    os.makedirs(BENCH_DIR, exist_ok=True)
    tmp = path + "._tmp"
    df = (
        spark.range(n_docs)
        .repartition(64)
        .mapInPandas(gen, DOCUMENTS_SPANS)
        .withColumn("is_heavy", F.size("spans") > 32)
    )
    # one file for ALL heavy docs, 63 for the light rest
    df.repartition(64, "is_heavy").drop("is_heavy").write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)
    return path


def phase_skew(cpus: int, n_docs: int) -> dict:
    """Quantifies the two skew levers (plans/skew.py) on the pathological
    layout: naive narrow plan (straggler-bound) vs salted spread vs
    heavy-doc split/regroup. Same outputs in all three (tested in
    tests/test_extractor.py); this phase measures walls only."""
    from doc_agent_spark.operators import extractor
    from doc_agent_spark.plans.skew import split_heavy, spread_by_doc

    spark = session(cpus)
    path = ensure_skew_corpus(spark, n_docs)
    docs = spark.read.parquet(path)

    def best_of_2(thunk) -> float:
        return round(min(timed(thunk)[0] for _ in range(2)), 3)

    timed(lambda: extractor.extract(docs.limit(2000)))  # warm pool
    out = {
        "naive_sec": best_of_2(lambda: extractor.extract(docs)),
        "salted_spread_sec": best_of_2(
            lambda: extractor.extract(spread_by_doc(docs, cpus * 4))),
        "split_heavy_sec": best_of_2(lambda: extractor.extract(
            split_heavy(docs, max_spans=32, num_partitions=cpus * 4))),
    }
    spark.stop()
    return out


def _last_lines(n: int, *args: str) -> list[dict]:
    """Run ``args`` in a fresh python/JVM subprocess; its JSON records are
    the last ``n`` stdout lines (Spark banners precede them)."""
    proc = subprocess.run([sys.executable, *args], cwd=ROOT, capture_output=True, text=True, timeout=3600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{args} failed rc={proc.returncode}")
    return [json.loads(line) for line in proc.stdout.strip().splitlines()[-n:]]


def extraction() -> dict:
    """The perfbench ``extract`` run's figures under bench.py's keys."""
    head, tail = _last_lines(2, os.path.join(ROOT, "perfbench", "run.py"),
                             "--workload", "extract", "--seed", "1", "--seconds", "10")
    info = head["info"]
    if not (tail["correct"] and info["fingerprint_equal"]):
        raise SystemExit(f"perfbench extract failed its checks: {json.dumps(tail)} {json.dumps(info)}")
    docs, passes = info["docs"], info["pass_s"]
    pair = {
        "n_small": 1, "n_large": head["host"]["nproc"],
        "docs_per_sec_small": round(docs / statistics.median(passes["1core"]), 1),
        "docs_per_sec_large": round(head["metrics"]["docs_per_s"]["value"], 1),
        "efficiency": round(head["metrics"]["scaling_eff"]["value"], 3),
    }
    return {"n_docs": docs, "sec": round(statistics.median(passes["nproc"]), 3),
            "scaling": {**pair, "identical_results": info["fingerprint_equal"],
                        "all_pairs": [pair]}}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or common.host()["nproc"])
    sf = sf_dir.rstrip("/").split("sf")[-1]

    if len(sys.argv) > 1:  # phase mode
        phase = sys.argv[1]
        if phase == "suite":
            print(json.dumps(phase_suite(cpus, sf_dir)))
        elif phase == "skew":
            print(json.dumps(phase_skew(cpus, int(os.environ.get("BENCH_SKEW_DOCS", "200000")))))
        else:
            raise SystemExit(f"unknown phase {phase!r}: expected suite or skew")
        return

    ext = extraction()
    suite = _last_lines(1, os.path.join(ROOT, "bench.py"), "suite")[0]
    queries = {"extraction_corpus": ext["sec"], **suite["times"]}
    result = {
        "metric": "extraction throughput (perfbench extract) + operator suite",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        # construction share (index build / eager checkpoint / model
        # collect) of each entry whose build cost is material — these are
        # build+query entries, not slow scans
        "queries_build_sec": suite["build"],
        "queries_stages": suite["stages"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": ext["n_docs"],
        "docs_per_sec": ext["scaling"]["docs_per_sec_large"],
        "cpus": cpus,
        "scaling": ext["scaling"],
    }
    if os.environ.get("BENCH_SKEW") == "1":
        result["skew"] = _last_lines(1, os.path.join(ROOT, "bench.py"), "skew")[0]
    print(json.dumps(result))


if __name__ == "__main__":
    main()
