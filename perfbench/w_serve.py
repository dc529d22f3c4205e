"""Serve layers: request latency as a serve user sees it.

Not a gated workload: its latency is bound to single driver threads, and
on a shared 4-vCPU VM its run-to-run spread reached the largest bound a
metric may have. The traced ``extract`` run ends with one traced session.

One closed-loop client drives ``python -m doc_agent_spark.serve --stdio
--cache-dir <fresh dir>`` over a seeded ``tools/gen_tier.py`` documents
table. Every third request is a new key, cycling through search_documents
(keyword, hybrid, media), rag_search, semantic_search and list_documents, so
the mix of misses is the same for every seed; the others repeat an earlier
key with Zipf-like popularity and are cache hits. Latency is client-side,
from writing the request line to reading the response line. Every response
must be ok, and each hit must return the rows of the miss for its key.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import subprocess
import sys
import time
from statistics import median

from common import ROOT, WORK, descendants, wait_gone

SF = 0.01
REQUESTS_PER_SECOND = 2.7
ZIPF_S = 1.1
MODES = ("keyword", "hybrid", "media", "rag", "semantic", "list")


def ensure_documents(seed: int) -> str:
    """``documents.parquet`` of a seeded gen_tier tier, cached by (seed, sf)."""
    from tools.gen_tier import gen_tier

    tier = os.path.join(WORK, "tiers", f"s{seed}_sf{SF}")
    if not os.path.exists(tier + ".done"):
        shutil.rmtree(tier, ignore_errors=True)
        with contextlib.redirect_stdout(io.StringIO()):
            gen_tier(tier, SF, seed=seed)
        open(tier + ".done", "w").close()
    return os.path.join(tier, "documents.parquet")


def requests(seconds: int) -> int:
    """About REQUESTS_PER_SECOND × seconds, a multiple of three (one miss,
    two hits) and at least one miss per mode. The count depends on
    ``seconds`` alone, so every run of a length sees the same mix."""
    return 3 * max(len(MODES), round(REQUESTS_PER_SECOND * seconds / 3))


def request(mode: str, path: str, query: str, k: int) -> tuple[str, dict]:
    if mode == "list":
        return "list_documents", {"input_path": path, "limit": 5 + k}
    if mode == "rag":
        return "rag_search", {"input_path": path, "query": query}
    if mode == "semantic":
        return "semantic_search", {"input_path": path, "query": query}
    return "search_documents", {"input_path": path, "query": query, "mode": mode}


def stream(seed: int, n: int, path: str) -> list[tuple[str, tuple[str, dict]]]:
    """(mode, request) list: position i % 3 == 0 opens a new key, the rest
    repeat a seen key drawn by Zipf weight over a seeded popularity rank."""
    from tools.gen_tier import VOCAB

    rng = random.Random(seed)
    words = sorted(set(VOCAB.tolist()) - {"a", "the"})
    keys, weights, out, used = [], [], [], set()
    for i in range(n):
        if i % 3 == 0:
            mode = MODES[(i // 3) % len(MODES)]
            while True:
                query = " ".join(rng.sample(words, 2))
                if (mode, query) not in used:
                    break
            used.add((mode, query))
            keys.append((mode, request(mode, path, query, len(keys))))
            weights.append(1.0 / (1 + rng.randrange(len(MODES) * 4)) ** ZIPF_S)
            out.append(keys[-1])
        else:
            out.append(rng.choices(keys, weights=weights)[0])
    return out


class Server:
    """The serve subprocess, one JSON line in and one out per request."""

    def __init__(self, argv_prefix: list[str], cache_dir: str, nproc: int):
        shutil.rmtree(cache_dir, ignore_errors=True)
        log = open(os.path.join(WORK, "serve.log"), "w")
        self.proc = subprocess.Popen(
            argv_prefix + ["--stdio", "--cache-dir", cache_dir, "--master", f"local[{nproc}]"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        log.close()
        self.n = 0

    def call(self, op: str, params: dict) -> tuple[float, dict]:
        self.n += 1
        line = json.dumps({"id": self.n, "op": op, "params": params, "row_limit": 10})
        t = time.perf_counter()
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline()
        dt = time.perf_counter() - t
        if not reply:
            raise RuntimeError("serve exited")
        return dt, json.loads(reply)

    def close(self) -> None:
        """Close stdin (the server stops its Spark session and exits) and
        wait for the server and every process under it to end."""
        pids = descendants(self.proc.pid)
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        wait_gone(pids)


def session(argv_prefix: list[str], reqs: list, path: str, nproc: int) -> dict:
    """Start a server, warm it (one miss per mode, charged to setup), run the
    request stream, stop it. Returns timings, classes and the check result."""
    cache_dir = os.path.join(WORK, f"serve_cache_{os.getpid()}")
    t0 = time.perf_counter()
    srv = Server(argv_prefix, cache_dir, nproc)
    try:
        srv.call("list_operations", {})
        for mode in MODES:
            srv.call(*request(mode, path, "warm up", 99))
        setup = time.perf_counter() - t0
        lat, hits, failed, first = [], [], 0, {}
        t1 = time.perf_counter()
        for mode, (op, params) in reqs:
            dt, r = srv.call(op, params)
            hit = bool(r.get("cache", {}).get("hit"))
            key = json.dumps([op, params], sort_keys=True)
            ok = r.get("ok") is True
            if ok and hit:
                ok = first.get(key) == r["rows"]
            elif ok:
                ok = key not in first
                first[key] = r["rows"]
            failed += not ok
            lat.append((mode, hit, dt))
        wall = time.perf_counter() - t1
    finally:
        srv.close()
        shutil.rmtree(cache_dir, ignore_errors=True)
    return {"setup": setup, "wall": wall, "lat": lat, "failed": failed}


def layer_metrics(spans: list[dict], lat: list, warm: int) -> dict:
    """Per-layer numbers from the traced server's spans; ``warm`` leading
    requests (the warm-up) are skipped."""
    reqs = [i for i, s in enumerate(spans) if s["name"] == "serve.request"][warm:]
    owner = {}
    for i, s in enumerate(spans):
        p = i
        while p is not None and spans[p]["name"] != "serve.request":
            p = spans[p]["parent"]
        if p is not None:
            owner[i] = p
    by: dict[str, dict[int, float]] = {}
    for i, s in enumerate(spans):
        if i in owner and spans[i]["parent"] == owner[i]:
            d = by.setdefault(s["name"], {})
            d[owner[i]] = d.get(owner[i], 0.0) + (s["end"] - s["start"]) * 1e3

    def med(name: str, among) -> float:
        vals = [by.get(name, {}).get(r, 0.0) for r in among]
        vals = [v for v in vals if v > 0]
        return median(vals) if vals else 0.0

    out = {
        "cache.fingerprint_ms": med("cache.fingerprint", reqs),
        "cache.lookup_ms": med("cache.lookup", reqs),
        "cache.store_ms": med("cache.store", reqs),
        "api.plan_ms": med("api.plan", reqs),
        "serve.execute_ms": med("serve.execute", reqs),
    }
    ser = [s for s in spans if s["name"] == "serve.serialize"][-len(reqs):]
    out["serve.serialize_ms"] = median([(s["end"] - s["start"]) * 1e3 for s in ser])
    server_ms = [(spans[r]["end"] - spans[r]["start"]) * 1e3 for r in reqs]
    out["serve.transport_ms"] = median([dt * 1e3 - s for (_, _, dt), s in zip(lat, server_ms)])
    for mode in MODES:
        miss = [r for r in reqs if not spans[r]["hit"]
                and _mode(spans[r]) == mode]
        vals = [by.get("cache.store", {}).get(r, 0.0) + by.get("serve.execute", {}).get(r, 0.0)
                for r in miss]
        out[f"serve.miss_execute_ms.{mode}"] = median(vals) if vals else 0.0
    kids = {r: sum(by[name].get(r, 0.0) for name in by) for r in reqs}
    out["self.serve.request_s"] = median(
        [(spans[r]["end"] - spans[r]["start"]) - kids[r] / 1e3 for r in reqs])
    return out


def _mode(rec: dict) -> str:
    return {"rag_search": "rag", "semantic_search": "semantic",
            "list_documents": "list"}.get(rec["op"], rec.get("mode") or "keyword")


def traced(seed: int, seconds: int, nproc: int) -> dict:
    """One traced serve session; returns attempted, failed, layers and info.
    The serve JVM is the only one alive while it runs."""
    path = ensure_documents(seed)
    reqs = stream(seed, requests(seconds), path)
    spans_path = os.path.join(WORK, f"serve_spans_{os.getpid()}.json")
    launcher = [sys.executable, os.path.join(ROOT, "perfbench", "serve_traced.py"),
                spans_path]
    res = session(launcher, reqs, path, nproc)
    with open(spans_path) as f:
        spans = json.load(f)
    os.remove(spans_path)
    misses = [dt * 1e3 for _, hit, dt in res["lat"] if not hit]
    hits = [dt * 1e3 for _, hit, dt in res["lat"] if hit]
    layers = layer_metrics(spans, res["lat"], warm=len(MODES))
    layers.update({
        "serve.hit_ratio": len(hits) / len(reqs),
        "serve.miss_p50_ms": median(misses),
        "serve.hit_p50_ms": median(hits),
        "serve.misses": len(misses),
        "serve.hits": len(hits),
    })
    return {
        "attempted": len(reqs),
        "failed": res["failed"] + (len(misses) != len(reqs) // 3),
        "layers": layers,
        "info": {"requests": len(reqs), "misses": len(misses), "hits": len(hits),
                 "setup_s": res["setup"], "wall_s": res["wall"]},
    }
