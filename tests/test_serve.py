"""End-to-end drive of the transport shell (doc_agent_spark/serve.py):
real subprocesses, real stdin/stdout — the surface a user invokes, analog
of the reference CLI (cli.ts:22-68) and MCP stdio server (server.ts:12-60).

Subprocesses get their own small SparkSession (local[2]); both modes are
exercised in one test each to keep session spin-up cost bounded.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENV = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": REPO}


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from doc_agent_spark import corpus
    from doc_agent_spark.schema import DOCUMENTS_SPANS

    p = str(tmp_path_factory.mktemp("serve") / "docs.parquet")
    spark.createDataFrame(list(corpus.gen_docs(30)), DOCUMENTS_SPANS).write.parquet(p)
    return p


def test_cli_mode_prints_json_rows(corpus_path):
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "extract_document",
         "--input-path", corpus_path, "--row-limit", "7"],
        capture_output=True, text=True, timeout=300, env=ENV, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(rows) == 7
    assert {"doc_id", "order", "kind"} <= set(rows[0])


def test_stdio_mode_serves_multiple_requests(corpus_path):
    requests = "\n".join([
        json.dumps({"id": 1, "op": "list_operations"}),
        json.dumps({"id": 2, "op": "no_such_op", "params": {}}),
        json.dumps({"id": 3, "op": "search_documents",
                    "params": {"input_path": "/root/testdata/sf0.001/documents.parquet",
                               "query": "spark join", "limit": 3}}),
    ]) + "\n"
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "--stdio"],
        input=requests, capture_output=True, text=True, timeout=300,
        env=ENV, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    resps = {r["id"]: r for ln in proc.stdout.splitlines() if ln.startswith("{")
             for r in [json.loads(ln)]}
    assert resps[1]["ok"] and any(
        o["name"] == "extract_document" for o in resps[1]["operations"]
    )
    # a bad request errors WITHOUT killing the server (request 3 still served)
    assert not resps[2]["ok"] and "KeyError" in resps[2]["error"]
    assert resps[3]["ok"] and len(resps[3]["rows"]) <= 3


def test_rag_cli_mode(corpus_path):
    """`search_documents --rag` (the roadmap's `doc search --rag`) returns
    answer + citation + debug rows through the same CLI shell."""
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "search_documents",
         "--rag", "--input-path",
         "/root/testdata/sf0.001/documents.parquet",
         "--query", "spark join window", "--limit", "3"],
        capture_output=True, text=True, timeout=300, env=ENV, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(ln) for ln in proc.stdout.splitlines()
            if ln.startswith("{")]
    parts = {}
    for r in rows:
        parts.setdefault(r["part"], []).append(r)
    assert len(parts["citation"]) == 3
    answer = parts["answer"][0]["content"]
    # the answer stitches every citation's snippet behind its [n] marker
    for c in parts["citation"]:
        assert f"[{c['rank']}] {c['content']}" in answer
    assert parts["debug"][0]["content"].startswith("vector=")


def test_mcp_jsonrpc_mode(corpus_path):
    """A real MCP client flow: JSON-RPC 2.0 initialize -> tools/list ->
    tools/call (good + bad), one message per line. Protocol framing is
    what the round-3 verdict flagged as missing (the custom line-JSON
    protocol couldn't serve an MCP client)."""
    requests = "\n".join([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize",
                    "params": {"protocolVersion": "2024-11-05"}}),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/cancelled",
                    "params": {"requestId": 99}}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/list"}),
        json.dumps({"jsonrpc": "2.0", "id": 3, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {
                                   "input_path":
                                       "/root/testdata/sf0.001/documents.parquet",
                                   "query": "spark", "limit": 2}}}),
        json.dumps({"jsonrpc": "2.0", "id": 4, "method": "tools/call",
                    "params": {"name": "no_such_tool", "arguments": {}}}),
        json.dumps({"jsonrpc": "2.0", "id": 5, "method": "bogus/method"}),
    ]) + "\n"
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "--mcp"],
        input=requests, capture_output=True, text=True, timeout=300,
        env=ENV, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    resps = {r["id"]: r for ln in proc.stdout.splitlines()
             if ln.startswith("{") for r in [json.loads(ln)]}
    assert resps[1]["result"]["serverInfo"]["name"] == "doc-agent-spark"
    # negotiation answers OUR version; notifications draw NO response
    assert resps[1]["result"]["protocolVersion"] == "2024-11-05"
    assert None not in resps
    tools = {t["name"]: t for t in resps[2]["result"]["tools"]}
    assert "rag_search" in tools and "extract_document" in tools
    assert tools["search_documents"]["inputSchema"]["properties"]["limit"] == {
        "type": "integer"}
    assert "limit" not in tools["search_documents"]["inputSchema"]["required"]
    rows = json.loads(resps[3]["result"]["content"][0]["text"])
    assert rows and {"id", "score", "snippet"} <= set(rows[0])
    # tool error -> isError result (MCP convention), not a protocol error
    assert resps[4]["result"]["isError"] is True
    # unknown method -> JSON-RPC error object
    assert resps[5]["error"]["code"] == -32601


def test_http_mode_serves_search_and_rag(corpus_path):
    """`doc serve --port` analog: real HTTP requests against the running
    server — GET /operations, POST /search_documents, POST /rag, and a
    bad op returning ok:false without killing the server."""
    import time
    import urllib.error
    import urllib.request

    proc = subprocess.Popen(
        [sys.executable, "-m", "doc_agent_spark.serve", "--port", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=ENV, cwd=REPO,
    )
    try:
        line = proc.stdout.readline()          # {"ok": true, "listening": N}
        port = json.loads(line)["listening"]
        base = f"http://127.0.0.1:{port}"

        def post(path, payload):
            req = urllib.request.Request(
                base + path, data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=120) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        with urllib.request.urlopen(base + "/operations", timeout=60) as r:
            ops = json.loads(r.read())
        assert any(o["name"] == "rag_search" for o in ops["operations"])

        docs = "/root/testdata/sf0.001/documents.parquet"
        code, body = post("/search_documents",
                          {"input_path": docs, "query": "spark", "limit": 2})
        assert code == 200 and len(body["rows"]) == 2
        assert {"id", "score", "snippet"} <= set(body["rows"][0])

        code, body = post("/rag", {"input_path": docs,
                                   "query": "spark join", "limit": 2})
        assert code == 200
        parts = {r["part"] for r in body["rows"]}
        assert parts == {"citation", "answer", "debug"}

        code, body = post("/no_such_op", {})
        assert code == 404 and not body["ok"]          # unknown op -> 404
        code, body = post("/search_documents", {"query": "x"})
        assert code == 400 and not body["ok"]          # missing params -> 400
        # server survived the bad request
        with urllib.request.urlopen(base + "/operations", timeout=60) as r:
            assert json.loads(r.read())["ok"]
    finally:
        proc.terminate()
        proc.wait(timeout=30)


def test_eval_cli_flags(tmp_path):
    """evaluate_dataset is reachable from ONE-SHOT CLI mode via
    --dataset-path/--compare (review finding: it previously only worked
    through stdio/mcp/http)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ds = str(tmp_path / "ds.parquet")
    pq.write_table(pa.table({
        "query_id": pa.array([0, 1], pa.int64()),
        "query": ["spark join", "window scan"],
        "relevant_ids": pa.array([[1, 2], [3]], pa.list_(pa.int64())),
        "category": ["a", "b"],
    }), ds)
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "evaluate_dataset",
         "--input-path", "/root/testdata/sf0.001/documents.parquet",
         "--dataset-path", ds, "--compare", "ollama"],
        capture_output=True, text=True, timeout=300, env=ENV, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(ln) for ln in proc.stdout.splitlines()
            if ln.startswith("{")]
    scopes = {r["scope"] for r in rows}
    assert scopes == {"query", "category", "overall", "provider"}


def test_rag_rejects_incompatible_flags(corpus_path):
    proc = subprocess.run(
        [sys.executable, "-m", "doc_agent_spark.serve", "search_documents",
         "--rag", "--mode", "vector", "--input-path", corpus_path,
         "--query", "x"],
        capture_output=True, text=True, timeout=120, env=ENV, cwd=REPO,
    )
    assert proc.returncode != 0
    assert "--mode/--rerank do not apply" in proc.stderr


def test_result_cache_hit_miss_invalidation(tmp_path):
    """Roadmap :348 query caching: same request twice through --stdio with
    --cache-dir = miss then hit (same key, identical rows); touching the
    input parquet (snapshot fingerprint change) = miss with a NEW key."""
    import shutil

    corpus = str(tmp_path / "docs.parquet")
    shutil.copytree("/root/testdata/sf0.001", tmp_path / "tier")
    shutil.copy(tmp_path / "tier" / "documents.parquet", corpus)
    cache_dir = str(tmp_path / "cache")

    req = json.dumps({"id": 1, "op": "search_documents",
                      "params": {"input_path": corpus,
                                 "query": "spark join", "limit": 3}}) + "\n"

    def run(n_reqs):
        reqs = "".join(
            req.replace('"id": 1', f'"id": {i + 1}') for i in range(n_reqs)
        )
        proc = subprocess.run(
            [sys.executable, "-m", "doc_agent_spark.serve", "--stdio",
             "--cache-dir", cache_dir],
            input=reqs, capture_output=True, text=True, timeout=300,
            env=ENV, cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return [json.loads(ln) for ln in proc.stdout.splitlines()
                if ln.startswith("{")]

    first, second = run(2)
    assert first["ok"] and second["ok"]
    assert first["cache"]["hit"] is False and second["cache"]["hit"] is True
    assert first["cache"]["key"] == second["cache"]["key"]
    assert first["rows"] == second["rows"] and len(first["rows"]) == 3
    assert second["cache"] == {**second["cache"], "hits": 1, "misses": 1}

    # cache persists across processes: a fresh server hits immediately
    (third,) = run(1)
    assert third["cache"]["hit"] is True and third["rows"] == first["rows"]

    # invalidation: any change to the input snapshot (here: mtime bump)
    # changes the fingerprint, hence the key — stale entry never served
    os.utime(corpus)
    (fourth,) = run(1)
    assert fourth["cache"]["hit"] is False
    assert fourth["cache"]["key"] != first["cache"]["key"]
    assert fourth["rows"] == first["rows"]


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("serve_docs") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"spark join plan {i} " + "shuffle stage " * (i % 4),
          "en", "digital") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(p)
    return p


SEARCH = {"query": "spark join shuffle", "limit": 3}


def _filled_cache(spark, docs_path, cache_dir):
    """(params, uncached rows, path of the cache entry holding them)."""
    from doc_agent_spark import serve
    from doc_agent_spark.cache import ResultCache

    params = {**SEARCH, "input_path": docs_path}
    want, _ = serve._run_op(spark, "search_documents", params, 3)
    cache = ResultCache(cache_dir)
    _, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    return params, want, cache.path(dbg["key"])


def test_cache_entry_lost_after_lookup_counts_a_miss(spark, docs_path, tmp_path,
                                                    monkeypatch):
    """An entry evicted between the key and its read is recomputed, and the
    counters record that request as a miss, never as a hit."""
    from doc_agent_spark import serve
    from doc_agent_spark.cache import ResultCache

    params, want, entry = _filled_cache(spark, docs_path,
                                        str(tmp_path / "cache"))
    cache = ResultCache(str(tmp_path / "cache"))
    lookup = cache.lookup

    def evict_then_lookup(key):
        os.remove(cache.path(key))          # a concurrent eviction
        return lookup(key)

    monkeypatch.setattr(cache, "lookup", evict_then_lookup)
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == want and len(rows) == 3
    assert dbg["hit"] is False
    assert (cache.hits, cache.misses) == (0, 1)
    with open(entry) as f:                  # the miss filled it again
        assert json.load(f) == want


def test_cache_store_rename_collision_serves_uncached(spark, docs_path, tmp_path,
                                                      monkeypatch):
    """Another process's fill landing on the entry between this fill's write
    and its replace never fails the request: the replace wins atomically,
    the entry holds one whole response and no staging file is left."""
    from doc_agent_spark import cache as cache_mod
    from doc_agent_spark import serve

    params = {**SEARCH, "input_path": docs_path}
    want, _ = serve._run_op(spark, "search_documents", params, 3)
    cache = cache_mod.ResultCache(str(tmp_path / "cache"))
    replace = os.replace

    def collide(src, dst):
        with open(dst, "w") as f:           # the other process's fill lands
            json.dump(want, f)
        replace(src, dst)

    monkeypatch.setattr(cache_mod.os, "replace", collide)
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == want and len(rows) == 3
    assert dbg["hit"] is False
    assert os.listdir(cache.dir) == [dbg["key"] + ".json"]
    assert cache.lookup(dbg["key"]) == want


def test_cache_concurrent_fills_of_one_key_leave_one_entry(spark, docs_path,
                                                           tmp_path,
                                                           monkeypatch):
    """Two request threads miss the same key and fill it at once: both get
    the uncached rows, one whole entry remains and no tmp file is left."""
    import threading

    from doc_agent_spark import cache as cache_mod
    from doc_agent_spark import serve

    params = {**SEARCH, "input_path": docs_path}
    want, _ = serve._run_op(spark, "search_documents", params, 3)
    cache = cache_mod.ResultCache(str(tmp_path / "cache"))
    both_written = threading.Barrier(2, timeout=120)
    replace = os.replace

    def replace_together(src, dst):
        both_written.wait()                 # both tmp files exist now
        replace(src, dst)

    monkeypatch.setattr(cache_mod.os, "replace", replace_together)
    out = [None, None]

    def request(i):
        out[i] = serve._run_op(spark, "search_documents", params, 3, cache)

    threads = [threading.Thread(target=request, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert [rows for rows, _ in out] == [want, want]
    assert [dbg["hit"] for _, dbg in out] == [False, False]
    assert (cache.hits, cache.misses) == (0, 2)
    key = out[0][1]["key"]
    assert os.listdir(cache.dir) == [key + ".json"]
    assert cache.lookup(key) == want


@pytest.mark.parametrize("damage", ["truncated", "garbled", "not_a_list"])
def test_cache_damaged_entry_is_a_miss_and_refilled(spark, docs_path,
                                                    tmp_path, damage):
    """An entry that does not load as a list of rows is a miss: the request
    recomputes the uncached rows (it never fails) and rewrites the entry."""
    from doc_agent_spark import serve
    from doc_agent_spark.cache import ResultCache

    params, want, entry = _filled_cache(spark, docs_path,
                                        str(tmp_path / "cache"))
    with open(entry, "rb") as f:
        good = f.read()
    bad = {"truncated": good[: len(good) // 2],
           "garbled": b"\xff\xfe\x00[{garbage",
           "not_a_list": b'{"rows": []}'}[damage]
    with open(entry, "wb") as f:
        f.write(bad)
    cache = ResultCache(str(tmp_path / "cache"))
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == want and dbg["hit"] is False
    with open(entry, "rb") as f:
        assert f.read() == good
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == want and dbg["hit"] is True


def test_cache_failed_replace_serves_uncached(spark, docs_path, tmp_path,
                                              monkeypatch):
    """A fill whose replace fails returns the uncached rows, leaves no entry
    and removes its tmp file."""
    from doc_agent_spark import cache as cache_mod
    from doc_agent_spark import serve

    params = {**SEARCH, "input_path": docs_path}
    want, _ = serve._run_op(spark, "search_documents", params, 3)
    cache = cache_mod.ResultCache(str(tmp_path / "cache"))

    def fail(src, dst):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(cache_mod.os, "replace", fail)
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == want and dbg["hit"] is False
    assert os.listdir(cache.dir) == []


def test_cache_evicts_old_layout_directory_entries(tmp_path):
    """A cache dir filled by the parquet-entry layout holds ``<key>/``
    directories that no lookup matches: eviction still removes them."""
    from doc_agent_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "cache"), max_entries=1)
    old = os.path.join(cache.dir, "0" * 32)
    os.makedirs(old)
    open(os.path.join(old, "part-00000.parquet"), "w").close()
    os.utime(old, (1, 1))
    rows = [{"doc_id": 1}]
    cache.store("a" * 32, rows)
    cache.store("b" * 32, rows)
    assert os.listdir(cache.dir) == ["b" * 32 + ".json"]
    assert cache.lookup("b" * 32) == rows and cache.lookup("a" * 32) is None


def test_cache_hit_runs_no_spark_job_and_miss_runs_the_uncached_jobs(
        spark, docs_path, tmp_path):
    """A hit launches 0 Spark jobs; a miss launches as many as the uncached
    path."""
    from doc_agent_spark import serve
    from doc_agent_spark.cache import ResultCache

    sc = spark.sparkContext
    params = {**SEARCH, "input_path": docs_path}
    cache = ResultCache(str(tmp_path / "cache"))
    out = {}
    for group, c in (("uncached", None), ("miss", cache), ("hit", cache)):
        sc.setJobGroup(group, group)
        try:
            out[group] = serve._run_op(spark, "search_documents", params, 3, c)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in out}
    assert out["miss"][1]["hit"] is False and out["hit"][1]["hit"] is True
    assert out["uncached"][0] == out["miss"][0] == out["hit"][0]
    assert jobs["hit"] == 0
    assert jobs["miss"] == jobs["uncached"] > 0


def test_cache_sees_rewrite_of_file_uri_input(spark, tmp_path):
    """A ``file://`` input is fingerprinted by its local listing: rewriting
    it changes the key, so the next request returns the new rows."""
    from doc_agent_spark import serve
    from doc_agent_spark.cache import ResultCache

    local = str(tmp_path / "docs.parquet")
    schema = "doc_id long, text string, lang string, source string"

    def write(offset):
        spark.createDataFrame(
            [(offset + i, f"spark join plan {i}", "en", "digital")
             for i in range(10)], schema,
        ).write.mode("overwrite").parquet(local)

    params = {**SEARCH, "input_path": "file://" + local}
    cache = ResultCache(str(tmp_path / "cache"))
    write(0)
    first, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert dbg["hit"] is False and dbg["key"] is not None
    write(100)
    fresh, _ = serve._run_op(spark, "search_documents", params, 3)
    assert fresh != first
    rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
    assert rows == fresh and dbg["hit"] is False


def test_cache_runs_unlistable_inputs_uncached(spark, docs_path, tmp_path,
                                               monkeypatch):
    """An input whose snapshot cannot be listed locally (another URI
    scheme, a missing path) has no fingerprint: the request runs uncached,
    counts a miss and stores nothing."""
    from doc_agent_spark import cache as cache_mod
    from doc_agent_spark import serve

    assert cache_mod.input_fingerprint("s3a://bucket/docs.parquet") is None
    assert cache_mod.input_fingerprint(str(tmp_path / "missing")) is None
    assert (cache_mod.input_fingerprint("file://" + docs_path)
            == cache_mod.input_fingerprint(docs_path) is not None)
    params = {**SEARCH, "input_path": docs_path}
    want, _ = serve._run_op(spark, "search_documents", params, 3)
    cache = cache_mod.ResultCache(str(tmp_path / "cache"))
    monkeypatch.setattr(cache_mod, "input_fingerprint", lambda p: None)
    for n in (1, 2):
        rows, dbg = serve._run_op(spark, "search_documents", params, 3, cache)
        assert rows == want
        assert dbg == {"hit": False, "key": None, "hits": 0, "misses": n}
    assert os.listdir(cache.dir) == []


def test_cache_key_folds_in_engine_and_embedder_versions(tmp_path, monkeypatch):
    """An upgrade must miss instead of serving results the old code
    computed: the key changes with ``EMBEDDER_VERSION`` and the package
    version, and stays the same otherwise."""
    from doc_agent_spark import cache as cache_mod
    from doc_agent_spark.functions import embedder

    cache = cache_mod.ResultCache(str(tmp_path / "cache"))
    args = ("search_documents", {"query": "spark", "limit": 3}, 3,
            {"input_path": "fp"})
    key = cache.key(*args)
    assert cache.key(*args) == key
    monkeypatch.setattr(embedder, "EMBEDDER_VERSION", embedder.EMBEDDER_VERSION + "-next")
    assert cache.key(*args) != key
    monkeypatch.undo()
    assert cache.key(*args) == key
    monkeypatch.setattr(cache_mod, "__version__", cache_mod.__version__ + ".1")
    assert cache.key(*args) != key
