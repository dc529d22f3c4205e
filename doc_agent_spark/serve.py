"""Runnable transport shell over the operation registry (api.py).

The reference exposes its engine through two thin fronts: a commander CLI
(/root/reference/packages/cli/src/cli.ts:22-68 — `extract <file>`,
`--dry-run` JSON printing) and an MCP stdio server
(/root/reference/packages/cli/src/mcp/server.ts:12-60 — named tools with
typed parameter schemas, newline-framed requests on stdin). This module is
the Spark analog of both, and deliberately nothing more: parse → dispatch
to ``api.execute`` → pick a sink (print JSON rows, or write parquet). No
plan logic lives here.

CLI mode (one operation per process, like `doc-agent extract`):

    python -m doc_agent_spark.serve extract_document --input-path corpus/ --limit 5
    python -m doc_agent_spark.serve search_documents --input-path corpus/ \
        --query "spark join" --output /tmp/hits.parquet

stdio mode (long-lived server, one JSON request per line, like the MCP
server; the session is created once and reused across requests):

    python -m doc_agent_spark.serve --stdio
    > {"id": 1, "op": "list_operations"}
    < {"id": 1, "ok": true, "operations": [...]}
    > {"id": 2, "op": "search_documents", "params": {"input_path": "...", "query": "spark"}}
    < {"id": 2, "ok": true, "rows": [...]}

Errors never kill the server: a bad request gets ``{"ok": false, "error"}``
(the MCP error-result convention) and the loop continues.
"""

from __future__ import annotations

import argparse
import json
import sys

from . import api
from . import cache as cache_mod


def _op_schemas() -> list[dict]:
    return [
        {
            "name": op.name,
            "description": op.description,
            "params": {p: t.__name__ for p, t in op.params.items()},
            "defaults": op.defaults,
        }
        for op in api.OPERATIONS.values()
    ]


def _run_op(spark, op: str, params: dict, row_limit: int, cache=None):
    """Execute an operation; returns (rows, cache_debug): the rows of one
    collect of the row_limit-bounded result. With a ResultCache they are
    the entry of (op, defaults-canonicalized params, row_limit, input
    snapshot fingerprints): a hit reads them without Spark, a miss stores
    them. A changed input listing changes the key, which IS the
    invalidation; an input with no local listing runs uncached."""
    key = rows = None
    if cache is not None:
        canon = {**api.OPERATIONS[op].defaults, **params}
        fps = {
            k: cache_mod.input_fingerprint(v)
            for k, v in canon.items()
            if k.endswith("_path") and isinstance(v, str) and v
        }
        if None not in fps.values():
            key = cache.key(op, canon, row_limit, fps)
            rows = cache.lookup(key)
    hit = rows is not None
    if not hit:
        df = api.execute(spark, op, **params)
        rows = [json.loads(s) for s in df.limit(row_limit).toJSON().collect()]
        if key is not None:
            cache.store(key, rows)
    # counted here, from the outcome: an unreadable entry is a miss
    return rows, cache.stats(hit, key) if cache is not None else None


def _serve_stdio(spark, inp, out, cache=None) -> None:
    for line in inp:
        line = line.strip()
        if not line:
            continue
        rid = None
        try:
            req = json.loads(line)
            rid = req.get("id")
            op = req["op"]
            if op == "list_operations":
                resp = {"id": rid, "ok": True, "operations": _op_schemas()}
            else:
                rows, cdbg = _run_op(spark, op, req.get("params", {}),
                                     int(req.get("row_limit", 100)), cache)
                resp = {"id": rid, "ok": True, "rows": rows}
                if cdbg is not None:
                    resp["cache"] = cdbg
        except BrokenPipeError:
            raise
        except Exception as e:  # bad request ≠ dead server
            resp = {"id": rid, "ok": False, "error": f"{type(e).__name__}: {e}"}
        out.write(json.dumps(resp) + "\n")
        out.flush()


def _mcp_tools() -> list[dict]:
    """api.OPERATIONS as MCP tool descriptors (JSON-Schema inputSchema —
    the shape `tools/list` must return; reference registers the same
    per-tool name/description/schema via registerTool,
    packages/cli/src/mcp/server.ts:12-66)."""
    type_map = {str: "string", int: "integer", float: "number", bool: "boolean"}
    tools = []
    for op in api.OPERATIONS.values():
        props = {
            p: {"type": type_map.get(t, "string")}
            for p, t in op.params.items()
        }
        required = [p for p in op.params if p not in op.defaults]
        tools.append({
            "name": op.name,
            "description": op.description,
            "inputSchema": {
                "type": "object",
                "properties": props,
                "required": required,
            },
        })
    return tools


def _serve_mcp(spark, inp, out, cache=None) -> None:
    """MCP-over-stdio with real JSON-RPC 2.0 framing (one message per
    line): `initialize`, `tools/list`, `tools/call`. Protocol errors →
    JSON-RPC error objects; TOOL errors → a successful response whose
    result carries isError (the MCP convention the reference follows —
    its registerTool callbacks catch and return
    {content: [...], isError: true} rather than throwing)."""

    def reply(rid, result=None, error=None):
        msg = {"jsonrpc": "2.0", "id": rid}
        if error is not None:
            msg["error"] = error
        else:
            msg["result"] = result
        out.write(json.dumps(msg) + "\n")
        out.flush()

    for line in inp:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line)
        except ValueError:
            reply(None, error={"code": -32700, "message": "parse error"})
            continue
        rid = req.get("id")
        method = req.get("method")
        if "id" not in req:
            # JSON-RPC 2.0: "The Server MUST NOT reply to a Notification" —
            # this covers notifications/initialized, /cancelled, /progress,
            # /roots/list_changed and anything else a client may emit
            continue
        if method == "initialize":
            reply(rid, {
                # version negotiation: answer with the version THIS server
                # implements, never echo the client's request (echoing
                # claims support for arbitrary future protocols)
                "protocolVersion": "2024-11-05",
                "capabilities": {"tools": {}},
                "serverInfo": {"name": "doc-agent-spark", "version": "1.0"},
            })
        elif method == "tools/list":
            reply(rid, {"tools": _mcp_tools()})
        elif method == "tools/call":
            params = req.get("params", {})
            try:
                rows, _ = _run_op(spark, params["name"],
                                  params.get("arguments", {}),
                                  int(params.get("row_limit", 100)), cache)
                reply(rid, {
                    "content": [{"type": "text", "text": json.dumps(rows)}],
                })
            except Exception as e:  # tool error ≠ protocol error
                reply(rid, {
                    "content": [{"type": "text",
                                 "text": f"Error: {type(e).__name__}: {e}"}],
                    "isError": True,
                })
        else:
            reply(rid, error={"code": -32601,
                              "message": f"method not found: {method}"})


def _serve_http(spark, port: int, cache=None) -> None:
    """HTTP front (`doc serve --port 3000` analog, roadmap CLI reference;
    `POST /rag` per SEMANTIC-SEARCH-ROADMAP.md:169): GET /operations
    lists the registry, POST /<operation> runs it with the JSON body as
    params (``row_limit`` in the body bounds the response). /rag is an
    alias for rag_search. One Spark session serves every request;
    requests serialize through Spark's own scheduler. Errors return
    {ok:false, error} with 400 (bad request/op) — the server never
    dies."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    def send(handler, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        handler.send_response(code)
        handler.send_header("Content-Type", "application/json")
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        handler.wfile.write(body)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):   # stderr noise only in debug runs
            pass

        def do_GET(self):
            if self.path.rstrip("/") == "/operations":
                send(self, 200, {"ok": True, "operations": _op_schemas()})
            else:
                send(self, 404, {"ok": False, "error": "not found"})

        def do_POST(self):
            op = self.path.strip("/")
            if op == "rag":
                op = "rag_search"
            if op not in api.OPERATIONS:
                send(self, 404, {"ok": False, "error": f"unknown operation: {op}"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                params = json.loads(self.rfile.read(n) or b"{}")
                row_limit = int(params.pop("row_limit", 100))
                rows, cdbg = _run_op(spark, op, params, row_limit, cache)
                payload = {"ok": True, "rows": rows}
                if cdbg is not None:
                    payload["cache"] = cdbg
                send(self, 200, payload)
            except (TypeError, ValueError) as e:   # bad params/body
                send(self, 400,
                     {"ok": False, "error": f"{type(e).__name__}: {e}"})
            except Exception as e:   # execution failure ≠ client error
                send(self, 500,
                     {"ok": False, "error": f"{type(e).__name__}: {e}"})

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    print(json.dumps({"ok": True, "listening": server.server_address[1]}),
          flush=True)
    server.serve_forever()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m doc_agent_spark.serve",
        description="CLI / stdio front over the doc_agent_spark operation registry",
    )
    ap.add_argument("operation", nargs="?",
                    help=f"one of: {', '.join(api.OPERATIONS)} (omit with --stdio)")
    ap.add_argument("--stdio", action="store_true",
                    help="serve newline-delimited JSON requests on stdin")
    ap.add_argument("--mcp", action="store_true",
                    help="serve MCP JSON-RPC 2.0 (initialize / tools/list / "
                         "tools/call) on stdin")
    ap.add_argument("--port", type=int,
                    help="serve HTTP on this port (GET /operations, "
                         "POST /<operation>, POST /rag)")
    ap.add_argument("--rag", action="store_true",
                    help="with search_documents: return the RAG answer + "
                         "citations instead of plain hits (doc search --rag)")
    ap.add_argument("--input-path", help="input corpus (parquet dir)")
    ap.add_argument("--query", help="search query string")
    ap.add_argument("--mode", help="search mode: keyword | vector | hybrid | media")
    ap.add_argument("--filter", help="metadata filter 'key:value'")
    ap.add_argument("--rerank", action="store_true", default=None,
                    help="re-score the candidates with the deterministic "
                         "cross-encoder stub (doc search --rerank)")
    ap.add_argument("--limit", type=int, help="result limit (operation param)")
    ap.add_argument("--words-per-chunk", type=int, help="chunking window")
    ap.add_argument("--dataset-path", help="eval dataset parquet "
                                           "(evaluate_dataset)")
    ap.add_argument("--compare", help="comma-separated embed providers "
                                      "to compare (evaluate_dataset)")
    ap.add_argument("--row-limit", type=int,
                    help="max rows printed as JSON (CLI mode; default 100, "
                         "overridable via $DOC_AGENT_ROW_LIMIT / config file)")
    ap.add_argument("--config", help="JSON config file (precedence: CLI > "
                                     "$DOC_AGENT_* env > file > defaults)")
    ap.add_argument("--cache-dir",
                    help="enable the deterministic result cache here "
                         "(roadmap: query/result caching; keyed on op + "
                         "canonical params + input snapshot fingerprint; "
                         "also via $DOC_AGENT_CACHE_DIR / config file)")
    ap.add_argument("--output", help="write full result to this parquet path "
                                     "instead of printing JSON rows")
    ap.add_argument("--master", help="spark master (default $SPARK_GRAFT_CPUS local)")
    args = ap.parse_args(argv)

    if not (args.stdio or args.mcp or args.port is not None) and not args.operation:
        ap.error("an operation name (or --stdio/--mcp/--port) is required")
    if args.rag and args.operation == "search_documents":
        args.operation = "rag_search"
        if args.mode or args.rerank:
            ap.error("--rag composes its own hybrid retrieval + rerank; "
                     "--mode/--rerank do not apply (use --filter to "
                     "restrict the corpus)")

    from .config import load_config
    from .session import get_spark

    cfg = load_config(
        cli_args={"row_limit": args.row_limit, "master": args.master,
                  "cache_dir": args.cache_dir},
        config_path=args.config,
    )
    args.row_limit = cfg["row_limit"]

    cache = None
    if cfg["cache_dir"]:
        cache = cache_mod.ResultCache(cfg["cache_dir"])

    spark = get_spark(app="doc-agent-serve", master=cfg["master"])
    try:
        if args.stdio:
            _serve_stdio(spark, sys.stdin, sys.stdout, cache)
            return 0
        if args.mcp:
            _serve_mcp(spark, sys.stdin, sys.stdout, cache)
            return 0
        if args.port is not None:   # 0 = OS-assigned ephemeral port
            _serve_http(spark, args.port, cache)
            return 0
        params = {
            k: v
            for k, v in {
                "input_path": args.input_path,
                "query": args.query,
                "limit": args.limit,
                "mode": args.mode,
                "filter": args.filter,
                "rerank": args.rerank,
                "dataset_path": args.dataset_path,
                "compare": args.compare,
                "words_per_chunk": args.words_per_chunk,
            }.items()
            if v is not None
        }
        if args.output:
            # full-result sink: a cache entry is the row_limit-bounded JSON
            # response, so it cannot stand in for a complete parquet export
            df = api.execute(spark, args.operation, **params)
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"ok": True, "output": args.output}))
        else:
            rows, _ = _run_op(spark, args.operation, params,
                              args.row_limit, cache)
            for r in rows:
                print(json.dumps(r))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
