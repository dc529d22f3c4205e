"""Deterministic serve-layer result cache (SEMANTIC-SEARCH-ROADMAP.md:348
"Query caching - Cache frequent queries and results", the roadmap's Future
item; r4 verdict "What's missing" #1).

A repeated `search_documents` / `rag_search` through serve.py re-runs the
full corpus scan every time. Because every operation in this engine is
deterministic (no model calls, content-hash discipline throughout), a result
is re-usable iff (operation, canonicalized params, input snapshot) are
unchanged — so the cache key is

    sha256(op + params-with-defaults-applied + row_limit
           + fingerprint(every *_path param)
           + engine version + EMBEDDER_VERSION)

where the input fingerprint is the sorted (relative-path, size, mtime_ns)
listing of the parquet path — the cheap snapshot proxy: any rewrite,
compaction, or append changes it, and reading zero data bytes keeps cache
lookups O(#files). Param canonicalization applies the operation's declared
defaults first, so `{"limit": 10}` and `{}` (default limit 10) hit the same
entry.

Entries are parquet directories (one file each — results are row_limit-
bounded and written through ``coalesce(1)`` so the read-back preserves the
result ORDER, which matters for ranked search output). Store is
write-to-tmp-then-rename so a crashed write never leaves a half entry that
lookup would trust. Eviction is oldest-mtime beyond ``max_entries``.

Hit/miss counters ride in each response's ``cache`` debug struct
(serve.py), the observability the roadmap item asks for.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading

from . import __version__
from .functions import embedder


def input_fingerprint(path: str) -> str:
    """Snapshot fingerprint of an input path: sha256 over the sorted
    (relative file path, size, mtime_ns) listing. Missing paths fingerprint
    distinctly (the operation will fail the same way either run)."""
    if not os.path.exists(path):
        return "missing:" + path
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    else:
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append((os.path.relpath(p, path), st.st_size,
                                st.st_mtime_ns))
        entries.sort()
    return hashlib.sha256(
        json.dumps(entries, separators=(",", ":")).encode()
    ).hexdigest()


class ResultCache:
    """Parquet-backed deterministic result cache for the serve layer."""

    def __init__(self, cache_dir: str, max_entries: int = 256):
        self.dir = cache_dir
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0
        # serve --port is a ThreadingHTTPServer: store/evict for the same
        # key can race across request threads. One lock serializes the
        # commit/evict window (the Spark write itself runs outside it);
        # cross-PROCESS writers still converge because every fill writes
        # the same deterministic bytes and tmp names are per-thread.
        self._lock = threading.Lock()
        os.makedirs(cache_dir, exist_ok=True)

    def key(self, op: str, canon_params: dict, row_limit: int,
            input_fps: dict) -> str:
        # the engine and embedder versions: an upgrade must miss, not
        # serve results the old code computed
        blob = json.dumps(
            {"op": op, "params": canon_params, "row_limit": row_limit,
             "inputs": input_fps, "engine": __version__,
             "embedder": embedder.EMBEDDER_VERSION},
            sort_keys=True, default=str,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:32]

    def path(self, key: str) -> str:
        return os.path.join(self.dir, key)

    def lookup(self, spark, key: str):
        """Cached result DataFrame, or None. The caller reports the
        request's actual outcome through :meth:`stats`."""
        p = self.path(key)
        return spark.read.parquet(p) if os.path.isdir(p) else None

    def store(self, df, row_limit: int, key: str):
        """Materialize the (bounded) result under the key and return the
        read-back frame. coalesce(1) keeps one file so row order survives
        the round-trip; tmp-then-rename keeps half-written entries
        invisible to lookup."""
        # per-thread tmp name: two concurrent fills of the SAME key must
        # not share a staging dir, or one thread renames the other's
        # half-overwritten directory into place (a permanently poisoned
        # entry — review finding r5)
        tmp = self.path(key) + f".tmp-{os.getpid()}-{threading.get_ident()}"
        df.limit(row_limit).coalesce(1).write.mode("overwrite").parquet(tmp)
        final = self.path(key)
        with self._lock:
            if os.path.isdir(final):    # concurrent fill: last writer wins
                shutil.rmtree(final)
            try:
                os.rename(tmp, final)
            except OSError:
                # another PROCESS re-created the entry between the rmtree
                # and the rename: serve this fill's result uncached
                shutil.rmtree(tmp, ignore_errors=True)
                return df
            self._evict()
        return df.sparkSession.read.parquet(final)

    def _evict(self) -> None:
        """Caller holds self._lock. Drops oldest entries beyond the cap and
        sweeps leaked staging dirs from crashed fills."""
        def mtime(p):
            try:
                return os.stat(p).st_mtime_ns
            except OSError:       # deleted by a concurrent process: ignore
                return 0
        entries, now_ns = [], None
        for d in os.listdir(self.dir):
            p = os.path.join(self.dir, d)
            if ".tmp-" in d:
                # leaked staging dir from a crashed fill: sweep once it is
                # clearly abandoned (no growing write renames it anymore)
                import time

                if now_ns is None:
                    now_ns = time.time_ns()
                if now_ns - mtime(p) > 3600 * 1_000_000_000:
                    shutil.rmtree(p, ignore_errors=True)
                continue
            entries.append(p)
        if len(entries) <= self.max_entries:
            return
        entries.sort(key=mtime)
        for p in entries[: len(entries) - self.max_entries]:
            shutil.rmtree(p, ignore_errors=True)

    def stats(self, hit: bool, key: str) -> dict:
        """Counts one request's outcome; returns its cache debug struct."""
        with self._lock:        # request threads share the counters
            if hit:
                self.hits += 1
            else:
                self.misses += 1
            return {"hit": hit, "key": key,
                    "hits": self.hits, "misses": self.misses}
