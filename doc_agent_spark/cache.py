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
listing of the parquet path (a plain path or a ``file:`` URI) — the cheap
snapshot proxy: any rewrite, compaction, or append changes it, and reading
zero data bytes keeps cache lookups O(#files). Param canonicalization
applies the operation's declared defaults first, so `{"limit": 10}` and
`{}` (default limit 10) hit the same entry.

An entry is the response itself: the row_limit-bounded JSON rows, in result
order, in one ``<key>.json`` file, so a hit is one ``json.load`` and no
Spark. A fill writes a per-thread tmp file and ``os.replace``s it onto the
entry: the replace is atomic, so a lookup sees a whole entry or none, and
concurrent fills of one key leave one whole entry. Eviction is oldest-mtime
beyond ``max_entries``.

Hit/miss counters ride in each response's ``cache`` debug struct
(serve.py), the observability the roadmap item asks for.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
import urllib.parse

from . import __version__
from .functions import embedder


def input_fingerprint(path: str) -> str | None:
    """Snapshot fingerprint of an input path: sha256 over the sorted
    (relative file path, size, mtime_ns) listing. None when the snapshot
    cannot be listed locally (a URI scheme other than ``file:``, or a
    missing path)."""
    url = urllib.parse.urlparse(path)
    local = urllib.parse.unquote(url.path) if url.scheme else path
    if url.scheme not in ("", "file") or not os.path.exists(local):
        return None
    entries = []
    if os.path.isfile(local):
        st = os.stat(local)
        entries.append((os.path.basename(local), st.st_size, st.st_mtime_ns))
    else:
        for root, _dirs, files in os.walk(local):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append((os.path.relpath(p, local), st.st_size,
                                st.st_mtime_ns))
        entries.sort()
    return hashlib.sha256(
        json.dumps(entries, separators=(",", ":")).encode()
    ).hexdigest()


def _remove(p: str) -> None:
    """Deletes a file, or a directory: an entry of the pre-JSON parquet
    layout, which no lookup matches and only eviction reclaims."""
    try:
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    except OSError:       # removed by a concurrent process
        pass


class ResultCache:
    """Deterministic result cache for the serve layer: one JSON file of
    response rows per key."""

    def __init__(self, cache_dir: str, max_entries: int = 256):
        self.dir = cache_dir
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0
        # serve --port is a ThreadingHTTPServer: request threads share the
        # counters and the evict pass
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
        return os.path.join(self.dir, key + ".json")

    def lookup(self, key: str) -> list | None:
        """The cached rows, or None (a miss) when the entry is missing,
        evicted, truncated or garbled. The caller reports the request's
        outcome through :meth:`stats`."""
        try:
            with open(self.path(key), encoding="utf-8") as f:
                rows = json.load(f)
        except (OSError, ValueError):
            return None
        return rows if isinstance(rows, list) else None

    def store(self, key: str, rows: list) -> None:
        """Makes ``rows`` the entry of ``key``. The per-thread tmp name
        keeps concurrent fills of one key apart until their atomic
        replace; when the fill fails the rows are served uncached."""
        tmp = os.path.join(
            self.dir, f"{key}.tmp-{os.getpid()}-{threading.get_ident()}")
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(rows, f, separators=(",", ":"))
            os.replace(tmp, self.path(key))
        except OSError:
            _remove(tmp)
            return
        with self._lock:
            self._evict()

    def _evict(self) -> None:
        """Caller holds self._lock. Drops oldest entries beyond the cap and
        sweeps tmp files leaked by crashed fills."""
        entries, now_ns = [], time.time_ns()
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            try:
                mtime = os.stat(p).st_mtime_ns
            except OSError:       # removed by a concurrent process
                continue
            if ".tmp-" not in name:
                entries.append((mtime, p))
            elif now_ns - mtime > 3600 * 1_000_000_000:
                # a live fill replaces its tmp file within its request
                _remove(p)
        entries.sort()
        for _, p in entries[: max(0, len(entries) - self.max_entries)]:
            _remove(p)

    def stats(self, hit: bool, key: str | None) -> dict:
        """Counts one request's outcome; returns its cache debug struct."""
        with self._lock:        # request threads share the counters
            if hit:
                self.hits += 1
            else:
                self.misses += 1
            return {"hit": hit, "key": key,
                    "hits": self.hits, "misses": self.misses}
