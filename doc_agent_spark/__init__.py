"""doc_agent_spark — a PySpark-native document-extraction analytics engine.

A from-scratch reimplementation of the query/data-processing capabilities of
``prosdevlab/doc-agent`` (reference snapshot at /root/reference, read-only),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, with
Arrow-batched pandas UDFs only where built-in operators cannot express the
semantics (the deterministic field extractor and the Zod-exact normalizer).

Layout
------
- ``jsdate``      : bit-exact JS ``Number()`` / ``new Date()`` emulation (UTC)
- ``spec``        : the pure-Python deterministic spec (single source of truth
                    for extraction semantics; used by BOTH the Spark pipeline's
                    pandas UDFs and the test oracle)
- ``schema``      : all StructTypes (input spans table, DocumentData, metrics)
- ``corpus``      : deterministic synthetic interleaved-span corpus (seed=42)
- ``functions/``  : pure column-expression operators (assembly, mime, hashing,
                    JSON salvage, text analytics, vector math, PII redaction,
                    deterministic embedder)
- ``operators/``  : composite operators (extraction pipeline, chunking, dedup
                    family + clustering, similarity/ANN + scalar quantization,
                    BM25/RRF/rerank search, temporal joins, sampling, sketches,
                    multimodal, boilerplate, layout)
- ``sources/``    : table loaders
- ``sinks/``      : MERGE/upsert sink (schema-evolving parquet fallback,
                    Iceberg DDL builders), metrics + lineage appends
- ``streaming/``  : Structured Streaming variants (extraction, windowed
                    aggregation, sessionization, streaming dedup)
- ``api``         : named-operation service surface (MCP/REST shell analog)
"""

import sys

__version__ = "0.1.1"


def _guard_zip_invalidation() -> None:
    """In a PySpark worker (``setup_spark_files`` marks it), make
    ``zipimporter.invalidate_caches`` re-read an archive only when its
    ``(st_mtime_ns, st_size)`` stamp changed since that importer last read
    it; the Spark driver and plain Python imports keep the interpreter's own
    behaviour. CPython < 3.12 re-reads the whole zip directory on every
    call (CPython 3.12 made it lazy), and a worker calls
    ``importlib.invalidate_caches()`` at the start of every task while
    holding one importer per imported package of ``pyspark.zip``: ~16
    re-reads of a 1,328-entry archive, 0.15-0.3 s of CPU per task.

    Importers already cached are stamped now: in a worker this runs while
    a task deserializes its function, right after that task's
    ``setup_spark_files`` re-read every one of them. An importer created
    later is stamped at its first guarded call, which still re-reads."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    import os
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    def stamp(archive: str) -> tuple[int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        now = stamp(self.archive)
        if now is None or getattr(self, "_stat_stamp", None) != now:
            original(self)
            self._stat_stamp = now

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stat_stamp = stamp(finder.archive)


_guard_zip_invalidation()
