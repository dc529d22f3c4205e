"""SURVEY §5.2 item 5: two runs of the extraction pipeline at different
parallelism levels produce byte-identical sorted output (evidences the
north_rule identical-results-at-N-and-4N clause locally).

Each run happens in its own subprocess (own JVM + SparkSession at the
requested master); the sorted flat span output is hashed and compared.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the wide leg runs one slot per host core; the shuffle-partition pair
# (2 vs 8) keeps the two plans different even on a 2-core host
NPROC = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
# each subprocess JVM runs beside the test session's own: a small heap
ENV = {**os.environ, "SPARK_DRIVER_MEMORY": "2g"}

_RUN_SRC = r"""
import hashlib, sys
sys.path.insert(0, {repo!r})
from doc_agent_spark.session import get_spark
from doc_agent_spark.operators import extractor
from doc_agent_spark import corpus
from doc_agent_spark.schema import DOCUMENTS_SPANS

spark = get_spark(app="determinism", master={master!r}, shuffle_partitions={parts})
docs = spark.createDataFrame(list(corpus.gen_docs(300)), DOCUMENTS_SPANS)
# spread so partitioning actually differs between the two runs
docs = docs.repartition({parts})
rows = extractor.extracted_spans(docs).collect()
h = hashlib.sha256()
for r in sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in rows):
    h.update(repr(r).encode())
print("HASH:" + h.hexdigest())
spark.stop()
"""


def _run(master: str, parts: int) -> str:
    src = _RUN_SRC.format(repo=REPO, master=master, parts=parts)
    proc = subprocess.run(
        [sys.executable, "-c", src], capture_output=True, text=True, timeout=600,
        env=ENV,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    for line in proc.stdout.splitlines():
        if line.startswith("HASH:"):
            return line[5:]
    raise AssertionError(f"no hash in output: {proc.stdout[-500:]}")


def test_output_identical_across_parallelism():
    h2 = _run("local[2]", 2)
    h8 = _run(f"local[{NPROC}]", 8)
    assert h2 == h8


_QUERY_RUN_SRC = r"""
import hashlib, sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as m
from doc_agent_spark.session import get_spark

spark = get_spark(app="determinism-q", master={master!r}, shuffle_partitions={parts})
names = {names!r}
out = []
for name in names:
    rows = getattr(m, name)(spark, "/root/testdata/sf0.001").collect()
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    out.append(f"{{name}}={{h.hexdigest()}}")
print("HASHES:" + ";".join(out))
spark.stop()
"""

# operators with nontrivial distribution behavior: iterative clustering,
# Arrow matmul argmax, banded LSH, hash sampling, window joins, beam search
# over a broadcast graph, and the round-3 union-tagged gate entries
_DET_QUERIES = [
    "dup_clusters", "ivf_topk", "embedding_near_dups_banded",
    "stratified_sample", "chunk_search_hydrate", "asof_join_events",
    "sq_cosine_topk", "rollup_cascade",
    # round 3
    "graph_ann_topk", "simhash_dedup", "minhash_verified_pairs",
    "conversion_funnel", "semdedup_drops", "contamination_pairs",
    "pq_cosine_topk",
    # round-3 continuation: packing (per-shard window), split/mixture
    # (hash bands + driver-side IEEE rate math), trigram top-k ties
    "pack_sequences", "deterministic_samples", "top_trigrams",
    # round-3 continuation: LM cross-entropy (order-sensitive double sums
    # bounded by the final 1e-6 round) and duplicated-span removal
    # (collect_list positions re-sorted before the span merge)
    "quality_tokens", "exact_fingerprint_dups",
    # round-3 continuation: URL canon + compaction plan (file_meta arms),
    # ANALYZE profile (kmv arm); bloom/cap/NB ride the three entries above
    "file_meta", "kmv_distinct_users",
    # session 2: tfidf/pmi/script (text_profile), jusText/island
    # (boilerplate), reflow/hdrfoot (page_assembly), winnowing
    # (exact_fingerprint_dups, already listed), fuzzy del-1 matching
    # (doc_type_norm), dhash + audio fingerprints (media_metadata),
    # reading order (layout_runs)
    "text_profile", "boilerplate_strip", "page_assembly",
    "doc_type_norm", "media_metadata", "layout_runs",
    # session 3: Bloom semi/anti reductions (KM xxhash64 probes must be
    # layout-invariant) ride semi_anti_join; the canon arm (WindowGroupLimit
    # top-1 with score/id tie-break) rides dup_clusters, already listed
    "semi_anti_join",
    # session 6: robots parse (window group detection) + politeness slots
    # (per-host ranking) ride doc_listing's frontier arm; the WARC
    # round-trip and outlink arms ride media_metadata / text_profile above
    "doc_listing",
]


def _run_queries(master: str, parts: int) -> str:
    src = _QUERY_RUN_SRC.format(repo=REPO, master=master, parts=parts, names=_DET_QUERIES)
    proc = subprocess.run(
        [sys.executable, "-c", src], capture_output=True, text=True, timeout=900,
        env=ENV,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    for line in proc.stdout.splitlines():
        if line.startswith("HASHES:"):
            return line[7:]
    raise AssertionError(f"no hashes in output: {proc.stdout[-500:]}")


def test_round2_operators_identical_across_parallelism():
    a = _run_queries("local[2]", 2)
    b = _run_queries(f"local[{NPROC}]", 8)
    for qa, qb in zip(a.split(";"), b.split(";")):
        assert qa == qb, f"parallelism-dependent result: {qa.split('=')[0]}"
