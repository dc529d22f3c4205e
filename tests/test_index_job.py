"""Index-build job (jobs/index.py): artifact contents match the direct
operator outputs, the resume path reuses every committed artifact, and
the persisted postings reproduce live BM25 statistics."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from index import ARTIFACTS, run_index  # jobs/index.py

N = 120


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("index_job")
    rows = [
        (i, f"document {i} about the data pipeline and the spark engine "
            f"plus filler token{i % 7} repeated token{i % 7}")
        for i in range(N)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("idx", "lineage", "metrics"))
    stats = run_index(spark, in_p, out, lin, met, run_id="i1", dim=8,
                      centroid_stride=20)
    return stats, in_p, out, lin, met


def test_all_artifacts_built_and_counted(spark, built):
    stats, _, out, lin, _ = built
    assert stats["artifacts_reused"] == 0
    assert set(stats["artifacts"]) == set(ARTIFACTS)
    assert stats["artifacts"]["embeddings"] == N
    assert stats["artifacts"]["bm25_docstats"] == N
    assert stats["artifacts"]["sq_stats"] == 1
    assert stats["artifacts"]["bm25_corpus"] == 1
    assert spark.read.parquet(lin).count() == len(ARTIFACTS)


def test_ivf_cells_cover_corpus_and_partition_by_cell(spark, built):
    _, _, out, _, _ = built
    cells = spark.read.parquet(f"{out}/ivf_cells")
    assert cells.select("id").distinct().count() == N
    # partitioned layout: cell=... directories exist
    assert any(p.startswith("cell=") for p in os.listdir(f"{out}/ivf_cells"))


def test_postings_reproduce_live_bm25_stats(spark, built):
    _, in_p, out, _, _ = built
    docs = spark.read.parquet(in_p)
    from doc_agent_spark.functions.textfns import words_of

    live_df = (
        docs.select(F.explode(words_of(F.col("text"))).alias("t"))
        .filter(F.col("t") == "spark").count()
    )
    postings = spark.read.parquet(f"{out}/bm25_postings")
    persisted = postings.filter(F.col("term") == "spark").agg(
        F.sum("tf")
    ).collect()[0][0]
    assert persisted == live_df
    corpus = spark.read.parquet(f"{out}/bm25_corpus").collect()[0]
    assert corpus.n == N and corpus.avgdl > 0


def test_rerun_reuses_every_artifact(spark, built):
    stats, in_p, out, lin, met = built
    r2 = run_index(spark, in_p, out, lin, met, run_id="i1", dim=8,
                   centroid_stride=20)
    assert r2["artifacts_reused"] == len(ARTIFACTS)
    assert r2["artifacts"] == stats["artifacts"]


def test_band_table_artifact_feeds_pair_generation(spark, built):
    _, in_p, out, _, _ = built
    from doc_agent_spark.operators import dedup

    docs = spark.read.parquet(in_p)
    persisted = spark.read.parquet(f"{out}/minhash_bands")
    a, b = persisted.alias("a"), persisted.alias("b")
    via_artifact = (
        a.join(b, ["band", "bucket"]).where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )
    direct = dedup.minhash_lsh_pairs(docs)
    assert sorted(map(tuple, via_artifact.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_config_change_fails_fast(spark, built):
    """Re-running against an existing index output with a different dim
    would quantize dim-8 embeddings as dim-32 garbage — must raise."""
    stats, in_p, out, lin, met = built
    with pytest.raises(ValueError, match="config mismatch"):
        run_index(spark, in_p, out, lin, met, run_id="i2", dim=32,
                  centroid_stride=20)


def test_partial_commit_without_success_marker_rebuilds(spark, tmp_path_factory):
    """A readable parquet dir WITHOUT _SUCCESS is a partial job-commit
    (driver died mid-rename): resume must rebuild it, not reuse a
    silently truncated artifact."""
    d = tmp_path_factory.mktemp("index_partial")
    df = spark.createDataFrame(
        [(i, f"doc {i} words here") for i in range(30)],
        "doc_id long, text string",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("idx", "lineage", "metrics"))
    r1 = run_index(spark, in_p, out, lin, met, run_id="p1", dim=4,
                   centroid_stride=10)
    # simulate the crash: drop the marker AND a part file from embeddings
    emb_dir = f"{out}/embeddings"
    os.remove(os.path.join(emb_dir, "_SUCCESS"))
    r2 = run_index(spark, in_p, out, lin, met, run_id="p2", dim=4,
                   centroid_stride=10)
    assert r2["reused"]["embeddings"] is False      # rebuilt, not trusted
    assert os.path.exists(os.path.join(emb_dir, "_SUCCESS"))
    assert r2["artifacts"]["embeddings"] == r1["artifacts"]["embeddings"]


JOBS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
)


def _docs(spark, n):
    return spark.createDataFrame(
        [(i, f"doc {i} spark pipeline token{i % 5}") for i in range(n)],
        "doc_id long, text string",
    )


def test_stale_stamp_refuses_then_rebuilds(spark, tmp_path, monkeypatch):
    """Roadmap :349 embeddings versioning: artifacts are stamped with the
    embedder version + input snapshot fingerprint. A bumped embedder =
    fail-fast by default, full rebuild with rebuild_stale=True; an input
    REWRITE (changed fingerprint, same path) is detected the same way."""
    from doc_agent_spark.functions import embedder

    in_p, out, lin, met = (str(tmp_path / n) for n in
                           ("in.parquet", "idx", "lin", "met"))
    _docs(spark, 30).write.parquet(in_p)
    r1 = run_index(spark, in_p, out, lin, met, run_id="v1", dim=4,
                   centroid_stride=10, minhash_k=4, bands=2)
    assert r1["artifacts_reused"] == 0

    # same stamp -> full reuse
    r2 = run_index(spark, in_p, out, lin, met, run_id="v2", dim=4,
                   centroid_stride=10, minhash_k=4, bands=2)
    assert r2["artifacts_reused"] == len(ARTIFACTS)

    # embedder upgrade -> stale stamp -> refuse...
    monkeypatch.setattr(embedder, "EMBEDDER_VERSION", "fake-md5-v2")
    with pytest.raises(ValueError, match="config mismatch"):
        run_index(spark, in_p, out, lin, met, run_id="v3", dim=4,
                  centroid_stride=10, minhash_k=4, bands=2)
    # ...and rebuild_stale re-embeds everything under the new stamp
    r3 = run_index(spark, in_p, out, lin, met, run_id="v3", dim=4,
                   centroid_stride=10, minhash_k=4, bands=2,
                   rebuild_stale=True)
    assert r3["artifacts_reused"] == 0
    import json as _json
    stamped = _json.load(open(out + "_config.json"))
    assert stamped["embedder_version"] == "fake-md5-v2"

    # input rewrite (same path, new snapshot) -> stale fingerprint
    _docs(spark, 31).write.mode("overwrite").parquet(in_p)
    with pytest.raises(ValueError, match="config mismatch"):
        run_index(spark, in_p, out, lin, met, run_id="v4", dim=4,
                  centroid_stride=10, minhash_k=4, bands=2)


def test_config_change_never_wipes_even_with_rebuild_stale(spark, built):
    """--rebuild-stale may only wipe a STALE stamp (embedder version, input
    snapshot); a config change raises, names the key, and keeps every
    committed artifact and the stamp as they were."""
    _, in_p, out, lin, met = built
    stamp = open(out + "_config.json").read()
    with pytest.raises(ValueError, match=r"config mismatch.*\['dim'\]"):
        run_index(spark, in_p, out, lin, met, run_id="i3", dim=32,
                  centroid_stride=20, rebuild_stale=True)
    assert open(out + "_config.json").read() == stamp
    for name in ARTIFACTS:
        assert os.path.exists(os.path.join(out, name, "_SUCCESS")), name


def test_reuse_after_stale_rebuild_reports_new_counts(spark, tmp_path):
    """A stale rebuild under the SAME run id appends a second lineage row
    per artifact; a later reuse takes its counts from the newest one."""
    in_p, out, lin, met = (str(tmp_path / n) for n in
                           ("in.parquet", "idx", "lin", "met"))
    kw = dict(run_id="n1", dim=4, centroid_stride=10, minhash_k=4, bands=2)
    _docs(spark, 30).write.parquet(in_p)
    run_index(spark, in_p, out, lin, met, **kw)
    _docs(spark, 31).write.mode("overwrite").parquet(in_p)
    rebuilt = run_index(spark, in_p, out, lin, met, rebuild_stale=True, **kw)
    assert rebuilt["artifacts_reused"] == 0
    assert rebuilt["artifacts"]["embeddings"] == 31
    emb_rows = spark.read.parquet(lin).filter(F.col("partition_id") == 0)
    assert sorted(r.docs_out for r in emb_rows.collect()) == [30, 31]

    reused = run_index(spark, in_p, out, lin, met, **kw)
    assert reused["artifacts_reused"] == len(ARTIFACTS)
    assert reused["artifacts"] == rebuilt["artifacts"]


def test_reuse_backfills_lost_lineage(spark, tmp_path):
    """A driver killed after the artifact writes but before the lineage
    append leaves committed artifacts with no lineage rows: the resumed run
    reuses all of them with the same counts and backfills one row each."""
    import shutil

    in_p, out, lin, met = (str(tmp_path / n) for n in
                           ("in.parquet", "idx", "lin", "met"))
    kw = dict(run_id="b1", dim=4, centroid_stride=10, minhash_k=4, bands=2)
    _docs(spark, 30).write.parquet(in_p)
    cold = run_index(spark, in_p, out, lin, met, **kw)
    shutil.rmtree(lin)
    resumed = run_index(spark, in_p, out, lin, met, **kw)
    assert resumed["artifacts_reused"] == len(ARTIFACTS)
    assert resumed["artifacts"] == cold["artifacts"]
    rows = spark.read.parquet(lin).filter(F.col("stage") == "index").collect()
    assert sorted(r.partition_id for r in rows) == list(range(len(ARTIFACTS)))
    for r in rows:
        assert r.wall_ms == 0
        assert r.docs_out == cold["artifacts"][ARTIFACTS[r.partition_id]]
    # the next resume reads the backfilled rows and appends nothing
    assert run_index(spark, in_p, out, lin, met, **kw)["artifacts"] == cold["artifacts"]
    assert spark.read.parquet(lin).count() == len(ARTIFACTS)


def test_incremental_refuses_stale_index(spark, tmp_path, monkeypatch):
    """jobs/incremental.py refuses an index stamped by another embedder
    version (the 'handle embedding model updates' contract)."""
    import importlib.util as _ilu

    from doc_agent_spark.functions import embedder

    spec = _ilu.spec_from_file_location(
        "increm_mod", os.path.join(JOBS, "incremental.py"))
    increm = _ilu.module_from_spec(spec)
    spec.loader.exec_module(increm)

    in_p, out, lin, met = (str(tmp_path / n) for n in
                           ("in.parquet", "idx", "lin", "met"))
    _docs(spark, 20).write.parquet(in_p)
    run_index(spark, in_p, out, lin, met, run_id="s1", dim=4,
              centroid_stride=10, minhash_k=4, bands=2)

    hist = str(tmp_path / "hist.parquet")
    batch = str(tmp_path / "batch.parquet")
    _docs(spark, 20).write.parquet(hist)
    _docs(spark, 25).write.parquet(batch)

    monkeypatch.setattr(embedder, "EMBEDDER_VERSION", "fake-md5-v9")
    with pytest.raises(ValueError, match="stale index"):
        increm.run_incremental(
            spark, batch, hist, out, str(tmp_path / "delta"),
            str(tmp_path / "dlin"), run_id="s1", minhash_k=4, bands=2)


def test_cold_build_observes_counts_and_writes_no_probe_jobs(spark, tmp_path, monkeypatch):
    """A cold run launches no read of a missing artifact, no read-back
    inference and no count() job: every count is observed on its write,
    and each returned frame carries the schema a plain read infers. It
    takes 22 jobs (the lineage and metrics appends are driver-side);
    probing, re-reading and counting every artifact took 51. Each
    reported count is the artifact's real row count."""
    from doc_agent_spark.sinks.ledger import Ledger

    returned = {}
    commit = Ledger.commit

    def recording(self, name, build, partition_by=None):
        returned[name] = commit(self, name, build, partition_by)
        return returned[name]

    monkeypatch.setattr(Ledger, "commit", recording)
    in_p, out, lin, met = (str(tmp_path / n) for n in
                           ("in.parquet", "idx", "lin", "met"))
    _docs(spark, 30).write.parquet(in_p)
    sc = spark.sparkContext
    sc.setJobGroup("cold-index", "cold-index")
    try:
        stats = run_index(spark, in_p, out, lin, met, run_id="c1", dim=4,
                          centroid_stride=10, minhash_k=4, bands=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cold-index"))
    assert n_jobs <= 22, n_jobs
    assert sorted(returned) == sorted(ARTIFACTS)
    for name in ARTIFACTS:
        written = spark.read.parquet(f"{out}/{name}")
        assert stats["artifacts"][name] == written.count(), name
        assert returned[name].schema == written.schema, name
