"""Forget job (jobs/forget.py): the drop list vanishes from every
id-bearing index artifact, bm25_corpus is recomputed for the survivors,
ivf_cells rewrites only affected partitions, re-running is idempotent,
and the _FORGOTTEN marker lands only when every artifact verifies clean."""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from forget import PLAIN_ARTIFACTS, run_forget  # jobs/forget.py
from index import run_index  # jobs/index.py

N = 90
DROPS = [3, 17, 44]


def _index(spark, d) -> str:
    rows = [
        (i, f"document {i} about the data pipeline and the spark engine "
            f"plus filler token{i % 7} repeated token{i % 7}")
        for i in range(N)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    idx, lin, met = (str(d / x) for x in ("idx", "lineage", "metrics"))
    run_index(spark, in_p, idx, lin, met, run_id="i1", dim=8, centroid_stride=20)
    return idx


@pytest.fixture(scope="module")
def forgotten(spark, tmp_path_factory):
    idx = _index(spark, tmp_path_factory.mktemp("forget_job"))
    drop_df = spark.createDataFrame([(i,) for i in DROPS], "id long")
    stats = run_forget(spark, idx, drop_df)
    return stats, idx, drop_df


def _ids(spark, path):
    return {r.id for r in spark.read.parquet(path).select("id").distinct().collect()}


def test_drops_vanish_everywhere(spark, forgotten):
    stats, idx, _ = forgotten
    assert stats["clean"] and stats["n_drops"] == len(DROPS)
    for name in list(PLAIN_ARTIFACTS) + ["ivf_cells"]:
        got = _ids(spark, os.path.join(idx, name))
        assert not (got & set(DROPS)), name
        assert stats["remnants"][name] == 0
    # survivors intact in the row-per-doc artifacts
    for name in ("embeddings", "bm25_docstats", "sq_codes"):
        assert _ids(spark, os.path.join(idx, name)) == set(range(N)) - set(DROPS)


def test_bloom_path_matches_plain(spark, forgotten, tmp_path):
    """bloom_min=1 sends every drop-list anti join through the Bloom
    reduction: the artifacts equal the plain path's, with zero remnants."""
    _, plain_idx, drop_df = forgotten
    idx = _index(spark, tmp_path)
    stats = run_forget(spark, idx, drop_df, bloom_min=1)
    assert stats["clean"], stats
    assert all(v == 0 for v in stats["remnants"].values()), stats["remnants"]
    for name in list(PLAIN_ARTIFACTS) + ["ivf_cells", "bm25_corpus"]:
        got, want = (sorted(spark.read.parquet(os.path.join(i, name)).collect(), key=repr)
                     for i in (idx, plain_idx))
        assert got == want, name


def test_corpus_stats_recomputed(spark, forgotten):
    _, idx, _ = forgotten
    corpus = spark.read.parquet(os.path.join(idx, "bm25_corpus")).collect()[0]
    ds = spark.read.parquet(os.path.join(idx, "bm25_docstats"))
    assert corpus["n"] == N - len(DROPS) == ds.count()
    assert abs(corpus["avgdl"] - ds.agg(F.avg("dl")).collect()[0][0]) < 1e-12


def test_marker_written_with_digest(spark, forgotten):
    stats, idx, _ = forgotten
    marker = json.load(open(os.path.join(idx, "_FORGOTTEN")))
    assert marker["clean"] and marker["n_drops"] == len(DROPS)
    assert marker["drop_digest"] == stats["drop_digest"]
    # ivf_cells committed-artifact probe still satisfied after the
    # dynamic-partition rewrite (the _SUCCESS re-touch)
    assert os.path.exists(os.path.join(idx, "ivf_cells", "_SUCCESS"))


def test_rerun_is_idempotent(spark, forgotten):
    stats, idx, drop_df = forgotten
    again = run_forget(spark, idx, drop_df)
    assert again["clean"]
    assert all(v == 0 for v in again["removed"].values())
    for name in ("embeddings", "bm25_docstats"):
        assert _ids(spark, os.path.join(idx, name)) == set(range(N)) - set(DROPS)


def test_untouched_cells_not_rewritten(spark, tmp_path):
    """Affected-partitions-only: cell dirs holding no dropped ids keep
    their original data files (no rewrite churn outside the drop set)."""
    rows = [(i, f"document {i} spark engine filler token{i % 5}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(tmp_path / "in.parquet")
    df.write.parquet(in_p)
    idx, lin, met = (str(tmp_path / x) for x in ("idx", "lineage", "metrics"))
    run_index(spark, in_p, idx, lin, met, run_id="i1", dim=8, centroid_stride=12)
    cells = spark.read.parquet(os.path.join(idx, "ivf_cells"))
    drop_id = 7
    hit = {r.cell for r in cells.filter(F.col("id") == drop_id).collect()}
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(idx, "ivf_cells", "cell=*", "*.parquet"))
    }
    run_forget(spark, idx, spark.createDataFrame([(drop_id,)], "id long"))
    for p, mtime in files_before.items():
        cell_val = int(p.split("cell=")[1].split(os.sep)[0])
        if cell_val not in hit and os.path.exists(p):
            assert os.path.getmtime(p) == mtime, p  # untouched partition
    # the affected cell no longer holds the dropped id
    after = spark.read.parquet(os.path.join(idx, "ivf_cells"))
    assert after.filter(F.col("id") == drop_id).count() == 0


def test_fully_dropped_cell_is_removed(spark, tmp_path):
    """A cell whose members are ALL dropped must disappear — dynamic
    overwrite only replaces partitions present in the output, so the job
    removes emptied cell directories explicitly."""
    rows = [(i, f"document {i} spark engine filler token{i % 5}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(tmp_path / "in.parquet")
    df.write.parquet(in_p)
    idx, lin, met = (str(tmp_path / x) for x in ("idx", "lineage", "metrics"))
    run_index(spark, in_p, idx, lin, met, run_id="i1", dim=8, centroid_stride=12)
    cells = spark.read.parquet(os.path.join(idx, "ivf_cells"))
    # pick the smallest cell and drop EVERY one of its members
    victim = (
        cells.groupBy("cell").count().orderBy("count", "cell").limit(1).collect()[0]
    )
    members = [r.id for r in cells.filter(F.col("cell") == victim.cell).collect()]
    stats = run_forget(spark, idx, spark.createDataFrame([(i,) for i in members], "id long"))
    assert stats["clean"], stats
    assert stats["remnants"]["ivf_cells"] == 0
    assert not os.path.exists(os.path.join(idx, "ivf_cells", f"cell={victim.cell}"))
    assert stats["cells_vs_embeddings_consistent"]


def test_crash_mid_swap_rolls_forward(spark, forgotten):
    """Half-swapped artifact (live dir missing, committed tmp present) is
    rolled forward by the next run instead of being lost."""
    _, idx, drop_df = forgotten
    p = os.path.join(idx, "bm25_docstats")
    os.rename(p, p + "_forget_tmp")          # simulate crash between renames
    assert os.path.exists(os.path.join(p + "_forget_tmp", "_SUCCESS"))
    stats = run_forget(spark, idx, drop_df)
    assert stats["clean"]
    assert os.path.exists(p) and not os.path.exists(p + "_forget_tmp")
    assert _ids(spark, p) == set(range(N)) - set(DROPS)
