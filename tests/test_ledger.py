"""Commit bookkeeping (sinks/ledger.py, sinks/metrics.py): the `_SUCCESS`
probe holds on URI paths, the footer proof rejects what does not read
back as Spark wrote it and launches no Spark job, `local_frame` builds
exactly the frame `createDataFrame(<python list>)` builds, as one local
partition, and the rollup state (sinks/rollup_state.py) counts its
snapshot without reading it back."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from doc_agent_spark.sinks.ledger import _ROW, readable
from doc_agent_spark.sinks.metrics import local_frame

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_readable_requires_success_marker_on_uri_paths(spark, tmp_path):
    """A partial commit (parts readable, no `_SUCCESS`) is not committed,
    whether the path is plain or a `file:` URI."""
    path = str(tmp_path / "art")
    spark.range(5).write.parquet(path)
    uri = pathlib.Path(path).as_uri()
    assert readable(spark, path) is not None
    assert readable(spark, uri).count() == 5
    os.remove(os.path.join(path, "_SUCCESS"))
    assert readable(spark, path) is None
    assert readable(spark, uri) is None
    assert readable(spark, str(tmp_path / "missing")) is None


def _data_files(path):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if not f.startswith(("_", ".")))


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_marker_without_data_files_is_not_readable(spark, tmp_path):
    path = str(tmp_path / "art")
    spark.range(5).write.parquet(path)
    for f in _data_files(path):
        os.remove(f)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert readable(spark, path) is None


@pytest.mark.parametrize("damage", ["truncate", "garble"])
def test_damaged_footer_is_not_readable_and_rebuilds(spark, tmp_path, damage):
    """The probe parses the footer it opens: a cut-off file or a footer
    overwritten in place (magic bytes and length intact) is not
    committed, and the ledger rebuilds the artifact."""
    from doc_agent_spark.sinks.ledger import Ledger

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    build = lambda: spark.range(6).coalesce(1)  # noqa: E731 — one data file
    with Ledger(spark, out, lin, "r1", "t", ["a"], None) as ledger:
        ledger.commit("a", build)
    (part,) = _data_files(f"{out}/a")
    size = os.path.getsize(part)
    with open(part, "r+b") as fh:
        if damage == "truncate":
            fh.truncate(size // 2)
        else:  # ...<footer><4-byte footer length>PAR1
            fh.seek(size - 8)
            n = int.from_bytes(fh.read(4), "little")
            fh.seek(size - 8 - n)
            fh.write(b"\xff" * n)
    # the local FileSystem would fail the stale checksum first; drop it so
    # the footer parser is what rejects the file
    crc = os.path.join(os.path.dirname(part), "." + os.path.basename(part) + ".crc")
    os.remove(crc)
    assert readable(spark, f"{out}/a") is None
    with Ledger(spark, out, lin, "r1", "t", ["a"], None) as ledger:
        df = ledger.commit("a", build)
    assert ledger.reused == {"a": False}
    assert sorted(r.id for r in df.collect()) == list(range(6))


def test_footer_without_spark_schema_is_not_readable(spark, tmp_path):
    """Every probed artifact is written by Spark; a parquet directory with
    a `_SUCCESS` marker but no Spark row schema in its footer (here
    written by pyarrow) is not taken for one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "art"
    path.mkdir()
    pq.write_table(pa.table({"id": [1, 2, 3]}), str(path / "part-0.parquet"))
    (path / "_SUCCESS").touch()
    assert spark.read.parquet(str(path)).count() == 3
    assert readable(spark, str(path)) is None


def test_uri_artifact_is_reused_without_a_spark_job(spark, tmp_path):
    path = str(tmp_path / "art")
    spark.range(7).selectExpr("id", "id % 3 AS cell").write.partitionBy("cell") \
        .parquet(path)
    uri = pathlib.Path(path).as_uri()
    df, n_jobs = _jobs_in_group(spark, "uri-reuse", lambda: readable(spark, uri))
    assert n_jobs == 0
    assert df.schema == spark.read.parquet(uri).schema
    assert df.count() == 7


def test_footer_schema_equals_inferred_schema_for_index_artifacts(spark, tmp_path):
    """Reading a reused artifact with its footer schema gives exactly the
    frame schema inference gives, including the partition column of the
    cell-partitioned `ivf_cells`."""
    from jobs.index import ARTIFACTS, run_index

    in_p, out = str(tmp_path / "in.parquet"), str(tmp_path / "idx")
    spark.createDataFrame(
        [(i, f"doc {i} spark pipeline token{i % 5}") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(in_p)
    run_index(spark, in_p, out, str(tmp_path / "lin"), str(tmp_path / "met"),
              run_id="s1", dim=4, centroid_stride=10, minhash_k=4, bands=2)
    for name in ARTIFACTS:
        p = f"{out}/{name}"
        assert readable(spark, p).schema == spark.read.parquet(p).schema, name


# (schema, rows) pairs: the ledger's lineage rows, every stage's metrics
# row, a codebook-shaped table with the float edge cases, and no rows
CASES = {
    "lineage": (_ROW, [("r1", "index", i, "done", 7 * i, 7 * i, 0, 0, 12)
                       for i in range(9)]),
    "extract": ("run_id string, stage string, docs_processed long, "
                "spans_emitted long, parse_failures long",
                [("r1", "extract", 40, 311, 2)]),
    "curate": ("run_id string, stage string, docs_in long, after_dedup long, "
               "after_filters long, kept long",
               [("r1", "curate", 40, 38, 30, 29)]),
    "pack": ("run_id string, stage string, slices long, tokens long, "
             "windows long, budget long", [("r1", "pack", 0, 0, 0, 256)]),
    "index": ("run_id string, stage string, n_vectors long, n_postings long, "
              "artifacts_reused long, wall_ms long",
              [("r1", "index", 29, 1100, 9, 1530)]),
    "incremental": ("run_id string, stage string, pairs long, dropped long,"
                    " band_rows long, wall_ms long",
                    [("r1", "incremental", 3, 2, None, 88)]),
    "publish": ("run_id string, stage string, rows_written long, shards_written int,"
                " shards_skipped int, wall_ms long", [("r1", "publish", 29, 2, 0, 410)]),
    "codebook": ("cid long, cv array<double>",
                 [(1, [-0.0, float("nan"), None]), (2, None), (None, [1.5, -0.0])]),
    "empty": ("run_id string, stage string, wall_ms long", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    schema, rows = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    # repr keeps -0.0 and NaN apart from 0.0 and from each other
    assert repr(got.collect()) == repr(want.collect())
    if rows:
        assert got.rdd.getNumPartitions() == 1


def _create_dataframe_calls(tree: ast.AST) -> list[str | None]:
    """The innermost enclosing function's name of every
    ``<x>.createDataFrame(...)`` call (None at module level)."""
    owners: list[str | None] = []

    def visit(node: ast.AST, owner: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                owners.append(owner)
            visit(child, owner)

    visit(tree, None)
    return owners


def test_create_dataframe_only_inside_local_frame():
    """Driver-built rows go through sinks.metrics.local_frame: a
    createDataFrame(<python list>) runs every action through Python
    workers."""
    calls = [
        (str(path.relative_to(ROOT)), owner)
        for top in ("doc_agent_spark", "jobs")
        for path in sorted((ROOT / top).rglob("*.py"))
        for owner in _create_dataframe_calls(ast.parse(path.read_text()))
    ]
    assert calls == [("doc_agent_spark/sinks/metrics.py", "local_frame")], calls


def test_rollup_counts_come_from_the_write_and_the_ledger(spark, tmp_path):
    """The rollup snapshot is counted on its write, and a batch already
    applied answers its state size from the ledger row alone: it still
    does with the snapshot directory gone."""
    import shutil

    from doc_agent_spark.sinks import rollup_state as rs

    state = str(tmp_path / "state")
    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0), ("a", 3.0)],
                                  "k string, value double")
    out = rs.apply_batch(spark, batch, state, ["k"], "value", "d1")
    snap = os.path.join(state, "snapshot_v1")
    assert out["n_state_rows"] == spark.read.parquet(snap).count() == 2
    shutil.rmtree(snap)
    again = rs.apply_batch(spark, batch, state, ["k"], "value", "d1")
    assert again["skipped"] and again["n_state_rows"] == 2
    assert rs.ledger_head(spark, state) == (1, 2)
