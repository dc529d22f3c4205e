"""Commit bookkeeping (sinks/ledger.py, sinks/metrics.py): the `_SUCCESS`
probe holds on URI paths, `local_frame` builds exactly the frame
`createDataFrame(<python list>)` builds, as one local partition, and the
rollup state (sinks/rollup_state.py) counts its snapshot without reading
it back."""

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
