"""Commit bookkeeping (sinks/ledger.py, sinks/metrics.py): the `_SUCCESS`
probe holds on URI paths, the footer proof rejects what does not read
back as Spark wrote it and launches no Spark job, `local_frame` builds
exactly the frame `createDataFrame(<python list>)` builds, as one local
partition, `append_rows` appends driver rows with no Spark job in files
every reader takes for Spark's, only sinks/metrics.py writes lineage and
driver rows, lineage questions share one snapshot that every write
invalidates, the config stamp has one writer whose writes are atomic,
and the rollup state (sinks/rollup_state.py) counts its snapshot without
reading it back."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from doc_agent_spark.sinks.ledger import readable
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
    "lineage": ("partition_id int, docs_in long, docs_out long, spans_out long, "
                "parse_failures long, wall_ms long",
                [(i, 7 * i, 7 * i, 0, 0, 12) for i in range(9)]),
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


def _local_frame_writes(tree: ast.AST) -> list[int]:
    """Line numbers of every ``.write`` on a ``local_frame(...)`` result
    or on a name the same module binds to one."""
    bound = {t.id for node in ast.walk(tree) if isinstance(node, ast.Assign)
             and "local_frame(" in ast.unparse(node.value)
             for t in node.targets if isinstance(t, ast.Name)}
    return [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "write"
        and ("local_frame(" in ast.unparse(node.value) or ast.unparse(node.value) in bound)
    ]


def _lineage_writes(tree: ast.AST) -> list[int]:
    """Line numbers of every ``<writer>.<format>(<...lineage...>)`` call:
    a write (``.write`` in the receiver) whose target names a lineage
    path."""
    return [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and ".write" in ast.unparse(node.func.value)
        and any("lineage" in ast.unparse(arg) for arg in node.args)
    ]


def _calls(tree: ast.AST, name: str) -> list[ast.Call]:
    return [node for node in ast.walk(tree) if isinstance(node, ast.Call)
            and (ast.unparse(node.func) == name or ast.unparse(node.func).endswith("." + name))]


def test_lineage_and_stamp_have_one_writer():
    """Lineage rows and appended driver-built rows are written only by
    sinks/metrics.py (append_lineage over append_rows): no `.write` is
    chained on a `local_frame(...)` result (or a name bound to one), no
    lineage path is written with `.write`, every `append_rows` naming a
    lineage path is append_lineage's, and every bucket/shard job and the
    Ledger append lineage through append_lineage. One module names the
    config stamp file."""
    sources = {
        str(path.relative_to(ROOT)): path.read_text()
        for top in ("doc_agent_spark", "jobs")
        for path in sorted((ROOT / top).rglob("*.py"))
    }
    trees = {name: ast.parse(text) for name, text in sources.items()}
    chained = [(name, line) for name, tree in trees.items()
               for line in _local_frame_writes(tree)]
    assert chained == [], chained
    lineage_writes = [(name, line) for name, tree in trees.items()
                      for line in _lineage_writes(tree)]
    assert lineage_writes == [], lineage_writes
    lineage_appends = [(name, ast.unparse(arg)) for name, tree in trees.items()
                       for call in _calls(tree, "append_rows")
                       for arg in [*call.args, *(k.value for k in call.keywords)]
                       if "lineage" in ast.unparse(arg)]
    assert lineage_appends == [("doc_agent_spark/sinks/metrics.py", "lineage_path")], \
        lineage_appends
    callers = {name for name, tree in trees.items() if _calls(tree, "append_lineage")}
    assert callers >= {"jobs/extract.py", "jobs/curate.py", "jobs/pack.py", "jobs/publish.py",
                       "doc_agent_spark/sinks/ledger.py"}, callers
    stamps = [name for name, text in sources.items() if "_config.json" in text]
    assert stamps == ["doc_agent_spark/operators/publish.py"], stamps


def test_stamp_write_is_atomic_and_reads_the_legacy_name(tmp_path, monkeypatch):
    """A stamp write that dies part-way leaves no stamp, so the next call
    records one (a truncated stamp would fail every later run to parse);
    an artifact stamped under the legacy `_params.json` name keeps its
    guard."""
    import json

    from doc_agent_spark.operators import publish

    out = str(tmp_path / "out")
    dump = json.dump

    def torn(obj, fh, **kw):
        fh.write('{"shards": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        publish.check_or_write_config(out, {"shards": 4})
    monkeypatch.setattr(json, "dump", dump)
    assert os.listdir(tmp_path) == []
    publish.check_or_write_config(out, {"shards": 4})
    publish.check_or_write_config(out, {"shards": 4})
    with pytest.raises(ValueError, match="config mismatch"):
        publish.check_or_write_config(out, {"shards": 8})

    legacy = str(tmp_path / "legacy")
    with open(legacy + "_params.json", "w") as fh:
        json.dump({"span_k": 5}, fh)
    assert publish.read_stamp(legacy) == {"span_k": 5}
    publish.check_or_write_config(legacy, {"span_k": 5})
    with pytest.raises(ValueError, match="stale artifact"):
        publish.check_or_write_config(legacy, {"span_k": 10})


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


def _lineage_units(rows):
    """``(partition_id, docs_out)`` pairs as append_lineage's units."""
    return [(p, n, n, 0, 0) for p, n in rows]


@pytest.fixture(params=["plain", "uri"])
def lineage(request, tmp_path):
    path = str(tmp_path / "lineage")
    return path if request.param == "plain" else pathlib.Path(path).as_uri()


def test_unchanged_lineage_is_answered_without_a_spark_job(spark, lineage):
    """Every lineage question of a run shares one driver-side snapshot:
    only the first after a write collects."""
    from doc_agent_spark.sinks.metrics import append_lineage, committed_outputs, completed_partitions

    append_lineage(spark, _lineage_units([(0, 3), (1, 4)]), lineage, "r1", "extract", 5)
    append_lineage(spark, _lineage_units([(0, 2)]), lineage, "r1", "curate", 5)
    first, n_first = _jobs_in_group(
        spark, f"snapshot-miss {lineage}", lambda: completed_partitions(spark, lineage, "r1", "extract"))
    assert first == {0, 1} and n_first == 1
    first.add(7)  # the caller's set is its own
    again, n_again = _jobs_in_group(spark, f"snapshot-hit {lineage}", lambda: (
        completed_partitions(spark, lineage, "r1", "extract"),
        completed_partitions(spark, lineage, "r1", "curate"),
        committed_outputs(spark, lineage, "r1", "extract"),
        completed_partitions(spark, lineage, "r1", "pack"),
    ))
    assert n_again == 0
    assert again[:2] == ({0, 1}, {0}) and again[3] == set()
    assert {p: n for p, (n, _) in again[2].items()} == {0: 3, 1: 4}
    other, n_other = _jobs_in_group(
        spark, f"snapshot-other-run {lineage}", lambda: completed_partitions(spark, lineage, "r2", "extract"))
    assert other == set() and n_other == 1
    assert completed_partitions(spark, lineage + "_missing", "r1", "extract") == set()


def test_lineage_snapshot_sees_every_write(spark, lineage):
    """Back-to-back appends from this process (each well inside a second
    of the one before: the directory's file count moves the stamp), a
    file another writer drops into the directory, and a rewrite with
    fewer rows are each seen by the next question."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from doc_agent_spark.schema import LINEAGE
    from doc_agent_spark.sinks.metrics import append_lineage, committed_outputs, completed_partitions

    done = lambda: completed_partitions(spark, lineage, "r1", "extract")  # noqa: E731
    for i in range(4):
        append_lineage(spark, _lineage_units([(i, 3 + i)]), lineage, "r1", "extract", 5)
        got, n_jobs = _jobs_in_group(spark, f"sees-append {lineage} {i}", done)
        assert got == set(range(i + 1)) and n_jobs == 1

    at = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(seconds=1)
    row = {"run_id": "r1", "stage": "extract", "partition_id": 0, "status": "done",
           "docs_in": 9, "docs_out": 9, "spans_out": 0, "parse_failures": 0,
           "wall_ms": 0, "finished_at": at}
    pq.write_table(pa.Table.from_pylist([row, {**row, "partition_id": 2}],
                                        schema=to_arrow_schema(LINEAGE)),
                   os.path.join(lineage.removeprefix("file://"), "part-other-writer.parquet"))
    assert done() == {0, 1, 2, 3}
    assert committed_outputs(spark, lineage, "r1", "extract")[0][0] == 9

    # the partial-lineage pattern: the directory rewritten without a unit
    kept = spark.read.schema(LINEAGE).parquet(lineage).filter("partition_id != 1").collect()
    local_frame(spark, kept, LINEAGE).write.mode("overwrite").parquet(lineage)
    assert done() == {0, 2, 3}


def test_committed_outputs_newest_row_wins(spark, tmp_path):
    """A partition rebuilt under the same run id has two rows; the snapshot
    answers exactly what a max_by(docs_out, finished_at) groupBy does."""
    import time

    from pyspark.sql import functions as F

    from doc_agent_spark.schema import LINEAGE
    from doc_agent_spark.sinks.metrics import append_lineage, committed_outputs

    lin = str(tmp_path / "lineage")
    append_lineage(spark, _lineage_units([(0, 3), (1, 4), (2, 5)]), lin, "r1", "index", 5)
    time.sleep(0.01)
    append_lineage(spark, _lineage_units([(1, 40)]), lin, "r1", "index", 5)
    append_lineage(spark, _lineage_units([(1, 99)]), lin, "r2", "index", 5)
    time.sleep(0.01)
    append_lineage(spark, _lineage_units([(2, 50)]), lin, "r1", "index", 5)
    expected = {
        r.partition_id: (r.docs_out, r.at_us / 1e6) for r in
        spark.read.schema(LINEAGE).parquet(lin)
        .filter((F.col("run_id") == "r1") & (F.col("stage") == "index"))
        .groupBy("partition_id").agg(
            F.max_by("docs_out", "finished_at").alias("docs_out"),
            F.max(F.unix_micros("finished_at")).alias("at_us"),
        ).collect()
    }
    got = committed_outputs(spark, lin, "r1", "index")
    assert got == expected
    assert {p: n for p, (n, _) in got.items()} == {0: 3, 1: 40, 2: 50}


def test_append_rows_launches_no_spark_job(spark, lineage):
    """A driver-row append commits through the path's FileSystem: no Spark
    job, on a plain path and on a `file://` URI, and the rows read back
    with the written schema."""
    from doc_agent_spark.schema import METRICS
    from doc_agent_spark.sinks.metrics import append_rows, fs_parquet_schema

    rows = [("r1", "extract", 40, 311, 2), ("r1", "extract", 0, 0, 0)]
    for i, row in enumerate(rows):
        _, n_jobs = _jobs_in_group(spark, f"append-rows {lineage} {i}",
                                   lambda: append_rows(spark, lineage, [row], METRICS))
        assert n_jobs == 0
    assert fs_parquet_schema(spark, lineage) == METRICS
    assert readable(spark, lineage) is not None
    assert sorted(map(tuple, spark.read.parquet(lineage).collect())) == sorted(rows)


def _lineage_batch(first, n, at):
    return [("r1", "extract", i, "done", i, i, 2 * i, i % 2, 7, at)
            for i in range(first, first + n)]


def test_mixed_spark_and_driver_appends_read_the_same(spark, tmp_path):
    """A lineage directory holding Spark appends and `append_rows` files,
    and one holding only `append_rows` files, read exactly as a directory
    of Spark appends of the same rows: in Spark (inferred and given
    schema), in pyarrow.dataset and in DuckDB; `finished_at` round-trips
    to the microsecond."""
    import datetime

    import duckdb
    import pyarrow.dataset as ds

    from doc_agent_spark.schema import LINEAGE
    from doc_agent_spark.sinks.metrics import append_rows, fs_parquet_schema

    at = datetime.datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc)
    batches = [_lineage_batch(0, 2, at), _lineage_batch(2, 3, at),
               _lineage_batch(5, 1, at), _lineage_batch(6, 2, at)]
    ref, mixed, driver = (str(tmp_path / d) for d in ("spark", "mixed", "driver"))
    for i, batch in enumerate(batches):
        local_frame(spark, batch, LINEAGE).write.mode("append").parquet(ref)
        append_rows(spark, driver, batch, LINEAGE)
        if i % 2:
            append_rows(spark, mixed, batch, LINEAGE)
        else:
            local_frame(spark, batch, LINEAGE).write.mode("append").parquet(mixed)
    assert fs_parquet_schema(spark, driver) == fs_parquet_schema(spark, ref) == LINEAGE

    def spark_rows(path, schema=None):
        reader = spark.read.schema(schema) if schema else spark.read
        df = reader.parquet(path)
        return df.schema, sorted(map(tuple, df.collect()))

    def arrow(path):
        dataset = ds.dataset(path, format="parquet")
        table = dataset.to_table().sort_by("partition_id")
        return dataset.count_rows(), table.schema, table.to_pylist()

    def duck(path):
        return duckdb.sql(f"SELECT * FROM read_parquet('{path}/*.parquet') "
                          "ORDER BY partition_id").fetchall()

    want = spark_rows(ref)
    assert [r[-1] for r in want[1]] == [at.replace(tzinfo=None)] * 8  # session zone is UTC
    for path in (mixed, driver):
        assert spark_rows(path) == want, path
        assert spark_rows(path, LINEAGE) == spark_rows(ref, LINEAGE), path
        assert arrow(path) == arrow(ref), path
        assert duck(path) == duck(ref), path


def test_append_that_dies_before_rename_leaves_no_row(spark, lineage, monkeypatch):
    """A driver killed between the hidden file's `create` and its rename
    leaves only the hidden file: no reader sees a row of it, and the next
    append and `completed_partitions` are correct."""
    import pyarrow.dataset as ds

    from doc_agent_spark.schema import LINEAGE
    from doc_agent_spark.sinks import metrics

    append_lineage = metrics.append_lineage
    append_lineage(spark, _lineage_units([(0, 3)]), lineage, "r1", "extract", 5)

    class Killed(Exception):
        pass

    class DiesBeforeRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, *a):
            raise Killed

    filesystem = metrics._filesystem

    def dying(*a):
        fs, target = filesystem(*a)
        return DiesBeforeRename(fs), target

    monkeypatch.setattr(metrics, "_filesystem", dying)
    with pytest.raises(Killed):
        append_lineage(spark, _lineage_units([(1, 4)]), lineage, "r1", "extract", 5)
    monkeypatch.undo()

    local = lineage.removeprefix("file://")
    hidden = [f for f in os.listdir(os.path.dirname(local))
              if f.startswith(".lineage.part-") and not f.endswith(".crc")]
    assert len(hidden) == 1
    assert not [f for f in os.listdir(local) if f.startswith(".") and not f.endswith(".crc")]
    assert spark.read.schema(LINEAGE).parquet(lineage).count() == 1
    assert ds.dataset(local, format="parquet").count_rows() == 1
    assert metrics.completed_partitions(spark, lineage, "r1", "extract") == {0}

    append_lineage(spark, _lineage_units([(1, 4)]), lineage, "r1", "extract", 5)
    assert metrics.completed_partitions(spark, lineage, "r1", "extract") == {0, 1}
    assert metrics.committed_outputs(spark, lineage, "r1", "extract")[1][0] == 4
    assert spark.read.parquet(lineage).count() == 2


def test_snapshot_read_during_an_append_is_not_kept_past_it(spark, lineage, monkeypatch):
    """A lineage question asked after an append has written its bytes but
    before the rename that commits them caches a snapshot without the
    row; the rename moves the stamp, so the next question sees the row."""
    from doc_agent_spark.sinks import metrics

    metrics.append_lineage(spark, _lineage_units([(0, 3)]), lineage, "r1", "extract", 5)
    asked = []

    class AsksBeforeRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, *a):
            asked.append(metrics.completed_partitions(spark, lineage, "r1", "extract"))
            return self.fs.rename(*a)

    filesystem = metrics._filesystem

    def asking(*a):
        fs, target = filesystem(*a)
        return AsksBeforeRename(fs), target

    monkeypatch.setattr(metrics, "_filesystem", asking)
    metrics.append_lineage(spark, _lineage_units([(1, 4)]), lineage, "r1", "extract", 5)
    monkeypatch.undo()
    assert asked == [{0}]
    assert metrics.completed_partitions(spark, lineage, "r1", "extract") == {0, 1}
    assert metrics.committed_outputs(spark, lineage, "r1", "extract")[1][0] == 4


def test_concurrent_appends_lose_no_row(spark, tmp_path):
    """Four threads appending to one directory at once: every row lands."""
    from concurrent.futures import ThreadPoolExecutor

    from doc_agent_spark.sinks.metrics import append_lineage, completed_partitions

    lin = str(tmp_path / "lineage")

    def appends(t):
        for i in range(5):
            append_lineage(spark, _lineage_units([(10 * t + i, 1)]), lin, "r1", "extract", 1)

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(appends, range(4)))
    want = {10 * t + i for t in range(4) for i in range(5)}
    assert completed_partitions(spark, lin, "r1", "extract") == want
    assert spark.read.parquet(lin).count() == len(want)

