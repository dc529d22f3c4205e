"""Publish job (jobs/publish.py): shards + manifest + marker end-to-end,
resume parity, tamper detection, manifest↔content agreement, and
cross-parallelism manifest determinism."""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from publish import final_manifest, run_publish  # jobs/publish.py

N = 120
SHARDS = 5


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("publish_job")
    df = spark.createDataFrame(
        [(i, f"document body {i}", "en" if i % 3 else "de") for i in range(N)],
        "doc_id long, text string, lang string",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("corpus", "lineage", "metrics"))
    stats = run_publish(
        spark, in_p, out, lin, met, run_id="pub1", shards=SHARDS, verify=True,
    )
    return stats, in_p, out, lin, met


def test_publish_complete(spark, published):
    stats, in_p, out, *_ = published
    assert stats["rows_written"] == N
    assert stats["shards_written"] == SHARDS
    assert stats["complete"] is True
    assert stats["verify_failed_shards"] == 0
    marker = json.load(open(out + "_PUBLISHED"))
    assert marker["complete"] and marker["shards"] == SHARDS
    # serialization order recorded = sorted schema
    assert marker["columns"] == ["doc_id", "lang", "text"]


def test_manifest_matches_content(spark, published):
    stats, in_p, out, *_ = published
    man = final_manifest(spark, out + "_manifest")
    rows = {r["shard"]: r for r in man.collect()}
    assert sorted(rows) == list(range(SHARDS))
    assert sum(r["n_rows"] for r in rows.values()) == N
    # every published line parses back to an input row (JSONL round-trip)
    lines = spark.read.text(out + "_shards/shard=*")
    parsed = lines.select(
        F.from_json("value", "doc_id long, lang string, text string").alias("r")
    ).select("r.*")
    assert parsed.count() == N
    assert parsed.select(F.sum("doc_id")).collect()[0][0] == sum(range(N))


def test_resume_skips_everything(spark, published):
    """Lineage holding every shard is a complete export: the resume takes
    the input's column names (the config check) from a parquet footer and
    appends its metrics row on the driver; its lineage snapshot is
    current, and it reads, plans, writes and collects nothing: no job."""
    stats, in_p, out, lin, met = published
    sc = spark.sparkContext
    sc.setJobGroup("publish-resume", "publish-resume")
    try:
        again = run_publish(
            spark, in_p, out, lin, met, run_id="pub1", shards=SHARDS,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("publish-resume")) == 0
    assert again["shards_written"] == 0
    assert again["shards_skipped"] == SHARDS
    assert again["complete"] is True
    # the no-op resume appended no manifest duplicates to collapse, and
    # even if it had, final_manifest DISTINCTs them away
    assert final_manifest(spark, out + "_manifest").count() == SHARDS


def test_input_columns_from_footer(spark, tmp_path):
    """The config check's column names come from a footer on the driver
    and equal what reading the input gives, partition columns included;
    a layout the footer cannot name is read instead."""
    from doc_agent_spark.sinks.metrics import fs_parquet_columns

    df = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "doc_id long, text string, bucket int")
    flat, parted, odd = (str(tmp_path / x) for x in ("flat", "parted", "odd"))
    df.write.parquet(flat)
    df.write.partitionBy("bucket").parquet(parted)
    df.write.parquet(odd + "/not_a_partition")
    for path in (flat, parted):
        assert sorted(fs_parquet_columns(spark, path)) == sorted(spark.read.parquet(path).columns)
    assert "bucket" in fs_parquet_columns(spark, parted)
    assert fs_parquet_columns(spark, odd) is None
    assert fs_parquet_columns(spark, str(tmp_path / "missing")) is None


def test_tamper_detected(spark, published):
    stats, in_p, out, *_ = published
    from doc_agent_spark.operators import publish as pub

    victim = sorted(glob.glob(out + "_shards/shard=*/part-*.txt"))[0]
    # drop Hadoop's local-FS CRC sidecar: on the object stores this job
    # targets there is no sidecar — the MANIFEST is the integrity layer,
    # which is exactly what this test exercises
    crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(victim, "a") as fh:
        fh.write('{"doc_id":999999,"lang":"xx","text":"injected"}\n')
    try:
        vm = pub.verify_shards(spark, out + "_shards", final_manifest(spark, out + "_manifest"))
        bad = vm.filter(~F.col("ok")).collect()
        assert len(bad) == 1  # exactly the tampered shard
        assert bad[0]["rb_rows"] == bad[0]["n_rows"] + 1
    finally:  # restore for any later test reading the fixture
        lines = open(victim).read().splitlines(keepends=True)
        with open(victim, "w") as fh:
            fh.writelines(lines[:-1])


def test_verify_flags_a_shard_missing_on_either_side(spark, published):
    """A shard on disk but absent from the manifest, and a manifest row
    whose shard is not on disk, each surface as one ok=false row that
    keeps the side it has."""
    stats, in_p, out, *_ = published
    from doc_agent_spark.operators import publish as pub

    man = final_manifest(spark, out + "_manifest")
    ghost = man.filter("shard = 0").withColumn(
        "shard", F.lit(SHARDS + 3).cast(man.schema["shard"].dataType))
    vm = pub.verify_shards(spark, out + "_shards", man.filter("shard != 1").unionByName(ghost))
    rows = {r["shard"]: r for r in vm.collect()}
    assert {s: r["ok"] for s, r in rows.items()} == {
        **{s: s != 1 for s in range(SHARDS)}, SHARDS + 3: False}
    assert rows[1]["n_rows"] is None and rows[1]["rb_rows"] > 0
    assert rows[SHARDS + 3]["rb_rows"] is None and rows[SHARDS + 3]["n_rows"] > 0


def test_manifest_parallelism_invariant(spark, published):
    """The manifest is a pure function of the table: recomputing it from
    the input at a different shuffle width is row-identical."""
    stats, in_p, out, *_ = published
    from doc_agent_spark.operators import publish as pub

    df = spark.read.parquet(in_p)
    line = pub.json_line("doc_id", "lang", "text").alias("line")
    base = {tuple(r) for r in pub.shard_manifest(
        df.select(line, "doc_id"), n_shards=SHARDS).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        narrow = {tuple(r) for r in pub.shard_manifest(
            df.repartition(1).select(line, "doc_id"), n_shards=SHARDS).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert narrow == base
    published_side = {tuple(r) for r in final_manifest(spark, out + "_manifest").collect()}
    assert published_side == base


def test_checksum_cross_engine_on_adversarial_text(spark, tmp_path):
    """The manifest checksum's byte contract holds across engines on the
    hard serialization cases: quotes, backslashes, control chars (both
    engines emit uppercase-hex \\u escapes), raw UTF-8 multibyte, emoji,
    embedded JSON. Spark's shard_manifest and the DuckDB SQL mirror must
    agree value-for-value — the same property the file_meta gate arm
    checks on stock data, pinned here on adversarial bytes."""
    import duckdb

    from doc_agent_spark.operators import publish as pub

    cases = [
        "plain", 'quote " inside', "back\\slash", "tab\there",
        "newline\nhere", "unicode é ü 中文", "emoji 🙂",
        "ctrl \x01 \x1f", "single ' quote", '{"nested":1}', "",
    ]
    rows = [(i, c) for i, c in enumerate(cases)]
    p = str(tmp_path / "adv.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)

    got = sorted(
        tuple(r) for r in pub.shard_manifest(
            spark.read.parquet(p).select(
                pub.json_line("doc_id", "text").alias("line"), "doc_id"
            ),
            n_shards=3,
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    sql = pub.shard_manifest_sql(
        "SELECT CAST(to_json(struct_pack(doc_id := doc_id, text := text))"
        " AS VARCHAR) AS line, doc_id FROM t",
        line_expr="line", key_expr="doc_id", n_shards=3,
    )
    oracle = sorted(
        (int(s), int(n), int(b), int(c)) for s, n, b, c in con.execute(sql).fetchall()
    )
    assert [(int(a), int(b_), int(c_), int(d)) for a, b_, c_, d in got] == oracle


def test_config_change_fails_fast(spark, published):
    """Re-running against an existing output with a different shard count
    (or column order/seed) must raise instead of silently mixing two
    incompatible shard mappings in one directory."""
    stats, in_p, out, lin, met = published
    with pytest.raises(ValueError, match="config mismatch"):
        run_publish(
            spark, in_p, out, lin, met, run_id="pub2", shards=SHARDS + 1,
        )
