"""Resumable packing job (jobs/pack.py): plan invariants end-to-end,
materialized window assembly, resume parity, empty-shard lineage."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from pack import parse_splits, run_pack  # jobs/pack.py

N = 80
BUDGET = 64
SHARDS = 4


@pytest.fixture(scope="module")
def packed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pack_job")
    rows = [
        (i, f"doc {i} " + ("alpha beta gamma delta " * (1 + i % 7)))
        for i in range(N)
    ]
    rows.append((9999, ""))  # zero-token doc: excluded from every window
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    stats = run_pack(
        spark, in_p, out, lin, met, run_id="p1",
        budget=BUDGET, shards=SHARDS, materialize=True,
    )
    return stats, in_p, out, lin, met


def test_parse_splits():
    assert parse_splits("train=0.9,val=0.05,test=0.05") == {
        "train": 0.9, "val": 0.05, "test": 0.05,
    }
    with pytest.raises(ValueError):
        parse_splits("train:0.9")


def test_plan_conserves_tokens(spark, packed):
    stats, in_p, out, *_ = packed
    from doc_agent_spark.functions import textfns

    expected = (
        spark.read.parquet(in_p)
        .select(textfns.bpe_ish_token_count(F.col("text")).alias("t"))
        .agg(F.sum("t")).collect()[0][0]
    )
    assert stats["tokens"] == expected
    got = spark.read.parquet(out).agg(F.sum("slice_len")).collect()[0][0]
    assert got == expected


def test_windows_full_and_split_pure(spark, packed):
    _, in_p, out, *_ = packed
    plan = spark.read.parquet(out)
    win = plan.groupBy("split", "shard", "seq_id").agg(F.sum("slice_len").alias("n"))
    last = plan.groupBy("split", "shard").agg(F.max("seq_id").alias("last_seq"))
    full = win.join(last, ["split", "shard"]).filter(F.col("seq_id") < F.col("last_seq"))
    assert full.filter(F.col("n") != BUDGET).count() == 0
    # split purity: every plan row's split matches the doc's deterministic
    # split assignment — a window stream never contains another split's doc
    from doc_agent_spark.operators import sampling

    expected = sampling.split_assign(
        spark.read.parquet(in_p), {"train": 0.9, "val": 0.05, "test": 0.05},
        key_col="doc_id",
    ).select("doc_id", F.col("split").alias("expected_split"))
    mismatches = plan.join(expected, "doc_id").filter(
        F.col("split") != F.col("expected_split")
    )
    assert mismatches.count() == 0


def test_materialized_windows_match_plan(spark, packed):
    stats, _, out, *_ = packed
    wins = spark.read.parquet(out + "_windows")
    assert wins.count() == stats["windows"]
    # assembled length == planned window mass, and == budget except finals
    plan_mass = (
        spark.read.parquet(out)
        .groupBy("split", "shard", "seq_id")
        .agg(F.sum("slice_len").alias("planned"))
    )
    joined = wins.join(plan_mass, ["split", "shard", "seq_id"])
    assert joined.filter(F.col("n_tokens") != F.col("planned")).count() == 0


def test_materialized_window_content_and_order(spark, packed):
    """Every materialized window's token CONTENT must equal the reference
    reconstruction from the plan + per-doc token arrays — catches wrong
    piece ordering (array_sort regressions) and off-by-one slicing that
    the length-only checks cannot see."""
    _, in_p, out, *_ = packed
    from doc_agent_spark.functions import textfns

    doc_tokens = {
        r.doc_id: r.toks
        for r in spark.read.parquet(in_p)
        .select("doc_id", textfns.bpe_ish_tokens(F.col("text")).alias("toks"))
        .collect()
    }
    plan_rows = spark.read.parquet(out).collect()
    expected = {}
    for r in sorted(plan_rows, key=lambda r: (r.split, r.shard, r.seq_id, r.seq_offset)):
        key = (r.split, r.shard, r.seq_id)
        expected.setdefault(key, []).extend(
            doc_tokens[r.doc_id][r.slice_start : r.slice_start + r.slice_len]
        )
    got = {
        (r.split, r.shard, r.seq_id): list(r.window_tokens)
        for r in spark.read.parquet(out + "_windows").collect()
    }
    assert got == expected


def test_resume_skips_all_shards(spark, packed):
    _, in_p, out, lin, met = packed
    again = run_pack(
        spark, in_p, out, lin, met, run_id="p1",
        budget=BUDGET, shards=SHARDS,
    )
    assert again["resumed_shards_skipped"] == SHARDS
    assert again["slices"] == 0 and again["windows"] == 0
    # output untouched: every original window still present
    assert spark.read.parquet(out).count() > 0


def test_lineage_covers_every_shard(spark, packed):
    stats, _, _, lin, _ = packed
    rows = spark.read.parquet(lin).filter(
        (F.col("run_id") == "p1") & (F.col("stage") == "pack")
    )
    assert {r.partition_id for r in rows.collect()} == set(range(SHARDS))
    assert rows.agg(F.sum("docs_out")).collect()[0][0] == stats["windows"]


def test_curate_output_feeds_pack(spark, tmp_path_factory):
    """The full pipeline contract: jobs/curate.py output is directly
    packable (columns, types), and only curated-kept docs reach windows."""
    from curate import run_curate  # jobs/curate.py

    d = tmp_path_factory.mktemp("chain")
    rows = [
        (i, "the quick english document number %d about the data pipeline "
            "with the usual filler words " % i * 2, "en", "srcA", 0)
        for i in range(30)
    ]
    rows += [(100 + i, rows[i][1], "en", "srcA", 0) for i in range(5)]  # dups
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).withColumn("n_chars", F.length("text").cast("long"))
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    cur_out, lin, met = (str(d / x) for x in ("curated", "lineage", "metrics"))
    cstats = run_curate(
        spark, in_p, cur_out, lin, met, run_id="cc1", buckets=4,
        min_quality=0.1, langs=["en"], sample_fraction=1.0,
    )
    assert cstats["kept"] == 30  # 5 dups dropped

    pack_out = str(d / "packed")
    pstats = run_pack(
        spark, cur_out, pack_out, lin, met, run_id="cp1",
        budget=96, shards=2, materialize=True,
    )
    plan = spark.read.parquet(pack_out)
    assert plan.select("doc_id").distinct().count() == 30
    # packed tokens == curated corpus token mass (conservation across jobs)
    from doc_agent_spark.functions import textfns

    expected = (
        spark.read.parquet(cur_out)
        .select(textfns.bpe_ish_token_count(F.col("text")).alias("t"))
        .agg(F.sum("t")).collect()[0][0]
    )
    assert pstats["tokens"] == expected
    wins = spark.read.parquet(pack_out + "_windows")
    assert wins.agg(F.sum("n_tokens")).collect()[0][0] == expected


def test_shuffle_windows_artifact(spark, tmp_path_factory):
    """--shuffle-windows writes the full window set re-ordered by the
    deterministic order key: same windows as the per-shard dir, key =
    md5(seed:split:shard:seq_id), and file key-ranges are disjoint (range
    partitioning), so reading files in order replays the shuffled order."""
    d = tmp_path_factory.mktemp("pack_shuffle")
    rows = [(i, f"doc {i} " + ("alpha beta gamma delta " * (1 + i % 5)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    run_pack(
        spark, in_p, out, lin, met, run_id="ps", budget=64, shards=4,
        shuffle_windows=True, shuffle_seed="e1",
    )
    wins = spark.read.parquet(out + "_windows")
    shuf = spark.read.parquet(out + "_windows_shuffled")
    assert shuf.count() == wins.count()
    expect_key = F.md5(F.concat_ws(
        ":", F.lit("e1"), F.col("split"),
        F.col("shard").cast("string"), F.col("seq_id").cast("string")))
    assert shuf.filter(F.col("order_key") != expect_key).count() == 0
    files = (
        shuf.select(F.input_file_name().alias("f"), "order_key")
        .groupBy("f").agg(F.min("order_key").alias("lo"),
                          F.max("order_key").alias("hi"))
        .orderBy("lo").collect()
    )
    for prev, cur in zip(files, files[1:]):
        assert prev["hi"] <= cur["lo"]  # disjoint file key ranges


def test_shuffle_windows_refuses_partial_window_set(spark, tmp_path_factory):
    """A prior run without --materialize marks shards done but writes no
    windows; a later --shuffle-windows resume must fail loudly instead of
    shuffling a truncated corpus."""
    import pytest

    d = tmp_path_factory.mktemp("pack_shuffle_partial")
    rows = [(i, f"doc {i} " + ("alpha beta gamma delta " * (1 + i % 5)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    run_pack(spark, in_p, out, lin, met, run_id="pp", budget=64, shards=4)
    with pytest.raises(RuntimeError, match="missing shards"):
        run_pack(spark, in_p, out, lin, met, run_id="pp", budget=64,
                 shards=4, shuffle_windows=True)


def test_bpe_tokenizer_pack(spark, tmp_path_factory):
    """--tokenizer bpe: windows are sliced in the learned-BPE token space
    (merged multi-char tokens, same conservation law), the merge table is
    persisted, and a resume tokenizes with the committed merges."""
    d = tmp_path_factory.mktemp("pack_bpe")
    rows = [(i, "the data pipeline reads the table " * (1 + i % 3))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    stats = run_pack(
        spark, in_p, out, lin, met, run_id="bp", budget=32, shards=4,
        materialize=True, tokenizer="bpe", bpe_merges=50,
    )
    merges = spark.read.parquet(out + "_bpe_merges")
    # the toy vocabulary exhausts its pairs before 50 merges — the early
    # stop is part of the contract
    assert 0 < merges.count() <= 50
    windows = spark.read.parquet(out + "_windows")
    toks = [t for r in windows.select("window_tokens").collect()
            for t in r["window_tokens"]]
    assert any(len(t) > 1 for t in toks)  # merges actually fired
    # conservation in the BPE space: window tokens == corpus BPE tokens
    from doc_agent_spark.operators import tokenizer as tok

    mrows = merges.orderBy("rank").collect()
    per_doc = tok.apply_bpe(df, [(r["a"], r["b"]) for r in mrows])
    n_corpus = per_doc.select(
        F.sum(F.size("bpe_tokens")).alias("n")).collect()[0]["n"]
    assert stats["tokens"] == n_corpus == len(toks)
    # resume: nothing re-runs, merges artifact untouched
    r2 = run_pack(
        spark, in_p, out, lin, met, run_id="bp", budget=32, shards=4,
        materialize=True, tokenizer="bpe", bpe_merges=50,
    )
    assert r2["resumed_shards_skipped"] == 4 and r2["slices"] == 0


def test_bpe_merges_without_success_marker_retrain(spark, tmp_path):
    """The merge table is reused only when committed: a table whose job
    commit never finished (`_SUCCESS` missing) is retrained and
    recommitted, to the same merges."""
    in_p = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(i, "the data pipeline reads the table " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(in_p)
    mpath = str(tmp_path / "merges")
    run = lambda tag: run_pack(  # noqa: E731
        spark, in_p, str(tmp_path / f"out{tag}"), str(tmp_path / "lin"),
        str(tmp_path / "met"), run_id=f"bm{tag}", budget=32, shards=2,
        tokenizer="bpe", bpe_merges=20, bpe_path=mpath)
    merges = lambda: sorted(map(tuple, spark.read.parquet(mpath).collect()))  # noqa: E731
    first = run(1)
    want = merges()
    os.remove(os.path.join(mpath, "_SUCCESS"))
    again = run(2)
    assert os.path.exists(os.path.join(mpath, "_SUCCESS"))
    assert merges() == want
    assert again["tokens"] == first["tokens"]


def test_bpe_merges_of_another_count_are_not_reused(spark, tmp_path):
    """The merge table is stamped with its merge count: another count on
    the same `bpe_path` raises a config mismatch instead of tokenizing
    with the stale table, and the same count still reuses it."""
    in_p = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(i, "the data pipeline reads the table " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(in_p)
    mpath = str(tmp_path / "merges")
    run = lambda tag, n: run_pack(  # noqa: E731
        spark, in_p, str(tmp_path / f"out{tag}"), str(tmp_path / "lin"),
        str(tmp_path / "met"), run_id=f"bs{tag}", budget=32, shards=2,
        tokenizer="bpe", bpe_merges=n, bpe_path=mpath)
    merges = lambda: sorted(map(tuple, spark.read.parquet(mpath).collect()))  # noqa: E731
    first = run(1, 20)
    want = merges()
    assert len(want) > 2
    with pytest.raises(ValueError, match="config mismatch"):
        run(2, 2)
    assert merges() == want
    assert run(3, 20)["tokens"] == first["tokens"]
