"""Bloom semi-join reduction (plans/runtime_filter.py): row-identity with
the plain left-semi join, scan-side pruning without exchanges, and the
no-false-negatives contract the composition rests on."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc_agent_spark.operators import sketches
from doc_agent_spark.plans import runtime_filter


def _fact(spark, n=500):
    # keys k0..k49; only even keys are in the filter side
    return spark.createDataFrame(
        [(i, f"k{i % 50}", float(i)) for i in range(n)],
        "row_id long, key string, payload double",
    )


def _keys(spark):
    return spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 50, 2)] + [("absent",)], "key string"
    )


def test_bloom_semi_join_matches_plain_semi(spark):
    big, keys = _fact(spark), _keys(spark)
    plain = big.join(keys, "key", "left_semi")
    bloom = runtime_filter.bloom_semi_join(big, keys, "key")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bloom.collect())
    )


def test_bloom_semi_join_null_keys_and_empty_filter(spark):
    big = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "row_id long, key string"
    )
    keys = spark.createDataFrame([("a",)], "key string")
    out = runtime_filter.bloom_semi_join(big, keys, "key")
    assert [tuple(r) for r in out.select("row_id", "key").collect()] == [(1, "a")]
    # empty key set -> empty result, no crash
    empty = keys.filter(F.lit(False))
    assert runtime_filter.bloom_semi_join(big, empty, "key").count() == 0


def test_bloom_prune_no_false_negatives_and_actually_prunes(spark):
    big, keys = _fact(spark), _keys(spark)
    # md5 scheme: probing a sketches-built (persisted-snapshot) filter
    words = sketches.bloom_build(keys.select("key"), "key")
    pruned = runtime_filter.bloom_prune(big, words, "key",
                                        seed="bloom", scheme="md5")
    kept = {r.key for r in pruned.select("key").distinct().collect()}
    # every true member survives (no false negatives)
    assert {f"k{i}" for i in range(0, 50, 2)} <= kept
    # the prune did real work: strictly fewer rows than the fact side
    # (25 of 50 keys are members; FP rate at m=16384/n=26 is ~0)
    assert pruned.count() < big.count()
    assert pruned.count() >= big.join(keys, "key", "left_semi").count()


def test_bloom_anti_join_matches_plain_anti(spark):
    big, keys = _fact(spark), _keys(spark)
    plain = big.join(keys, "key", "left_anti")
    bloom = runtime_filter.bloom_anti_join(big, keys, "key")
    assert bloom.columns == plain.columns
    assert sorted(map(tuple, plain.select(*bloom.columns).collect())) == sorted(
        map(tuple, bloom.collect())
    )


def test_bloom_anti_join_keeps_null_keys_and_duplicates(spark):
    big = spark.createDataFrame(
        [(1, "drop"), (2, None), (3, "keep"), (4, "keep")],
        "row_id long, key string",
    )
    keys = spark.createDataFrame([("drop",)], "key string")
    out = runtime_filter.bloom_anti_join(big, keys, "key")
    got = sorted((r.row_id, r.key) for r in out.collect())
    assert got == [(2, None), (3, "keep"), (4, "keep")]
    # empty drop list keeps everything
    empty = keys.filter(F.lit(False))
    assert runtime_filter.bloom_anti_join(big, empty, "key").count() == 4


def test_bloom_flag_partitions_rows(spark):
    big, keys = _fact(spark), _keys(spark)
    words = runtime_filter.bloom_build_fast(keys, "key")
    flagged = runtime_filter.bloom_flag(big, words, "key")
    # flag column appended, schema otherwise preserved, row count unchanged
    assert flagged.columns == [*big.columns, "_rtf_maybe"]
    assert flagged.count() == big.count()
    # every true member is flagged maybe (no false negatives)
    member = flagged.filter(F.col("key").isin([f"k{i}" for i in range(0, 50, 2)]))
    assert member.filter(~F.col("_rtf_maybe")).count() == 0


def test_bloom_joins_randomized_equivalence(spark):
    """Seeded random universe (numeric keys incl. negatives, duplicates on
    both sides, partial overlap) — both reductions must equal the plain
    joins exactly. Exercises the KM double-hash over a wider key range
    than the structured cases, including h2 ≡ 0 (mod m) degenerates."""
    import random

    rng = random.Random(1234)
    big = spark.createDataFrame(
        [(i, rng.randrange(-(10**9), 10**9)) for i in range(3000)],
        "row_id long, key long",
    )
    keys = spark.createDataFrame(
        [(rng.randrange(-(10**9), 10**9),) for _ in range(400)]
        + [(r.key,) for r in big.sample(0.05, seed=7).collect()],
        "key long",
    )
    semi_plain = big.join(keys.distinct(), "key", "left_semi")
    semi_bloom = runtime_filter.bloom_semi_join(big, keys, "key", m_bits=4096)
    assert sorted(map(tuple, semi_plain.collect())) == sorted(
        map(tuple, semi_bloom.collect())
    )
    anti_plain = big.join(keys, "key", "left_anti")
    anti_bloom = runtime_filter.bloom_anti_join(big, keys, "key", m_bits=4096)
    assert sorted(map(tuple, anti_plain.select(*anti_bloom.columns).collect())) == sorted(
        map(tuple, anti_bloom.collect())
    )
    # the two reductions partition the fact side
    assert semi_bloom.count() + anti_bloom.count() == big.count()


def test_bloom_prune_plan_is_narrow(spark):
    """The scan-side prune must be exchange-free: n_hashes broadcast hash
    joins, never a shuffle of the fact side."""
    big, keys = _fact(spark), _keys(spark)
    words = runtime_filter.bloom_build_fast(keys, "key")
    pruned = runtime_filter.bloom_prune(big, words, "key")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the word-table build aggregates (its own tiny exchange is fine) but
    # the fact side itself must not be exchanged: no sort-merge join and
    # no hash-partitioning of the probe side appears in the plan
    assert "SortMergeJoin" not in plan
