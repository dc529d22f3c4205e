"""Resumable curation job (jobs/curate.py): funnel correctness, global
dedup exactness under content-hash bucketing, resume parity."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from pyspark.sql import functions as F

from curate import run_curate  # jobs/curate.py

N = 60


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("curate") / "docs.parquet")
    rows = []
    for i in range(N):
        text = (
            f"the quick document number {i} talks about the data and the "
            f"pipeline with plenty of the usual english filler words " * 3
        )
        rows.append((i, text, "en", f"src{i % 3}", len(text)))
    # exact dups of docs 0-9 under new ids (must dedup across buckets)
    for i in range(10):
        base = rows[i]
        rows.append((1000 + i, base[1], base[2], base[3], base[4]))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ), p


@pytest.fixture(scope="module")
def curated(spark, docs_path, tmp_path_factory):
    df, _ = docs_path
    d = tmp_path_factory.mktemp("curate_out")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    stats = run_curate(
        spark, in_p, out, lin, met, run_id="c1", buckets=8,
        min_quality=0.1, langs=["en"], sample_fraction=1.0,
    )
    return stats, out, lin, met, in_p


def test_funnel_counts(curated):
    stats, *_ = curated
    assert stats["docs_in"] == N + 10
    assert stats["after_dedup"] == N          # the 10 copies dropped
    assert stats["kept"] == stats["after_filters"]  # fraction 1.0


def test_dedup_is_globally_exact(spark, curated):
    _, out, *_ = curated
    texts = [r.text for r in spark.read.parquet(out).select("text").collect()]
    assert len(texts) == len(set(texts))


def test_output_is_redacted_and_scored(spark, curated):
    _, out, *_ = curated
    df = spark.read.parquet(out)
    assert {"quality", "pred_lang", "text_md5"} <= set(df.columns)
    assert df.filter(F.col("quality") < 0.1).count() == 0


def test_all_filtered_buckets_still_marked_done(spark, docs_path, tmp_path_factory):
    """A bucket whose docs are ALL filtered out writes no output partition,
    but must still get a lineage row (docs_out=0) — otherwise every resume
    re-processes it forever. docs_in must record the bucket's true input
    count, not the kept count."""
    df, _ = docs_path
    d = tmp_path_factory.mktemp("curate_empty")
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="ce", buckets=8,
        min_quality=1.1,  # impossible bar: every doc filtered out
    )
    assert r1["kept"] == 0 and r1["docs_in"] == N + 10
    lineage = spark.read.parquet(lin)
    assert lineage.count() == 8                       # every bucket marked done
    assert lineage.agg(F.sum("docs_in")).collect()[0][0] == N + 10
    assert lineage.agg(F.sum("docs_out")).collect()[0][0] == 0
    r2 = run_curate(
        spark, in_p, out, lin, met, run_id="ce", buckets=8, min_quality=1.1,
    )
    assert r2["resumed_buckets_skipped"] == 8 and r2["docs_in"] == 0


def test_resume_skips_completed_buckets(spark, curated):
    stats, out, lin, met, in_p = curated
    r2 = run_curate(
        spark, in_p, out, lin, met, run_id="c1", buckets=8,
        min_quality=0.1, langs=["en"], sample_fraction=1.0,
    )
    assert r2["resumed_buckets_skipped"] == 8
    assert r2["docs_in"] == 0
    # output unchanged after the no-op resume
    assert spark.read.parquet(out).count() == stats["kept"]


def test_strip_boilerplate_stage(spark, tmp_path_factory):
    """--strip-min-docs: the >=N-docs line set is computed once, persisted,
    and stripped from every doc BEFORE dedup bucketing; a resume reuses the
    committed artifact. Docs 0/1 differ only by their boilerplate footer, so
    stripping must make them exact dups (min_docs=3 keeps their shared
    content line, df=2, out of the boilerplate set)."""
    d = tmp_path_factory.mktemp("curate_strip")
    rows = [
        (0, "the unique english content of the document\nGENERATED BY SCANNER"),
        (1, "the unique english content of the document\nCONFIDENTIAL"),
        (2, "some other english words about the data\nGENERATED BY SCANNER"),
        (3, "a third english document for the corpus\nCONFIDENTIAL"),
        (4, "GENERATED BY SCANNER\nCONFIDENTIAL"),  # all boilerplate
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="cs", buckets=4, strip_min_docs=3,
    )
    assert r1["boilerplate_artifact_reused"] is False
    assert r1["lines_removed"] == 6  # the two footer lines, 3 docs each
    assert r1["docs_in"] == 5
    assert r1["after_dedup"] == 4    # 0 and 1 became exact dups post-strip
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert "GENERATED BY SCANNER" not in got[0].text
    assert got[0].text == "the unique english content of the document"
    assert got[0].n_chars == len(got[0].text)
    assert 1 not in got                      # deduped against doc 0
    assert got[4].text == ""                 # fully-boilerplate doc survives empty
    # resume: buckets skipped AND the artifact is read, not recomputed
    r2 = run_curate(
        spark, in_p, out, lin, met, run_id="cs", buckets=4, strip_min_docs=3,
    )
    # only populated buckets write lineage rows (5 docs spread over ≤4 of
    # the 4 content-hash buckets); the resume must skip exactly those and
    # re-process nothing
    n_done = spark.read.parquet(lin).count()
    assert r2["resumed_buckets_skipped"] == n_done >= 1
    assert r2["docs_in"] == 0
    assert r2["boilerplate_artifact_reused"] is True


def test_lm_perplexity_filter_stage(spark, tmp_path_factory):
    """--lm-max-ce: the bigram count model is trained once over the corpus,
    persisted, and every doc scores against it via broadcast joins; docs
    whose transitions are atypical (high cross-entropy) fail the filter
    stage, and a second run reuses the committed model artifact."""
    d = tmp_path_factory.mktemp("curate_lm")
    common = "the data pipeline reads the table and writes the table again"
    rows = [(i, f"{common} in part {i} of the corpus") for i in range(12)]
    rows.append((100, "zx qv jj wq kx vz bb nn pq rr ss tt"))  # gibberish
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))

    # cutoff sits between the typical docs' ce and the gibberish doc's:
    # every gibberish bigram is unseen (cb=1 < min_count) with rare w2.
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="lm1", buckets=4, lm_max_ce=3.5,
    )
    assert r1["lm_artifact_reused"] is False
    assert r1["docs_in"] == 13
    kept = spark.read.parquet(out)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 100 not in ids and len(ids) == 12
    assert kept.filter(F.col("lm_ce") > 3.5).count() == 0

    # fresh run id, same model path -> artifact reused, same results
    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="lm2", buckets=4,
        lm_max_ce=3.5, lm_model_path=out.rstrip("/") + "_lm_model",
    )
    assert r2["lm_artifact_reused"] is True
    assert {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()} == ids


def test_lm_model_without_totals_marker_rebuilds(spark, tmp_path):
    """The LM model is committed only when all three tables carry their
    `_SUCCESS` marker: a totals table whose job commit never finished is
    rebuilt, not reused, and the rebuilt model keeps the same docs."""
    common = "the data pipeline reads the table and writes the table again"
    rows = [(i, f"{common} in part {i} of the corpus") for i in range(8)]
    rows.append((100, "zx qv jj wq kx vz bb nn pq rr ss tt"))
    in_p = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(in_p)
    run = lambda tag, **kw: run_curate(  # noqa: E731
        spark, in_p, str(tmp_path / f"out{tag}"), str(tmp_path / f"lin{tag}"),
        str(tmp_path / f"met{tag}"), run_id=f"lmc{tag}", buckets=2,
        lm_max_ce=3.5, **kw)
    assert run(1)["lm_artifact_reused"] is False
    model = str(tmp_path / "out1_lm_model")
    os.remove(f"{model}/tot/_SUCCESS")
    assert run(2, lm_model_path=model)["lm_artifact_reused"] is False
    assert os.path.exists(f"{model}/tot/_SUCCESS")
    kept = lambda tag: {r.doc_id for r in  # noqa: E731
                        spark.read.parquet(str(tmp_path / f"out{tag}")).collect()}
    assert kept(2) == kept(1) and 100 not in kept(1)


def test_lm_filter_drops_unscorable_tiny_docs(spark, tmp_path_factory):
    """Docs with < 2 tokens have no bigrams, score NULL, and fail the LM
    filter stage (stage 1) rather than slipping through."""
    d = tmp_path_factory.mktemp("curate_lm_tiny")
    rows = [(i, "the data pipeline reads the data pipeline") for i in range(6)]
    rows.append((99, "x"))
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r = run_curate(
        spark, in_p, out, lin, met, run_id="lmt", buckets=2, lm_max_ce=50.0,
    )
    ids = {x.doc_id for x in spark.read.parquet(out).collect()}
    assert 99 not in ids
    # 6 identical docs dedup to 1 survivor + the tiny doc = 2 past dedup;
    # the tiny doc then fails the LM filter (null ce), leaving 1 kept
    assert r["after_dedup"] == 2
    assert r["kept"] == 1


def test_fuzzy_dedup_stage(spark, tmp_path_factory):
    """--fuzzy-jaccard: near-duplicates (not byte-identical, so exact
    dedup can't catch them) are dropped corpus-wide via the persisted
    drop list; the canonical (min-id) member of each cluster survives."""
    d = tmp_path_factory.mktemp("curate_fuzzy")
    base = ("the quarterly report shows the revenue number and the cost "
            "number for the data pipeline team in the usual format")
    rows = [(0, base), (1, base.replace("usual", "updated")),  # near-dups
            (2, "completely unrelated english words about some other topic "
                "entirely with no overlap in the shingle space at all")]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="fz1", buckets=4,
        fuzzy_jaccard=0.5,
    )
    assert r1["fuzzy_artifact_reused"] is False
    assert r1["fuzzy_dropped"] == 1
    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert ids == {0, 2}  # doc 1 dropped as the non-canonical near-dup

    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="fz2", buckets=4,
        fuzzy_jaccard=0.5, fuzzy_drops_path=out.rstrip("/") + "_fuzzy_drops",
    )
    assert r2["fuzzy_artifact_reused"] is True
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == ids

    # bloom_droplist_min=1 forces the Bloom anti-join reduction path for
    # the drop-list application — output must be identical (no false
    # negatives; FPs cleared by the exact join inside bloom_anti_join)
    out3, lin3, met3 = (str(d / x) for x in ("out3", "lineage3", "metrics3"))
    r3 = run_curate(
        spark, in_p, out3, lin3, met3, run_id="fz3", buckets=4,
        fuzzy_jaccard=0.5, bloom_droplist_min=1,
    )
    assert r3["fuzzy_dropped"] == 1
    assert {r.doc_id for r in spark.read.parquet(out3).collect()} == ids


def test_fuzzy_keep_quality_policy(spark, tmp_path_factory):
    """--fuzzy-keep quality: the cluster survivor is the highest-quality
    member, not the min id — doc 0 is the near-dup with junk appended
    (lower alpha ratio), so the minid policy would keep 0 but the quality
    policy keeps 1."""
    d = tmp_path_factory.mktemp("curate_fkq")
    base = ("the quarterly report shows the revenue number and the cost "
            "number for the data pipeline team in the usual format")
    rows = [(0, base + " 1111 2222 3333 4444 ####"), (1, base)]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r = run_curate(
        spark, in_p, out, lin, met, run_id="fkq", buckets=4,
        fuzzy_jaccard=0.5, fuzzy_keep="quality",
    )
    assert r["fuzzy_dropped"] == 1
    assert {x.doc_id for x in spark.read.parquet(out).collect()} == {1}
    # same corpus under minid keeps doc 0 instead
    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="fkq2", buckets=4,
        fuzzy_jaccard=0.5,
    )
    assert {x.doc_id for x in spark.read.parquet(out2).collect()} == {0}


def test_span_removal_stage(spark, tmp_path_factory):
    """--span-k: duplicated k-token spans are stripped corpus-wide BEFORE
    content-hash bucketing, so docs that differ only in unique tails keep
    their tails while the shared span goes; the shingle artifact persists
    and is reused."""
    d = tmp_path_factory.mktemp("curate_span")
    shared = "standard legal disclaimer text appended to every document here"
    rows = [(i, f"unique body number {i} with own words then {shared}")
            for i in range(4)]
    rows.append((50, "totally separate english document with no shared part"))
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="sp1", buckets=4, span_k=5,
    )
    assert r1["span_artifact_reused"] is False
    assert r1["span_tokens_removed"] > 0
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 1, 2, 3, 50}
    for i in range(4):
        assert "disclaimer" not in got[i]
        assert f"number {i}" in got[i]        # unique body survives
    assert "separate english document" in got[50]
    assert got[50] == rows[4][1]              # untouched doc byte-identical

    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="sp2", buckets=4, span_k=5,
        span_shingles_path=out.rstrip("/") + "_dup_shingles",
    )
    assert r2["span_artifact_reused"] is True
    assert {r.doc_id: r.text for r in
            spark.read.parquet(out2).collect()} == got


def test_domain_cap_stage(spark, tmp_path_factory):
    """--domain-cap: each domain keeps at most N docs (hash-smallest win),
    the over-cap drop list persists as a run artifact and is reused."""
    d = tmp_path_factory.mktemp("curate_cap")
    rows = [
        (i, f"the document number {i} talks about the data and the pipeline "
            f"with plenty of the usual english filler words for padding",
         "en", "heavy" if i < 20 else f"tail{i % 2}", 120)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="dc1", buckets=4,
        domain_cap=6,
    )
    assert r1["domain_cap_artifact_reused"] is False
    assert r1["domain_capped"] == 14          # heavy: 20 -> 6
    got = spark.read.parquet(out).groupBy("source").count().collect()
    sizes = {r.source: r["count"] for r in got}
    assert sizes["heavy"] == 6
    assert sizes["tail0"] == 5 and sizes["tail1"] == 5   # under cap, untouched

    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="dc2", buckets=4,
        domain_cap=6, domain_cap_drops_path=out.rstrip("/") + "_domain_cap_drops",
    )
    assert r2["domain_cap_artifact_reused"] is True
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == {
        r.doc_id for r in spark.read.parquet(out).collect()
    }


def test_dsir_resample_stage(spark, tmp_path_factory):
    """--dsir-keep: the keep list pulls the kept corpus toward the target
    slice, persists as a run artifact, and is reused on a second run."""
    d = tmp_path_factory.mktemp("curate_dsir")
    rows = [
        (
            i,
            ("stock market earnings dividend report quarterly finance "
             "statement balance revenue" if i % 5 == 0 else
             "the quick brown fox jumps over the lazy dog again and again "
             "with plenty of the usual english filler words"),
            "en" if i % 5 == 0 else "de",
            f"src{i % 3}", 100,
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r1 = run_curate(
        spark, in_p, out, lin, met, run_id="ds1", buckets=4,
        dsir_keep=10, dsir_target="lang = 'en'", dsir_buckets=256,
    )
    assert r1["dsir_artifact_reused"] is False
    assert r1["dsir_kept"] == 10
    kept = spark.read.parquet(out)
    # dedup collapses the 10 identical finance docs to one survivor and
    # the 40 identical background docs to one, so check the SELECTION:
    # every finance doc (5x target weight) outranks every background doc
    keep_ids = {r.doc_id for r in spark.read.parquet(out + "_dsir_keep").collect()}
    assert keep_ids == {i for i in range(50) if i % 5 == 0}
    assert kept.count() >= 1

    out2, lin2, met2 = (str(d / x) for x in ("out2", "lineage2", "metrics2"))
    r2 = run_curate(
        spark, in_p, out2, lin2, met2, run_id="ds2", buckets=4,
        dsir_keep=10, dsir_target="lang = 'en'", dsir_buckets=256,
        dsir_keep_path=out + "_dsir_keep",
    )
    assert r2["dsir_artifact_reused"] is True
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} <= keep_ids


def test_blocklist_filter_stage(spark, tmp_path_factory):
    """--blocklist: docs containing any listed token fail the filter stage
    (C4 bad-words rule); clean docs keep flowing."""
    d = tmp_path_factory.mktemp("curate_blk")
    rows = [
        (i,
         ("this row mentions the forbidden topic openly " if i % 4 == 0
          else "a perfectly clean document about data pipelines ") + str(i),
         "en", "src0", 50)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r = run_curate(
        spark, in_p, out, lin, met, run_id="blk1", buckets=4,
        blocklist=["forbidden", "banned"],
    )
    kept = spark.read.parquet(out)
    ids = {x.doc_id for x in kept.collect()}
    assert ids == {i for i in range(20) if i % 4 != 0}
    assert r["kept"] == 15


def test_c4_rules_stage(spark, tmp_path_factory):
    """--c4-rules: text is rewritten to the kept-lines form BEFORE bucketing
    (so rule-cleaned dups collapse), and raw-text page flags fail the doc."""
    d = tmp_path_factory.mktemp("curate_c4")
    body = (
        "the shared english content of this document sits here nicely.\n"
        "another good sentence with enough words follows directly here.\n"
        "a third sentence keeps the page above the sentence floor."
    )
    rows = [
        (0, body + "\nplease enable javascript to view it."),  # js line differs
        (1, body + "\nno terminal punctuation trailer at all"),  # unterminated
        (2, body + "\nlorem ipsum dolor sit amet consectetur."),  # page flag
        (3, "var config = { debug: true };\n" + body),            # page flag
        (4, body),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    r = run_curate(
        spark, in_p, out, lin, met, run_id="c4r", buckets=4, c4_rules=True,
    )
    got = {x.doc_id: x for x in spark.read.parquet(out).collect()}
    # 0/1/4 clean to the identical body, and 3's brace line ends in ';'
    # (not terminal) so it cleans to the body too -> dedup keeps doc 0 of
    # four copies; 2 and 3 fail the raw-text page flags (3 as a dup anyway)
    assert set(got) == {0}
    assert got[0].text == body
    assert r["docs_in"] == 5 and r["after_dedup"] == 2 and r["kept"] == 1


def test_stale_artifact_params_fail_fast(spark, tmp_path_factory):
    """Re-running against an existing corpus-stat artifact with DIFFERENT
    build parameters (e.g. span_k 5 -> 10: the old shingle set would
    silently no-op the span stage) must raise, not apply the stale set."""
    import pytest as _pytest

    d = tmp_path_factory.mktemp("stale")
    body = ("some repeated words appear in this span many times over "
            "and the rest of the text differs per document here ")
    df = spark.createDataFrame(
        [(i, body + f"tail {i}", "en", "s0", 100) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_p = str(d / "in.parquet")
    df.write.parquet(in_p)
    out, lin, met = (str(d / x) for x in ("out", "lineage", "metrics"))
    run_curate(spark, in_p, out, lin, met, run_id="sp1", buckets=2, span_k=5)
    with _pytest.raises(ValueError, match="stale artifact"):
        run_curate(
            spark, in_p, out, lin, met, run_id="sp2", buckets=2, span_k=10,
        )
    # same params reuse the artifact cleanly
    r = run_curate(spark, in_p, out, lin, met, run_id="sp3", buckets=2, span_k=5)
    assert r["span_artifact_reused"] is True


def test_cold_fuzzy_run_counts_its_drop_list_on_the_write(spark, tmp_path):
    """A cold run with fuzzy dedup takes the drop-list size from the
    artifact's write (sinks/ledger.commit), not from a count job; a run
    that reuses the list counts it, to the same number."""
    base = ("the quarterly report shows the revenue number and the cost "
            "number for the data pipeline team in the usual format")
    in_p = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(0, base, "en", "s0", 100), (1, base.replace("usual", "updated"), "en", "s0", 100),
         (2, "completely unrelated english words about some other topic "
             "entirely with no overlap in the shingle space at all", "en", "s0", 100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(in_p)
    sc = spark.sparkContext

    def run(tag):
        sc.setJobGroup(tag, tag)
        try:
            r = run_curate(
                spark, in_p, str(tmp_path / f"out{tag}"), str(tmp_path / f"lin{tag}"),
                str(tmp_path / f"met{tag}"), run_id=tag, buckets=4, fuzzy_jaccard=0.5,
                fuzzy_drops_path=str(tmp_path / "drops"),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return r, len(sc.statusTracker().getJobIdsForGroup(tag))

    cold, n_jobs = run("fzc")
    assert cold["fuzzy_artifact_reused"] is False and cold["fuzzy_dropped"] == 1
    assert n_jobs <= JOBS_COLD_FUZZY, n_jobs
    again, _ = run("fzr")
    assert again["fuzzy_artifact_reused"] is True and again["fuzzy_dropped"] == 1


# Spark jobs of that cold run: the near-dup clustering rounds, the
# drop-list write (which counts the list), the funnel write and its
# lineage collect (the lineage and metrics appends are driver-side)
JOBS_COLD_FUZZY = 35
