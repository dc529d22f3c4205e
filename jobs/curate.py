"""Checkpoint-resumable training-data curation job — the second deployable
stage (same resume model as jobs/extract.py, applied to the curation
funnel: [C4 line/page rules] → [boilerplate-line strip] →
[duplicated-span removal] → [fuzzy near-dup drop] → [per-domain cap] →
[DSIR resample] → exact dedup →
quality/language/[LM-perplexity]/[bad-words]/[C4-page] filter →
PII redaction → deterministic sampling).

The C4 rules (``--c4-rules``, Raffel et al. 2020 §2.2) run FIRST and need
no corpus stat: text is rewritten to the kept-lines form (terminal
punctuation, ≥5 words, no 'javascript') before content-hash bucketing —
so dedup sees cleaned pages — and the raw-text page flags (lorem ipsum /
curly brace / <3 sentences) fail the doc in the filter stage.

    spark-submit --py-files dist.zip jobs/curate.py \\
        --input warehouse.documents --output warehouse.curated \\
        --lineage warehouse.lineage --metrics warehouse.metrics \\
        --run-id c42 --buckets 4096 --min-quality 0.3 \\
        --langs en,de --sample-fraction 0.5 --strip-min-docs 100

Boilerplate-line stripping (``--strip-min-docs N > 0``) is the one stage
that needs a CORPUS-level statistic (per-line document frequency), so it
runs as a separate checkpointed pass: the ≥N-docs line set is computed once
per run, persisted to parquet (``--boilerplate-lines`` path, default
``<output>_boilerplate_lines``), and every bucket — including re-runs after
a resume — anti-joins against the same persisted artifact. The set is a
deterministic function of the input, so a crash before the artifact commits
just rebuilds it identically; stripping happens BEFORE content-hash
bucketing so dedup sees the cleaned text.

Duplicated-SPAN removal (``--span-k K > 0``, Lee et al. 2021 exact
substring dedup) is a corpus-stat stage too: the set of k-token windows
occurring ≥ ``--span-min-count`` times corpus-wide is computed once,
persisted (``--span-shingles`` path, default ``<output>_dup_shingles``),
and every document drops its covered tokens BEFORE content-hash
bucketing — so exact dedup sees the cleaned text, exactly like the line
strip. Runs after the line strip (its shingles come from the stripped
text) and before fuzzy dedup / the LM model.

Fuzzy (near-duplicate) dedup (``--fuzzy-jaccard T``) is a corpus-stat
stage too: MinHash-LSH candidates → exact-Jaccard verify at threshold T →
connected components → every non-canonical member goes into a persisted
DROP LIST (``--fuzzy-drops`` path, default ``<output>_fuzzy_drops``).
The survivor per cluster is the min-id label by default;
``--fuzzy-keep quality`` elects the highest-quality member instead
(dedup.pick_canonical — the editorial keep rule, priced at the dup mass,
not the corpus). Near-dup pairs cross content-hash buckets, so
the drop list cannot be a per-bucket computation — it is computed once
per run over the post-strip corpus and every bucket (including resumes)
anti-joins the same committed artifact; exact dedup inside the buckets
then handles byte-identical survivors as before.

The per-domain cap (``--domain-cap N``, RefinedWeb-style anti-monoculture
quota) is a corpus-stat stage with the same persisted-drop-list mechanics
as fuzzy dedup: domain membership crosses content-hash buckets, so the
over-cap set (everything but each domain's N hash-smallest docs —
operators/sampling.py cap_per_domain) is computed once per run, persisted
(``--domain-cap-drops``, default ``<output>_domain_cap_drops``), and
anti-joined by every bucket including resumes.

DSIR resampling (``--dsir-keep N``, Xie et al. 2023) is a corpus-stat
stage with KEEP-list mechanics (selection keeps k ≪ corpus docs, so the
artifact is the kept set, semi-joined, rather than a drop list): the two
hashed-bigram models (target = ``--dsir-target`` predicate, raw = the
post-cap corpus) and the Gumbel-top-k draw are computed once per run,
the selected doc_ids persist to ``--dsir-keep-list`` (default
``<output>_dsir_keep``), and every bucket — including resumes —
semi-joins the same committed artifact. The Gumbel noise derives from
content hashes (operators/dsir.py), so a rebuild after a pre-commit
crash selects the identical set.

LM-perplexity filtering (``--lm-max-ce X``, CCNet-style) is a
corpus-stat stage as well: the stupid-backoff bigram count model
(operators/lm_quality.py) is trained once per run over the (post-strip)
corpus and persisted (``--lm-model`` path, default ``<output>_lm_model``;
the totals table commits LAST so a partial artifact reads as absent and
rebuilds identically). Every bucket — including resumes — scores against
the same persisted model via broadcast joins, and documents with
cross-entropy above the cutoff (or with < 2 tokens, whose ce is
undefined) fail the filter stage alongside quality/language.

Resume model — why this funnel is bucket-resumable AT ALL: the bucket key
is the CONTENT hash (pmod(hash(md5(text)), buckets)), so every copy of a
duplicated text lands in the same bucket and per-bucket exact dedup is
globally exact. Every other stage (quality, lang-id, redaction, hash
sampling) is per-row. Buckets are therefore independent units of work:
dynamic partition overwrite re-runs a bucket idempotently, lineage records
one row per completed bucket with the per-stage FUNNEL counts (docs in /
after dedup / after filters / kept), and a resume anti-joins completed
buckets — identical mechanics to the extraction job.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F


def curate_bucket_plan(docs, min_quality: float, langs: list[str] | None,
                       sample_fraction: float, lm_max_ce: float | None = None,
                       blocklist: tuple[str, ...] | None = None,
                       c4_rules: bool = False):
    """The per-bucket curation funnel as one narrow-after-one-shuffle plan.
    Returns a frame with a `_stage` classification per doc: 0=duplicate,
    1=failed quality/lang filters, 2=sampled out, 3=kept — so funnel
    counters are simple aggregates over one column."""
    from doc_agent_spark.functions import textfns
    from doc_agent_spark.operators import sampling

    # exact dedup inside the bucket: content-hash bucketing makes this
    # globally exact; keep the min doc_id (canonical survivor)
    w = Window.partitionBy("text_md5").orderBy("doc_id")
    dd = (
        docs.withColumn("_rn", F.row_number().over(w))
        .withColumn("_dup", F.col("_rn") > 1)
        .drop("_rn")
    )
    scored = textfns.with_pred_lang(
        dd.withColumn("quality", textfns.quality_score(F.col("text"))),
        F.col("text"),
    )
    keep_filter = F.col("quality") >= min_quality
    if langs:
        keep_filter = keep_filter & F.col("pred_lang").isin(langs)
    if lm_max_ce is not None:
        # null lm_ce = < 2 tokens (no bigrams to score) -> fails the filter;
        # isNotNull first so SQL's three-valued NULL can't leak a doc
        # through the when(_filtered_out, ...) classification as "kept"
        keep_filter = keep_filter & (
            F.col("lm_ce").isNotNull() & (F.col("lm_ce") <= lm_max_ce)
        )
    if blocklist:
        # C4 bad-words page filter (Raffel et al. 2020 §2.2): drop the doc
        # if ANY blocklisted token appears — per-row, no corpus stat needed
        keep_filter = keep_filter & (
            textfns.blocklist_hits(F.col("text"), tuple(blocklist)) == 0
        )
    if c4_rules:
        # page flag computed upstream on the RAW text (run_curate rewrites
        # text to the line-cleaned form before bucketing)
        keep_filter = keep_filter & F.col("_c4_pass")
    flt = scored.withColumn("_filtered_out", ~keep_filter)
    sampled = flt.withColumn(
        "_sampled_out",
        ~(
            sampling._hash8(F.col("doc_id"), "curate")
            < F.lit(sampling.hex_threshold(sample_fraction))
        ),
    )
    return sampled.withColumn(
        "_stage",
        F.when(F.col("_dup"), 0)
        .when(F.col("_filtered_out"), 1)
        .when(F.col("_sampled_out"), 2)
        .otherwise(3),
    )


def _load_or_build(spark, path: str, build, params: dict | None = None):
    """Corpus-stat checkpoint: try the committed parquet artifact, else run
    ``build()`` (which must return the frame to persist), write it, and
    read the committed copy back with the written schema (no inference
    job). Every artifact is a deterministic function of the input AND its
    build parameters, so a crash before the parquet commit just rebuilds
    the identical frame. Returns (frame, reused).

    Two reuse guards:
    - ``params``: the artifact records the parameters it was built under
      in a ``<path>_params.json`` sidecar; reuse under DIFFERENT params
      raises instead of silently applying a stale artifact (a 5-token
      shingle set joined against 10-token probes would no-op the whole
      span stage with `reused: True` as the only hint). Explicit
      cross-output sharing (``--fuzzy-drops-path`` etc.) still works when
      the params agree. A missing sidecar on a pre-existing artifact is
      backfilled from the current run (trusted reuse).
    - ``_SUCCESS``: a readable directory WITHOUT the committer's success
      marker is a partial job-commit (driver died mid-rename, or a
      direct-write committer) — rebuilt, not reused; 'reads back' alone
      is not 'committed'."""
    from doc_agent_spark.sinks.ledger import readable

    df = readable(spark, path)
    if df is not None:
        _artifact_params_guard(path, params)
        return df, True
    built = build()
    built.write.mode("overwrite").parquet(path)
    _artifact_params_guard(path, params)
    return spark.read.schema(built.schema).parquet(path), False


def _artifact_params_guard(path: str, params: dict | None) -> None:
    import json as _json

    if params is None:
        return
    pp = path.rstrip("/") + "_params.json"
    if os.path.exists(pp):
        prev = _json.load(open(pp))
        if prev != params:
            raise ValueError(
                f"stale artifact {path}: built with {prev}, this run "
                f"needs {params}; delete it or point at a fresh path"
            )
    else:
        with open(pp, "w") as fh:
            _json.dump(params, fh)


def _then(docs, step):
    """The lazy stage input ``step(docs())`` as another cached thunk.
    ``run_curate`` chains its input through these, so the input is read
    (an eager schema inference, a Spark job) only once a corpus-stat
    artifact builds or a bucket is pending."""
    return functools.cache(lambda: step(docs()))


def _boilerplate_build(docs, min_docs: int):
    """The ≥min_docs line set (shared header/footer boilerplate)."""
    from doc_agent_spark.operators.dedup import boilerplate_lines

    return lambda: boilerplate_lines(docs(), min_docs=min_docs)


def _fuzzy_drops_build(docs, threshold: float, minhash_k: int = 8,
                       bands: int = 4, keep: str = "minid"):
    """The near-duplicate drop list: generate (MinHash-LSH banding) →
    verify (exact n-gram Jaccard >= threshold) → cluster → drop everyone
    but one member of each component.

    ``keep`` picks the survivor: ``minid`` (the cluster label itself —
    zero extra work) or ``quality`` (dedup.pick_canonical over the
    engine's quality score, ties to min id — the editorial keep rule; one
    members-only join + a WindowGroupLimit top-1 per cluster, both scaled
    to the dup mass, not the corpus)."""
    from doc_agent_spark.functions import textfns
    from doc_agent_spark.operators import dedup as dedup_ops

    def build():
        docs_ = docs()
        cand = dedup_ops.minhash_lsh_pairs(docs_, k=minhash_k, bands=bands)
        verified = dedup_ops.verify_pairs_jaccard(
            cand, docs_, threshold=threshold
        )
        # star contraction, not min-label: verified-Jaccard components can
        # be CHAINS (serial edit histories), and min-label needs
        # O(diameter) rounds while star converges in O(log n) for any shape
        clusters = dedup_ops.dup_clusters_star(
            verified.select("id_a", "id_b")
        )
        if keep == "minid":
            return clusters.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias("doc_id")
            )
        if keep != "quality":
            raise ValueError(f"unknown fuzzy keep policy {keep!r}")
        scored = docs_.select(
            F.col("doc_id").alias("id"),
            textfns.quality_score(F.col("text")).alias("score"),
        )
        canon = dedup_ops.pick_canonical(clusters, scored)
        return (
            clusters.join(canon.select("cluster_id", "canonical_id"), "cluster_id")
            .filter(F.col("id") != F.col("canonical_id"))
            .select(F.col("id").alias("doc_id"))
        )

    return build


def _dsir_keep_build(docs, k: int, target_pred: str, n_buckets: int):
    """DSIR keep list (operators/dsir.py; Xie et al. 2023): score every doc
    against the hashed-bigram model of the ``target_pred`` subset and
    Gumbel-top-k-resample ``k`` docs ∝ importance weight. A corpus-stat
    artifact like the others — the two models and the resample are
    corpus-level — but a KEEP list rather than a drop list (k ≪ corpus is
    the point of selection), so buckets semi-join instead of anti-join."""
    from doc_agent_spark.operators import dsir

    def build():
        target = docs().filter(F.expr(target_pred))
        return dsir.dsir_select(
            docs(), target, k=k, n_buckets=n_buckets, id_col="doc_id"
        ).select(F.col("id").alias("doc_id"))

    return build


def _domain_cap_drops_build(docs, cap: int, domain_col: str):
    """Per-domain quota drop list (RefinedWeb anti-monoculture cap): the
    rows cap_per_domain would NOT keep. A corpus-stat artifact like the
    fuzzy drop list — domain membership crosses content-hash buckets, so
    the cap is computed once per run over the post-strip corpus and every
    bucket (including resumes) anti-joins the same committed parquet."""
    from doc_agent_spark.operators import sampling

    def build():
        ids = docs().select("doc_id", domain_col)
        kept = sampling.cap_per_domain(
            ids, cap=cap, domain_col=domain_col, key_col="doc_id"
        )
        return ids.select("doc_id").join(
            kept.select("doc_id"), "doc_id", "left_anti"
        )

    return build


def _load_or_build_lm(spark, docs, path: str, min_count: int):
    """Corpus-stat checkpoint for the stupid-backoff bigram count model —
    bespoke (three tables) rather than via :func:`_load_or_build`: the
    model is committed when all three tables pass ``readable`` (each
    table's ``_SUCCESS`` marker and footer), and totals is written LAST,
    so a crash mid-artifact leaves it uncommitted and the whole model
    rebuilds identically. The FULL (untruncated) unigram aggregate is
    cached before its first action so the model write, the totals sum
    (which must cover the full counts, not the truncated model), and the
    bigram pass don't each re-scan the corpus for it."""
    from doc_agent_spark.operators import lm_quality
    from doc_agent_spark.sinks.ledger import readable

    paths = [f"{path}/uni", f"{path}/big", f"{path}/tot"]
    model = [readable(spark, p) for p in paths]
    if None not in model:
        _artifact_params_guard(path, {"lm_min_count": min_count})
        return tuple(model), True
    uni_full = lm_quality.corpus_unigrams(docs()).persist()
    try:
        built = (
            uni_full.filter(F.col("c") >= min_count),
            lm_quality.corpus_bigrams(docs(), min_count),
            # T must cover the FULL counts (min_count truncates the model,
            # not the denominator) — summed from the cached full aggregate
            uni_full.agg(F.sum("c").cast("double").alias("t")),
        )
        for df, p in zip(built, paths):
            df.write.mode("overwrite").parquet(p)
    finally:
        uni_full.unpersist()
    _artifact_params_guard(path, {"lm_min_count": min_count})
    return tuple(
        spark.read.schema(df.schema).parquet(p) for df, p in zip(built, paths)
    ), False


def _apply_drop_list(docs, drops, n_drops: int, bloom_min: int):
    """Anti-join ``docs`` against a persisted drop list, switching to the
    Bloom anti-join reduction (plans/runtime_filter.bloom_anti_join) once
    the list is big enough that the exact join's shuffle dominates.

    Below ``bloom_min`` rows the drop list is comfortably AQE-broadcastable
    and the plain left-anti is optimal. Above it — near-dup drop lists
    scale with the corpus's duplicate mass, 30-50 % of a web crawl — the
    Bloom split lets every definite-keep row (the majority) bypass the
    join with zero shuffle; the filter is sized to ~10 bits/key (~2 % FP)
    from the already-computed exact count, capped at 2^30 bits (a ~130 MB
    packed word table — big-broadcast territory). Past the cap the
    bits/key ratio degrades; below 4 bits/key the filter would flag
    nearly every row maybe, so the helper falls back to the plain join
    rather than pay probes for no pruning. Results are row-identical on
    every path (no false negatives), so the switch is purely physical."""
    if n_drops < bloom_min:
        # no broadcast hint: the drop list scales with near-dup mass, not
        # with a model size — let AQE pick broadcast vs shuffle join
        return docs.join(drops, "doc_id", "left_anti")
    m_bits = min(1 << 30, max(1 << 14, 1 << (10 * n_drops).bit_length()))
    if m_bits < 4 * n_drops:
        return docs.join(drops, "doc_id", "left_anti")
    from doc_agent_spark.plans import runtime_filter

    return runtime_filter.bloom_anti_join(docs, drops, "doc_id", m_bits=m_bits)


def run_curate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    metrics_path: str,
    run_id: str,
    buckets: int = 64,
    min_quality: float = 0.0,
    langs: list[str] | None = None,
    sample_fraction: float = 1.0,
    strip_min_docs: int = 0,
    boilerplate_path: str | None = None,
    lm_max_ce: float | None = None,
    lm_min_count: int = 2,
    lm_model_path: str | None = None,
    fuzzy_jaccard: float | None = None,
    fuzzy_drops_path: str | None = None,
    fuzzy_keep: str = "minid",
    span_k: int = 0,
    span_min_count: int = 2,
    span_shingles_path: str | None = None,
    domain_cap: int = 0,
    domain_col: str = "source",
    domain_cap_drops_path: str | None = None,
    dsir_keep: int = 0,
    dsir_target: str = "lang = 'en'",
    dsir_buckets: int = 4096,
    dsir_keep_path: str | None = None,
    blocklist: list[str] | None = None,
    c4_rules: bool = False,
    bloom_droplist_min: int = 5_000_000,
) -> dict:
    from pyspark.sql import Observation

    from doc_agent_spark.functions import redact
    from doc_agent_spark.operators import dedup as dedup_ops
    from doc_agent_spark.sinks.metrics import completed_partitions, local_frame

    t0 = time.time()
    docs = functools.cache(
        lambda: spark.read.parquet(input_path) if "/" in input_path
        else spark.read.table(input_path)
    )
    if c4_rules:
        # C4 line/page rules FIRST (Raffel et al. 2020 §2.2): the page flag
        # reads the raw text; the kept text is the line-cleaned form, so
        # every downstream stage — including content-hash bucketing, hence
        # dedup — sees the cleaned page. Pure per-row projection, no
        # artifact needed.
        from doc_agent_spark.functions import c4rules as c4f

        clean = c4f.c4_clean(F.col("text"))
        docs = _then(docs, lambda d: (
            d.withColumn("_c4_pass", c4f.c4_page_pass(F.col("text"), clean))
            .withColumn("text", clean)
            .withColumn("n_chars", F.length("text").cast("long"))
        ))
    boiler_reused = None
    if strip_min_docs > 0:
        bpath = boilerplate_path or (output_path.rstrip("/") + "_boilerplate_lines")
        boiler, boiler_reused = _load_or_build(
            spark, bpath, _boilerplate_build(docs, strip_min_docs),
            params={"strip_min_docs": strip_min_docs},
        )

        def strip(d):
            stripped = dedup_ops.strip_duplicated_lines(
                d, min_docs=strip_min_docs, boiler=boiler
            )
            return (
                d.drop("text", "n_chars")
                .join(
                    stripped.select(
                        "doc_id",
                        F.col("text_clean").alias("text"),
                        "n_lines_removed",
                    ),
                    "doc_id",
                )
                .withColumn("n_chars", F.length("text").cast("long"))
            )

        docs = _then(docs, strip)
    else:
        docs = _then(docs, lambda d: d.withColumn(
            "n_lines_removed", F.lit(0).cast("long")))
    span_reused = None
    if span_k > 0:
        spath = span_shingles_path or (output_path.rstrip("/") + "_dup_shingles")
        dup_sh, span_reused = _load_or_build(
            spark, spath,
            lambda: dedup_ops.duplicated_shingles(
                docs(), k=span_k, min_count=span_min_count
            ),
            params={"span_k": span_k, "span_min_count": span_min_count},
        )

        def strip_spans(d):
            cleaned = dedup_ops.strip_duplicated_spans(d, dup_sh, k=span_k)
            return (
                d.join(
                    cleaned.select(
                        F.col("id").alias("doc_id"),
                        F.col("text_clean"), F.col("n_tokens_removed"),
                    ),
                    "doc_id", "left",
                )
                .withColumn("text", F.coalesce("text_clean", "text"))
                .withColumn(
                    "span_tokens_removed",
                    F.coalesce("n_tokens_removed", F.lit(0)).cast("long"),
                )
                .drop("text_clean", "n_tokens_removed")
                .withColumn("n_chars", F.length("text").cast("long"))
            )

        docs = _then(docs, strip_spans)
    else:
        docs = _then(docs, lambda d: d.withColumn(
            "span_tokens_removed", F.lit(0).cast("long")))
    fuzzy_reused = None
    n_fuzzy_dropped = 0
    if fuzzy_jaccard is not None:
        fpath = fuzzy_drops_path or (output_path.rstrip("/") + "_fuzzy_drops")
        drops, fuzzy_reused = _load_or_build(
            spark, fpath, _fuzzy_drops_build(docs, fuzzy_jaccard, keep=fuzzy_keep),
            params={"fuzzy_jaccard": fuzzy_jaccard, "fuzzy_keep": fuzzy_keep},
        )
        n_fuzzy_dropped = drops.count()
        docs = _then(docs, functools.partial(
            _apply_drop_list, drops=drops, n_drops=n_fuzzy_dropped,
            bloom_min=bloom_droplist_min))
    cap_reused = None
    n_domain_capped = 0
    if domain_cap > 0:
        cpath = domain_cap_drops_path or (output_path.rstrip("/") + "_domain_cap_drops")
        cap_drops, cap_reused = _load_or_build(
            spark, cpath, _domain_cap_drops_build(docs, domain_cap, domain_col),
            params={"domain_cap": domain_cap, "domain_col": domain_col},
        )
        n_domain_capped = cap_drops.count()
        docs = _then(docs, functools.partial(
            _apply_drop_list, drops=cap_drops, n_drops=n_domain_capped,
            bloom_min=bloom_droplist_min))
    dsir_reused = None
    n_dsir_kept = 0
    if dsir_keep > 0:
        dpath = dsir_keep_path or (output_path.rstrip("/") + "_dsir_keep")
        keep, dsir_reused = _load_or_build(
            spark, dpath,
            _dsir_keep_build(docs, dsir_keep, dsir_target, dsir_buckets),
            params={"dsir_keep": dsir_keep, "dsir_target": dsir_target,
                    "dsir_buckets": dsir_buckets},
        )
        n_dsir_kept = keep.count()
        # keep list is at most dsir_keep rows — let AQE broadcast it
        docs = _then(docs, lambda d: d.join(keep, "doc_id", "left_semi"))
    lm_reused = None
    if lm_max_ce is not None:
        from doc_agent_spark.operators import lm_quality

        lpath = lm_model_path or (output_path.rstrip("/") + "_lm_model")
        (uni, big, tot), lm_reused = _load_or_build_lm(
            spark, docs, lpath, lm_min_count
        )
        # left join: < 2-token docs have no score and fail the filter stage
        docs = _then(docs, lambda d: d.join(
            lm_quality.doc_cross_entropy(d, uni, big, tot).select("doc_id", "lm_ce"),
            "doc_id", "left",
        ))
    else:
        docs = _then(docs, lambda d: d.withColumn("lm_ce", F.lit(None).cast("double")))
    done = completed_partitions(spark, lineage_path, run_id, "curate")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Skip rule (jobs/extract.py): every bucket committed ⇒ the resume
    # filter selects no row, so skip the funnel, its write and lineage —
    # and, with every corpus-stat artifact reused, the input read itself.
    m: dict = {}
    if not set(range(buckets)) <= done:
        docs = docs().withColumn("text_md5", F.md5("text")).withColumn(
            "bucket", F.pmod(F.hash("text_md5"), F.lit(buckets))
        )
        if done:
            docs = docs.filter(~F.col("bucket").isin(*sorted(done)))
        docs = docs.repartition(max(buckets, spark.sparkContext.defaultParallelism), "bucket")

        staged = curate_bucket_plan(docs, min_quality, langs, sample_fraction,
                                    lm_max_ce, tuple(blocklist) if blocklist else None,
                                    c4_rules)

        obs = Observation("curate_metrics")
        staged = staged.observe(
            obs,
            F.count(F.lit(1)).alias("docs_in"),
            F.sum((F.col("_stage") >= 1).cast("long")).alias("after_dedup"),
            F.sum((F.col("_stage") >= 2).cast("long")).alias("after_filters"),
            F.sum((F.col("_stage") == 3).cast("long")).alias("kept"),
            F.sum("n_lines_removed").alias("lines_removed"),
            F.sum("span_tokens_removed").alias("span_tokens_removed"),
        )

        out = (
            staged.filter(F.col("_stage") == 3)
            .withColumn("text", redact.redact_pii(F.col("text")))
            .select("bucket", "doc_id", "text", "lang", "pred_lang", "quality",
                    "lm_ce", "source", "n_chars", "text_md5")
        )
        out.write.mode("overwrite").partitionBy("bucket").parquet(output_path)
        m = obs.get

        # Per-bucket lineage from the STAGED frame (pre-kept-filter), written
        # only AFTER the output write commits — same crash-safe ordering as
        # jobs/extract.py (die between the two writes ⇒ no lineage row ⇒ the
        # bucket re-runs idempotently under dynamic partition overwrite).
        # Deriving lineage from the written output (the round-2 shape) lost
        # every bucket whose docs were ALL deduped/filtered/sampled out: no
        # parquet partition ⇒ no lineage row ⇒ the bucket re-ran on every
        # resume, and docs_in falsely recorded the kept count. Here docs_in is
        # the bucket's true input count and empty-output buckets are marked
        # done. The second action re-executes the funnel, but it reuses the
        # bucket repartition's shuffle files (same lineage, same context) and
        # aggregates only (bucket, _stage).
        lineage = staged.groupBy("bucket").agg(
            F.lit(run_id).alias("run_id"),
            F.lit("curate").alias("stage"),
            F.lit("done").alias("status"),
            F.count("*").alias("docs_in"),
            F.sum((F.col("_stage") == 3).cast("long")).alias("docs_out"),
            F.sum((F.col("_stage") == 3).cast("long")).alias("spans_out"),
            F.lit(0).cast("long").alias("parse_failures"),
            F.lit(int((time.time() - t0) * 1000)).cast("long").alias("wall_ms"),
            F.current_timestamp().alias("finished_at"),
        ).select(
            "run_id", "stage", F.col("bucket").cast("int").alias("partition_id"),
            "status", "docs_in", "docs_out", "spans_out", "parse_failures",
            "wall_ms", "finished_at",
        )
        lineage.write.mode("append").parquet(lineage_path)

    wall_ms = int((time.time() - t0) * 1000)
    counts = {k: int(m.get(k) or 0) for k in (
        "docs_in", "after_dedup", "after_filters", "kept", "lines_removed",
        "span_tokens_removed",
    )}
    metrics_row = local_frame(
        spark,
        [(
            run_id, "curate", counts["docs_in"], counts["after_dedup"],
            counts["after_filters"], counts["kept"],
        )],
        "run_id string, stage string, docs_in long, after_dedup long, "
        "after_filters long, kept long",
    )
    metrics_row.write.mode("append").parquet(metrics_path)
    return {
        **counts,
        "boilerplate_artifact_reused": boiler_reused,
        "span_artifact_reused": span_reused,
        "lm_artifact_reused": lm_reused,
        "fuzzy_artifact_reused": fuzzy_reused,
        "fuzzy_dropped": n_fuzzy_dropped,
        "domain_cap_artifact_reused": cap_reused,
        "domain_capped": n_domain_capped,
        "dsir_artifact_reused": dsir_reused,
        "dsir_kept": n_dsir_kept,
        "resumed_buckets_skipped": len(done),
        "wall_ms": wall_ms,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--langs", default=None,
                    help="comma-separated predicted-language allowlist")
    ap.add_argument("--sample-fraction", type=float, default=1.0)
    ap.add_argument("--strip-min-docs", type=int, default=0,
                    help="remove lines occurring in >= N docs (0 = off)")
    ap.add_argument("--boilerplate-lines", default=None,
                    help="path for the persisted boilerplate line set "
                         "(default <output>_boilerplate_lines)")
    ap.add_argument("--lm-max-ce", type=float, default=None,
                    help="drop docs with bigram-LM cross-entropy above this "
                         "(CCNet-style; unset = off)")
    ap.add_argument("--lm-min-count", type=int, default=2,
                    help="LM count-model truncation threshold")
    ap.add_argument("--lm-model", default=None,
                    help="path for the persisted LM count model "
                         "(default <output>_lm_model)")
    ap.add_argument("--fuzzy-jaccard", type=float, default=None,
                    help="drop near-duplicate docs (MinHash-LSH candidates "
                         "verified at this exact-Jaccard threshold; "
                         "unset = off)")
    ap.add_argument("--fuzzy-drops", default=None,
                    help="path for the persisted near-dup drop list "
                         "(default <output>_fuzzy_drops)")
    ap.add_argument("--fuzzy-keep", default="minid",
                    choices=["minid", "quality"],
                    help="which member of a near-dup cluster survives: the "
                         "min-id label or the highest quality score")
    ap.add_argument("--span-k", type=int, default=0,
                    help="remove k-token spans occurring >= --span-min-count "
                         "times corpus-wide (0 = off)")
    ap.add_argument("--span-min-count", type=int, default=2)
    ap.add_argument("--span-shingles", default=None,
                    help="path for the persisted duplicated-shingle set "
                         "(default <output>_dup_shingles)")
    ap.add_argument("--domain-cap", type=int, default=0,
                    help="keep at most N docs per --domain-col value "
                         "(hash-smallest win; 0 = off)")
    ap.add_argument("--domain-col", default="source")
    ap.add_argument("--domain-cap-drops", default=None,
                    help="path for the persisted over-cap drop list "
                         "(default <output>_domain_cap_drops)")
    ap.add_argument("--dsir-keep", type=int, default=0,
                    help="DSIR-resample this many docs toward the "
                         "--dsir-target distribution (0 = off)")
    ap.add_argument("--dsir-target", default="lang = 'en'",
                    help="SQL predicate defining the trusted target subset")
    ap.add_argument("--dsir-buckets", type=int, default=4096,
                    help="hashed-ngram feature buckets for the DSIR models")
    ap.add_argument("--dsir-keep-list", default=None,
                    help="path for the persisted DSIR keep list "
                         "(default <output>_dsir_keep)")
    ap.add_argument("--blocklist", default=None,
                    help="comma-separated bad-word token list; docs "
                         "containing any listed token fail the filter stage")
    ap.add_argument("--bloom-droplist-min", type=int, default=5_000_000,
                    help="drop lists at or above this many rows apply via "
                         "the Bloom anti-join reduction instead of the "
                         "plain left-anti (definite-keep rows bypass the "
                         "join shuffle entirely)")
    ap.add_argument("--c4-rules", action="store_true",
                    help="apply the C4 line/page rules first: rewrite text "
                         "to the kept-lines form and fail pages flagged by "
                         "the raw-text rules (lorem ipsum / brace / <3 "
                         "sentences)")
    args = ap.parse_args()

    from extract import ship_package  # same zip+addPyFile bootstrap

    from doc_agent_spark.session import get_spark

    spark = get_spark(app=f"curate-{args.run_id}")
    ship_package(spark)
    stats = run_curate(
        spark, args.input, args.output, args.lineage, args.metrics,
        args.run_id, args.buckets, args.min_quality,
        args.langs.split(",") if args.langs else None, args.sample_fraction,
        args.strip_min_docs, args.boilerplate_lines,
        args.lm_max_ce, args.lm_min_count, args.lm_model,
        args.fuzzy_jaccard, args.fuzzy_drops, args.fuzzy_keep,
        args.span_k, args.span_min_count, args.span_shingles,
        args.domain_cap, args.domain_col, args.domain_cap_drops,
        args.dsir_keep, args.dsir_target, args.dsir_buckets,
        args.dsir_keep_list,
        args.blocklist.split(",") if args.blocklist else None,
        args.c4_rules,
        args.bloom_droplist_min,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
