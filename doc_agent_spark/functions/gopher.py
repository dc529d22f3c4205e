"""Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
Models: Methods, Analysis & Insights from Training Gopher", appendix A1.1) —
the standard pre-training corpus filter battery the reference has no analog
for (its quality gate is the vision-LLM prompt; see SURVEY §2.9a).

Two families, both engine-portable (every signal has a DuckDB mirror
generator in this module so the oracle computes the identical arithmetic):

* **Outlier rules** — per-document scalar signals in pure column
  expressions, zero shuffle: word count bounds, mean word length,
  symbol-to-word ratio, bullet / ellipsis line fractions, alphabetic-word
  fraction, required-stopword hits, and the combined pass flag.
* **Repetition rules** — top-{2,3,4}-gram and duplicate-{5..10}-gram
  character fractions via ONE n-tagged gram explode (not one explode per n):
  each gram rides as (n, gram) so all nine n values share a single shuffle
  pipeline of (id, n, gram) keys — the text column never rides the
  explosion. Per-word lambda folds are bounded by document word counts
  (the per-char folds this repo avoids are the expensive ones —
  BASELINE.md §4).

Thresholds follow the paper: 50 ≤ words ≤ 100k, 3 ≤ mean word length ≤ 10,
symbol ratio ≤ 0.1, bullet-start lines < 90%, ellipsis-end lines < 30%,
≥ 80% words alphabetic, ≥ 2 distinct required stopwords; repetition caps
top2 ≤ .20, top3 ≤ .18, top4 ≤ .16, dup5..dup10 ≤ .15/.14/.13/.12/.11/.10
plus the duplicate-line caps (frac ≤ .30, char frac ≤ .20) computed by
textfns.dup_line_fraction / dup_line_char_fraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doc_agent_spark.functions.textfns import words_of

REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_CHARS = ("•", "‣", "▪", "-", "*")

TOP_NGRAM_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_CAPS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


# ---------------------------------------------------------------------------
# outlier-rule signals (zero-shuffle column expressions)
# ---------------------------------------------------------------------------

def mean_word_length(text: Column) -> Column:
    """Mean token length over the shared tokenizer; 0.0 for wordless text."""
    w = words_of(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(
        F.size(w) > 0,
        F.round(total.cast("double") / F.size(w).cast("double"), 4),
    ).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column) -> Column:
    """(# occurrences of '#' + occurrences of '...' or '…') / word count."""
    syms = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.|…")
    )
    n = F.size(words_of(text))
    return F.when(
        n > 0, F.round(syms.cast("double") / n.cast("double"), 4)
    ).otherwise(F.lit(0.0))


def _lines(page: Column) -> Column:
    return F.filter(
        F.transform(F.split(page, "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )


def bullet_line_fraction(page: Column) -> Column:
    """Fraction of non-empty lines starting with a bullet character."""
    lines = _lines(page)
    hits = F.filter(
        lines, lambda ln: F.substring(ln, 1, 1).isin(*BULLET_CHARS)
    )
    return F.when(
        F.size(lines) > 0,
        F.round(F.size(hits).cast("double") / F.size(lines).cast("double"), 4),
    ).otherwise(F.lit(0.0))


def ellipsis_line_fraction(page: Column) -> Column:
    """Fraction of non-empty lines ending with '...' or '…'."""
    lines = _lines(page)
    hits = F.filter(
        lines,
        lambda ln: F.endswith(ln, F.lit("...")) | F.endswith(ln, F.lit("…")),
    )
    return F.when(
        F.size(lines) > 0,
        F.round(F.size(hits).cast("double") / F.size(lines).cast("double"), 4),
    ).otherwise(F.lit(0.0))


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of tokens containing at least one alphabetic character."""
    w = words_of(text)
    alpha = F.filter(w, lambda x: x.rlike("[a-z]"))
    return F.when(
        F.size(w) > 0,
        F.round(F.size(alpha).cast("double") / F.size(w).cast("double"), 4),
    ).otherwise(F.lit(0.0))


def required_stopword_hits(text: Column) -> Column:
    """How many DISTINCT members of the required-stopword list appear."""
    w = words_of(text)
    req = F.array(*[F.lit(s) for s in REQUIRED_STOPWORDS])
    return F.size(F.filter(req, lambda s: F.array_contains(w, s)))


def outlier_pass_cols(
    n_words: Column,
    mean_wl: Column,
    symbol_ratio: Column,
    bullet_frac: Column,
    ellipsis_frac: Column,
    alpha_frac: Column,
    stop_hits: Column,
) -> Column:
    """The combined outlier gate from already-computed signal columns —
    the single source of the thresholds (gopher_outlier_pass and the gate
    entries both route through this)."""
    return (
        (n_words >= 50)
        & (n_words <= 100000)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )


def gopher_outlier_pass(text: Column, page: Column) -> Column:
    """The combined Gopher outlier-rule gate over (scalar text, woven page)."""
    return outlier_pass_cols(
        F.size(words_of(text)),
        mean_word_length(text),
        symbol_word_ratio(text),
        bullet_line_fraction(page),
        ellipsis_line_fraction(page),
        alpha_word_fraction(text),
        required_stopword_hits(text),
    )


# ---------------------------------------------------------------------------
# repetition signals (one tagged explode for every n)
# ---------------------------------------------------------------------------

from doc_agent_spark.functions.textfns import word_ngrams_of  # noqa: E402
  # (one counting-gram builder — see textfns.word_ngrams_of docstring)


def ngram_repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document Gopher repetition fractions, all n values in one pass.

    top-n (n ≤ 4): chars covered by the MOST frequent n-gram —
    ``max over grams of count × len(gram) / len(text)`` (uncapped; identical
    to textfns.top_bigram_char_fraction at n=2). dup-n (n ≥ 5): chars in
    any gram occurring ≥ 2 times, occurrence-weighted —
    ``min(Σ_{c≥2} c × len(gram) / len(text), 1.0)`` (overlap-counted, hence
    the cap; the published implementations differ here and we pin OUR
    definition in both engines).

    Scale shape: grams explode as (id, n, gram) structs built per-row and
    flattened — one explode, one (id,n,gram) hash aggregate with map-side
    partials, one (id,n) rollup, one (id) pivot, one equi-join back for the
    char denominator. The text column never leaves the base frame.
    """
    ns = sorted(set(top_ns) | set(dup_ns))
    text = F.col(text_col)

    def _tag(n: int):
        # NB: the lambda must take exactly one arg — F.transform feeds a
        # two-arg lambda (element, index), which would shadow the n binding.
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    def _tagged(w):
        return F.flatten(
            F.array(*[F.transform(word_ngrams_of(w, n), _tag(n)) for n in ns])
        )

    # default path let_-binds the tokenization: word_ngrams_of's
    # per-position lambda slices w, and an unbound words_of(text) would
    # re-tokenize per position (the captured-expression disease)
    from doc_agent_spark.functions.assembly import let_ as _lb
    tagged = (
        _tagged(F.col(tokens_col)) if tokens_col
        else _lb(words_of(text), _tagged)
    )
    grams = (
        df.select(id_col, F.explode(tagged).alias("t"))
        .select(id_col, F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
    )
    per_n = (
        grams.groupBy(id_col, "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "n")
        .agg(
            F.max(F.col("c") * F.length("gram")).alias("top_chars"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("gram")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_chars"),
        )
    )
    prof = per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(f"top{n}_chars")
            for n in top_ns
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("dup_chars"))).alias(f"dup{n}_chars")
            for n in dup_ns
        ],
    )
    base = df.select(id_col, F.length(text).alias("_n_chars"))
    joined = base.join(prof, id_col, "left")
    cols = [
        F.coalesce(
            F.round(
                F.col(f"top{n}_chars").cast("double")
                / F.col("_n_chars").cast("double"),
                4,
            ),
            F.lit(0.0),
        ).alias(f"top{n}gram_char_frac")
        for n in top_ns
    ] + [
        # NB: least() skips NULLs in Spark AND DuckDB, so a missing dup row
        # must be coalesced to 0 BEFORE the cap, not after the round.
        F.when(
            F.col("_n_chars") > 0,
            F.round(
                F.least(
                    F.coalesce(F.col(f"dup{n}_chars"), F.lit(0)).cast("double")
                    / F.col("_n_chars").cast("double"),
                    F.lit(1.0),
                ),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias(f"dup{n}gram_char_frac")
        for n in dup_ns
    ]
    return joined.select(id_col, *cols)


def repetition_pass(
    dup_line_frac: Column,
    dup_line_char_frac: Column,
    top_fracs: dict[int, Column],
    dup_fracs: dict[int, Column],
) -> Column:
    """The combined Gopher repetition gate (line caps + all n-gram caps)."""
    cond = (dup_line_frac <= 0.30) & (dup_line_char_frac <= 0.20)
    for n, c in top_fracs.items():
        cond = cond & (c <= TOP_NGRAM_CAPS[n])
    for n, c in dup_fracs.items():
        cond = cond & (c <= DUP_NGRAM_CAPS[n])
    return cond


# ---------------------------------------------------------------------------
# DuckDB mirrors (oracle-side arithmetic, same rounding / edge cases)
# ---------------------------------------------------------------------------

def mean_word_length_sql(words: str) -> str:
    return (
        f"CASE WHEN len({words}) > 0 THEN round(CAST(list_aggregate("
        f"list_transform({words}, x -> length(x)), 'sum') AS DOUBLE)"
        f" / len({words}), 4) ELSE 0.0 END"
    )


def symbol_word_ratio_sql(text: str, words: str) -> str:
    return (
        f"CASE WHEN len({words}) > 0 THEN round(CAST("
        f"len(regexp_extract_all({text}, '#'))"
        f" + len(regexp_extract_all({text}, '\\.\\.\\.|…')) AS DOUBLE)"
        f" / len({words}), 4) ELSE 0.0 END"
    )


def _lines_sql(page: str) -> str:
    return (
        f"list_filter(list_transform(string_split({page}, chr(10)),"
        f" l -> trim(l)), l -> l <> '')"
    )


def bullet_line_fraction_sql(page: str) -> str:
    lines = _lines_sql(page)
    bullets = ", ".join(f"'{c}'" for c in BULLET_CHARS)
    return (
        f"CASE WHEN len({lines}) > 0 THEN round(CAST(len(list_filter({lines},"
        f" l -> list_contains([{bullets}], substr(l, 1, 1)))) AS DOUBLE)"
        f" / len({lines}), 4) ELSE 0.0 END"
    )


def ellipsis_line_fraction_sql(page: str) -> str:
    lines = _lines_sql(page)
    return (
        f"CASE WHEN len({lines}) > 0 THEN round(CAST(len(list_filter({lines},"
        f" l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)"
        f" / len({lines}), 4) ELSE 0.0 END"
    )


def alpha_word_fraction_sql(words: str) -> str:
    return (
        f"CASE WHEN len({words}) > 0 THEN round(CAST(len(list_filter({words},"
        f" w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)"
        f" / len({words}), 4) ELSE 0.0 END"
    )


def required_stopword_hits_sql(words: str) -> str:
    req = ", ".join(f"'{s}'" for s in REQUIRED_STOPWORDS)
    return f"len(list_filter([{req}], s -> list_contains({words}, s)))"


def ngram_repetition_sql(
    words: str,
    source: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    prefix: str = "gop",
) -> str:
    """CTE chain (no trailing comma) ending in ``{prefix}_prof`` with columns
    (id_col, top{n}gram_char_frac…, dup{n}gram_char_frac…) — the exact
    mirror of :func:`ngram_repetition_profile`."""
    ns = sorted(set(top_ns) | set(dup_ns))
    ns_list = ", ".join(str(n) for n in ns)
    top_cols = ",\n    ".join(
        f"coalesce(round(CAST(max(CASE WHEN r.n = {n} THEN r.top_chars END)"
        f" AS DOUBLE) / k.n_chars, 4), 0.0) AS top{n}gram_char_frac"
        for n in top_ns
    )
    dup_cols = ",\n    ".join(
        f"CASE WHEN k.n_chars > 0 THEN round(least("
        f"CAST(coalesce(max(CASE WHEN r.n = {n} THEN r.dup_chars END), 0)"
        f" AS DOUBLE) / k.n_chars, 1.0), 4) ELSE 0.0 END AS dup{n}gram_char_frac"
        for n in dup_ns
    )
    return f"""
{prefix}_toks AS (
  SELECT {id_col}, {words} AS ws, length({text_col}) AS n_chars FROM {source}),
{prefix}_g AS (
  SELECT {id_col}, n,
    unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
      i -> array_to_string(list_slice(ws, i, i + n - 1), ' '))) AS gram
  FROM {prefix}_toks, (SELECT unnest([{ns_list}]) AS n) _ns),
{prefix}_gc AS (
  SELECT {id_col}, n, gram, count(*) AS c FROM {prefix}_g GROUP BY {id_col}, n, gram),
{prefix}_rep AS (
  SELECT {id_col}, n, max(c * length(gram)) AS top_chars,
    sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dup_chars
  FROM {prefix}_gc GROUP BY {id_col}, n),
{prefix}_prof AS (
  SELECT k.{id_col},
    {top_cols},
    {dup_cols}
  FROM {prefix}_toks k LEFT JOIN {prefix}_rep r ON k.{id_col} = r.{id_col}
  GROUP BY k.{id_col}, k.n_chars)
""".strip()
