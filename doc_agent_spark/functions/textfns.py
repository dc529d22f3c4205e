"""Text-analysis functions for the training-data pipeline (task brief):
language ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. All pure column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path.

Each has a matching ANSI-SQL formulation for the DuckDB oracle (see
__spark_entry__.py), so semantics are pinned by the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from doc_agent_spark.functions.assembly import let_

# Tiny deterministic stopword inventories (top function words per language).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "para"],
}


def words_of(text: Column) -> Column:
    """Lowercased alphanumeric tokens (shared tokenizer: split on non-alnum)."""
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda w: w != ""))


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish pretokens: word/number/punct units (GPT-style pretoken regex
    simplified to a portable, lookaround-free class so the DuckDB (RE2)
    oracle computes the identical tokenization). The single source of
    truth for this token space — anything that slices by bpe_ish_token_
    count offsets (sequence packing) must tokenize with THIS function."""
    return F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of :func:`bpe_ish_tokens`."""
    return F.size(bpe_ish_tokens(text))


def stopword_hits(text: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words_of(text), lambda w: F.array_contains(sw, w)))


LANG_ORDER = ("en", "de", "fr", "es")


def lang_pick(scores: dict[str, Column]) -> Column:
    """Argmax over already-computed per-language hit columns; ties broken
    by LANG_ORDER (earliest wins), all-zero → 'und'. Each score is
    referenced O(langs) times, so pass cheap column REFERENCES (see
    with_pred_lang) — never raw stopword_hits expressions, whose
    interpreted higher-order filters would re-evaluate per reference."""
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # forward iteration with strict > ⇒ the earliest language wins ties
    for lang in LANG_ORDER:
        better = scores[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best_lang


def lang_id(text: Column) -> Column:
    """Argmax of per-language stopword hit counts; ties broken by the fixed
    language order en > de > fr > es; all-zero → 'und' (undetermined).

    Single-Column convenience form: the when-chain references each score
    expression several times and interpreted HOFs re-evaluate per
    reference (~4× slower, measured at sf0.1). In a DataFrame pipeline
    prefer :func:`with_pred_lang`, which splits score computation and
    argmax into two projections Catalyst keeps separate (CollapseProject
    refuses to inline non-cheap multi-referenced expressions)."""
    return lang_pick({lang: stopword_hits(text, lang) for lang in LANG_ORDER})


def with_pred_lang(df, text: Column, out_col: str = "pred_lang"):
    """Two-projection language ID: per-language hit counts land in a first
    Project (ONE let_-bound tokenization feeding all four stopword
    filters — the per-language stopword_hits form re-tokenized 4×), the
    argmax when-chain over the resulting cheap attribute references in a
    second. Identical output to ``lang_id``."""
    from doc_agent_spark.functions.assembly import let_

    def _hit(w: Column, lang: str) -> Column:
        sw = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
        return F.size(F.filter(w, lambda x: F.array_contains(sw, x)))

    def _hits(w: Column) -> Column:
        return F.struct(
            *[_hit(w, lang).alias(lang) for lang in LANG_ORDER]
        )

    scored = df.withColumn("_lh", let_(words_of(text), _hits))
    picked = scored.withColumn(
        out_col,
        lang_pick({lang: F.col("_lh")[lang] for lang in LANG_ORDER}),
    )
    return picked.drop("_lh")


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: blend of length band, alpha
    ratio, and English-stopword ratio (training-data filter style)."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = F.when(n > 0, alpha.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    nw = token_count(text)
    sw_ratio = F.when(
        nw > 0, stopword_hits(text, "en").cast("double") / nw.cast("double")
    ).otherwise(F.lit(0.0))
    len_band = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    return F.round(len_band * 0.4 + alpha_ratio * 0.3 + F.least(sw_ratio * F.lit(4.0), F.lit(1.0)) * 0.3, 4)


def lines_of(text: Column) -> Column:
    """Non-empty trimmed lines (split on newline)."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )


def dup_line_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of lines that repeat an
    earlier line — ``1 - distinct_lines / total_lines`` over the non-empty
    trimmed lines. 0.0 for line-less text. Pure array expressions, no
    shuffle; the per-line fold is cheap (documents have few lines, unlike
    the per-char folds this repo avoids — BASELINE.md §4)."""
    lines = lines_of(text)
    n = F.size(lines)
    return F.when(
        n > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n.cast("double"), 4
        ),
    ).otherwise(F.lit(0.0))


def dup_line_char_fraction(text: Column) -> Column:
    """Companion weight to :func:`dup_line_fraction`: fraction of line
    characters belonging to repeat occurrences — ``(Σ len(line) −
    Σ len(distinct line)) / Σ len(line)``. Catches the "one huge duplicated
    block" page that the unweighted line count understates."""
    lines = lines_of(text)
    total = F.aggregate(lines, F.lit(0), lambda acc, ln: acc + F.length(ln))
    uniq = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, ln: acc + F.length(ln)
    )
    return F.when(
        total > 0,
        F.round((total - uniq).cast("double") / total.cast("double"), 4),
    ).otherwise(F.lit(0.0))


def word_bigrams_all(text: Column) -> Column:
    """All word bigrams WITH multiplicity (unlike :func:`word_ngrams`, which
    is distinct-only for shingling) — the counting input for top-n-gram
    repetition fractions."""
    return let_(words_of(text), lambda w: word_ngrams_of(w, 2))


def word_ngrams_of(w: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity from an already-tokenized array —
    the one counting-gram builder (gopher's repetition profile and
    word_bigrams_all both delegate here; two hand-kept copies diverged
    once and had the captured-expression bug fixed twice). Callers
    passing a derived expression (not a bound column/lambda var) must
    let_-bind it: the per-position lambda slices ``w``."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed lowercase text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def top_bigram_char_fraction(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style top-2-gram repetition: per document, the fraction of
    text characters covered by the most frequent word bigram —
    ``max over bigrams of (count × len(bigram)) / len(text)`` (the
    count×len argmax needs no tie-break: ties give the same metric).

    Relational shape (the scale path — never a per-row O(k²) fold):
    explode bigrams carrying ONLY (id, bigram) so the text column never
    rides the explosion, two-level aggregation with map-side partials
    (count per (id, bigram), then max per id), and one equi-join back to
    the id frame. Documents with <2 words get 0.0 via the left join.

    Returns a DataFrame ``(id_col, top2gram_char_frac)``.
    """
    grams = df.select(
        id_col, F.explode(word_bigrams_all(F.col(text_col))).alias("gram")
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max(F.col("c") * F.length("gram")).alias("top2_chars"))
    )
    return (
        df.select(id_col, F.length(text_col).alias("_n_chars"))
        .join(top, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.round(F.col("top2_chars").cast("double") / F.col("_n_chars").cast("double"), 4),
                F.lit(0.0),
            ).alias("top2gram_char_frac"),
        )
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), over the shared tokenizer.

    The token array is let_-bound — the per-position lambda slices it, and
    an unbound reference would re-tokenize the text once per position."""
    def _with_w(w: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(w) - F.lit(n), F.lit(-1)))
        return F.when(F.size(w) >= n, F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
        )).otherwise(F.array())

    return let_(words_of(text), _with_w)


# Stand-in blocklist for the C4 "bad words" page filter (Raffel et al. 2020
# §2.2 drop any page containing a listed word; the real deployment loads the
# full public list). Tokens, not substrings — 'dup' must not flag 'dupont'.
C4_BLOCKLIST = ("dup", "forbidden")


def blocklist_hits(text: Column, words: tuple[str, ...] = C4_BLOCKLIST) -> Column:
    """Count of blocklisted-token occurrences (C4 drops the doc iff > 0).
    A zero-shuffle projection; at scale a >~1k-word list moves from the
    array literal to a broadcast join against the exploded token stream."""
    blk = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(words_of(text), lambda w: F.array_contains(blk, w)))


def blocklist_hits_sql(text_expr: str, words: tuple[str, ...] = C4_BLOCKLIST) -> str:
    """DuckDB mirror of :func:`blocklist_hits`."""
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(list_filter(string_split_regex(lower({text_expr}), "
        f"'[^a-z0-9]+'), w -> w <> ''), w -> w IN ({in_list})))"
    )


# ---------------------------------------------------------------------------
# Unicode normalization (the encoding-cleanup stage every web corpus needs
# before tokenization/dedup: decomposed accents, exotic spaces, zero-width
# characters, stray controls and \r\n all make byte-level hashes diverge for
# visually identical text).

# Literal character classes shared verbatim by the Java (Spark) and RE2
# (DuckDB) regex engines — built from codepoints so both engines receive the
# identical UTF-8 pattern bytes.
UNICODE_SPACE_CLASS = "[" + "".join(
    chr(c) for c in [0x00A0, 0x1680, *range(0x2000, 0x200B), 0x202F, 0x205F, 0x3000]
) + "]"
ZERO_WIDTH_CLASS = "[" + "".join(chr(c) for c in [0x200B, 0x200C, 0x200D, 0xFEFF]) + "]"
CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"  # keeps \t \n; \r folds first


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer with an ASCII fast path: composition
    can only change non-ASCII text, so the overwhelmingly-ASCII web corpus
    skips Python's unicodedata entirely per element. This is the ONE
    Python stage in the cleanup (the JVM has no NFC expression); everything
    downstream is codegen'd regexp_replace. DuckDB's nfc_normalize is
    verified bit-identical on the gate arm."""
    import pandas as pd  # noqa: F401

    @F.pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(
            lambda t: t if t is None or t.isascii() else unicodedata.normalize("NFC", t)
        )

    return nfc


def clean_unicode(c: Column) -> Column:
    """Post-NFC cleanup, pure JVM expressions: \\r\\n→\\n, strip controls,
    fold unicode spaces to ASCII space, drop zero-width characters,
    collapse space/tab runs, trim around newlines and ends. Operation
    order is part of the contract — clean_unicode_sql mirrors it exactly."""
    c = F.regexp_replace(c, r"\r\n?", "\n")
    c = F.regexp_replace(c, CONTROL_CLASS, "")
    c = F.regexp_replace(c, UNICODE_SPACE_CLASS, " ")
    c = F.regexp_replace(c, ZERO_WIDTH_CLASS, "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    return F.trim(c)


def normalize_text(c: Column) -> Column:
    """NFC (Arrow, ASCII-guarded) then clean_unicode (JVM)."""
    return clean_unicode(nfc_normalize_udf()(c))


def clean_unicode_sql(expr: str) -> str:
    """DuckDB mirror of normalize_text: nfc_normalize + the identical
    regexp_replace chain (RE2 and Java both read these literal classes)."""
    c = f"nfc_normalize({expr})"
    for pat, rep in [
        (r"\r\n?", "chr(10)"),
        (CONTROL_CLASS, "''"),
        (UNICODE_SPACE_CLASS, "' '"),
        (ZERO_WIDTH_CLASS, "''"),
        (r"[ \t]+", "' '"),
        (r" ?\n ?", "chr(10)"),
    ]:
        c = f"regexp_replace({c}, '{pat}', {rep}, 'g')"
    return f"trim({c})"


# Unicode script detection — the multilingual-corpus radar (which writing
# systems a crawl slice actually contains, and the per-doc dominant script
# that routing/mixture stages key on). Char-class counts per script, pure
# JVM regexp; the DuckDB mirror spells the same scripts in RE2 syntax
# (\p{Cyrillic} vs Java's \p{IsCyrillic}) — different spelling, identical
# membership for these major scripts.
SCRIPTS = ("Latin", "Cyrillic", "Greek", "Han", "Arabic", "Hebrew")


def script_counts(text: Column) -> Column:
    """array<int> of character counts per ``SCRIPTS`` entry (order fixed)."""
    return F.array(*[
        F.coalesce(
            F.length(F.regexp_replace(text, rf"[^\p{{Is{s}}}]", "")), F.lit(0)
        ).cast("int")
        for s in SCRIPTS
    ])


def dominant_script(text: Column) -> Column:
    """The script with the most characters; ties break to the SCRIPTS
    order (Latin first); 'none' when no scripted character occurs."""
    counts = script_counts(text)
    best = F.array_max(
        F.transform(
            counts,
            lambda c, i: F.struct(
                c.alias("n"), (-i).alias("ni")
            ),
        )
    )
    name = F.element_at(
        F.array(*[F.lit(s) for s in SCRIPTS]), -best.ni + 1
    )
    return F.when(best.n > 0, name).otherwise(F.lit("none"))
