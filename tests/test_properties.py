"""Property-based tests (hypothesis) for the JS-semantics hard parts
(SURVEY §7.3): Number() coercion, date normalization, JSON salvage, page
assembly, money parsing. These are pure-Python spec functions — no Spark
session needed, so thousands of cases run in seconds."""

from __future__ import annotations

import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from doc_agent_spark import spec
from doc_agent_spark.jsdate import js_num_to_str, js_number, normalize_date

settings.register_profile("ci", max_examples=300, deadline=None)
settings.load_profile("ci")


# --- js_number ------------------------------------------------------------

@given(st.floats(allow_nan=False, allow_infinity=False))
def test_js_number_roundtrips_floats(x):
    assert js_number(x) == x


@given(st.integers(min_value=-10**15, max_value=10**15))
def test_js_number_parses_decimal_strings(n):
    assert js_number(str(n)) == float(n)


@given(st.text(alphabet="0123456789., -+eE$", max_size=20))
def test_js_number_total_no_crash(s):
    v = js_number(s)
    assert isinstance(v, float)  # NaN allowed; never raises


@given(st.floats(allow_nan=False, allow_infinity=False, min_value=-1e15, max_value=1e15))
def test_js_num_to_str_reparses_to_same_value(x):
    s = js_num_to_str(x)
    assert float(s) == x
    if x == int(x):
        assert "." not in s  # String(1250.0) === '1250'


# --- normalize_date -------------------------------------------------------

@given(st.integers(1, 12), st.integers(1, 28), st.integers(1970, 2099))
def test_normalize_date_iso_identity(m, d, y):
    assert normalize_date(f"{y}-{m:02d}-{d:02d}") == f"{y}-{m:02d}-{d:02d}"


@given(st.integers(1, 12), st.integers(1, 28))
def test_normalize_date_mdy_two_digit_year(m, d):
    # 2-digit years: the reference's fallback expands YY -> 20YY; V8 new Date
    # maps <50 -> 20YY, so for 24 both arms agree
    assert normalize_date(f"{m:02d}/{d:02d}/24") == f"2024-{m:02d}-{d:02d}"


@given(st.integers(1, 12), st.integers(1, 28), st.integers(1970, 2099))
def test_normalize_date_mdy_four_digit(m, d, y):
    assert normalize_date(f"{m}/{d}/{y}") == f"{y}-{m:02d}-{d:02d}"


@given(st.integers(13, 99), st.integers(1, 28))
def test_normalize_date_invalid_month_rejected(m, d):
    assert normalize_date(f"{m:02d}/{d:02d}/2024") is None


@given(st.text(max_size=30))
def test_normalize_date_total(s):
    v = normalize_date(s)
    assert v is None or (len(v) == 10 and v[4] == "-" and v[7] == "-")


# --- salvage parse --------------------------------------------------------

json_objects = st.dictionaries(
    st.text(alphabet=st.characters(blacklist_characters="{}", blacklist_categories=("Cs",)), max_size=8),
    st.one_of(st.none(), st.integers(-1000, 1000), st.floats(-1e6, 1e6, allow_nan=False),
              st.text(alphabet=st.characters(blacklist_characters="{}", blacklist_categories=("Cs",)), max_size=12)),
    max_size=5,
)


@given(json_objects)
def test_salvage_recovers_wrapped_json(obj):
    raw = json.dumps(obj)
    assert spec.salvage_parse(raw) == obj
    # brace-slice salvage (ollama.ts:210-216): noise must not contain braces
    assert spec.salvage_parse(f"noise {raw} trailing") == obj


@given(st.text(alphabet=st.characters(blacklist_characters="{}", blacklist_categories=("Cs",)), max_size=40))
def test_salvage_rejects_braceless_garbage(s):
    try:
        v = spec.salvage_parse(s)
        assert isinstance(v, dict)  # only if s itself was a JSON object string
    except spec.ZodParseError:
        pass


# --- page assembly --------------------------------------------------------

@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), max_size=8))
def test_assemble_pages_invariants(pages):
    out = spec.assemble_pages(pages)
    kept = [(i + 1, (t or "").strip()) for i, t in enumerate(pages) if (t or "").strip()]
    # every kept page appears with its PRE-filter 1-based number (ocr.ts:46)
    for num, txt in kept:
        assert f"--- Page {num} ---\n{txt}" in out
    assert out.count("--- Page ") == len(kept)
    if not kept:
        assert out == ""


# --- money parsing --------------------------------------------------------

@given(st.integers(0, 10**6), st.integers(0, 99), st.booleans(), st.booleans())
def test_parse_money_tail(cents_units, cents, neg, grouped):
    v = cents_units + cents / 100.0
    s = f"{v:,.2f}" if grouped else f"{v:.2f}"
    if neg:
        s = "-" + s
    line = f"Total    {s}"
    got = spec._parse_money(line)
    assert got is not None
    assert math.isclose(got, -v if neg else v, abs_tol=1e-9)


@given(st.text(alphabet="abc $-.,", max_size=20))
def test_parse_money_total_no_crash(s):
    spec._parse_money(s)  # never raises


# --- curation functions ---------------------------------------------------

from doc_agent_spark.functions.redact import PII_PATTERNS
from doc_agent_spark.operators.sampling import hex_threshold


@given(st.floats(0, 1), st.floats(0, 1))
def test_hex_threshold_monotone(a, b):
    lo, hi = sorted((a, b))
    assert hex_threshold(lo) <= hex_threshold(hi)
    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(1.0) == "g"       # sorts above every hex prefix


@given(st.text(alphabet="ab0123456789@.-+() <>ESNLACPHOT", max_size=60))
def test_redact_chain_idempotent(s):
    """Applying the PII pattern chain twice == once: placeholders contain
    no digits or @, so no pattern can match its own replacement."""
    import re

    def apply(x):
        for pat, rep in PII_PATTERNS:
            x = re.sub(pat, rep, x)
        return x

    once = apply(s)
    assert apply(once) == once



# --- guarded regex evaluation (spec.py hot path) --------------------------
# Each guard in classify/extract_fields must be a NECESSARY condition of its
# pattern AS APPLIED: keyword guards are gated on str.isascii() (re.IGNORECASE
# folds \u0131/\u017f/\u212a onto i/s/k, which str.lower() containment cannot
# see), while the digit/whitespace-shape guards hold over all of Unicode
# (\s == str.isspace and \d subset of str.isdigit — verified exhaustively
# below). The adversarial alphabet mixes keyword fragments, unicode
# whitespace/digits, money tails, case flips, and the three fold traps.

_GUARD_ALPHABET = (
    "total subtax due account balance invoice x@ \t \u00a0\u3000"
    "0123456789\u0660\u06f1.,-$TSDAB\ninv"
    "\u0131\u017f\u212a"  # dotless-i, long-s, Kelvin K
)

# Keyword guards exactly as applied in spec.py: non-ASCII input bypasses them.
_GUARD_PAIRS = [
    (spec._RE_RESERVED,
     lambda s: not s.isascii() or s.lstrip()[:1].lower() in spec._RESERVED_FIRST),
    (spec._RE_DUE, lambda s: not s.isascii() or "due" in s.lower()),
    (spec._RE_TOTAL_LINE, lambda s: not s.isascii() or s.lstrip()[:1] in "tT"),
    (spec._RE_SUBTOTAL, lambda s: not s.isascii() or s.lstrip()[:1] in "sS"),
    (spec._RE_TAX, lambda s: not s.isascii() or s.lstrip()[:1] in "sStT"),
    (spec._RE_ACCOUNT, lambda s: not s.isascii() or "account" in s.lower()),
    (spec._RE_BALANCE, lambda s: not s.isascii() or "balance" in s.lower()),
    (spec._RE_INVOICE, lambda s: not s.isascii() or "invoice" in s.lower()),
    (spec._RE_ENDING_BAL, lambda s: not s.isascii() or "balance" in s.lower()),
    # Shape guards: safe unconditionally (see test_shape_guard_unicode_safety).
    (
        spec._RE_TXN,
        lambda s: s.lstrip()[:1].isdigit()
        and bool(s.rstrip())
        and s.rstrip()[-1].isdigit()
        and "." in s.rstrip(),
    ),
    (
        spec._RE_ITEM_QTY,
        lambda s: s.lstrip()[:1].isdigit()
        and bool(s.rstrip())
        and s.rstrip()[-1].isdigit()
        and "." in s.rstrip(),
    ),
    (
        spec._RE_ITEM_PLAIN,
        lambda s: bool(s.rstrip()) and s.rstrip()[-1].isdigit() and "." in s.rstrip(),
    ),
]


@given(st.text(alphabet=_GUARD_ALPHABET, max_size=40))
def test_regex_guards_are_necessary_conditions(s):
    """Guard False => regex no-match, for every guarded pattern in the
    extraction hot path (spec.py). The search/match distinction matches the
    call sites: line-anchored patterns use match, containment ones search."""
    for pat, guard in _GUARD_PAIRS:
        if guard(s):
            continue  # guard passed: the regex runs, nothing to prove
        anchored = pat.pattern.startswith("^")
        hit = pat.match(s) if anchored else pat.search(s)
        assert hit is None, (pat.pattern, s)


def test_shape_guard_unicode_safety():
    """The money-tail/digit-start guards lean on two set relations that must
    hold over ALL of Unicode (no ASCII gate protects them): every char
    matched by regex \\s is str.isspace (lstrip/rstrip strip at least what
    \\s* would skip), and every char matched by \\d is str.isdigit."""
    import re as _re

    rs, rd = _re.compile(r"\s"), _re.compile(r"\d")
    assert not any(
        rs.match(chr(c)) and not chr(c).isspace() for c in range(0x110000)
    )
    assert not any(
        rd.match(chr(c)) and not chr(c).isdigit() for c in range(0x110000)
    )


def test_classify_unicode_case_folding_not_defeated_by_guards():
    """Regression: re.IGNORECASE matches '\u0131nvoice'/'\u017fubtotal'
    (dotless-i, long-s) but str.lower() substring guards do not — classify
    must take the unguarded path for non-ASCII text and still see them."""
    assert spec.classify("\u0131nvoice No: A-17\nTotal  5.00") == "invoice"
    # long-s subtotal counts as the sub-or-tax signal for receipt shape
    assert spec.classify("Total  5.00\n\u017fubtotal  4.00") == "receipt"
    # non-matching non-ASCII text still classifies as other
    assert spec.classify("\u212aiosk snacks") == "other"


# --- gates of the extraction hot path (spec.extract_fields) ----------------
# Lines never hold "\n" (they come from str.split("\n")), so the line-level
# proofs strip it from the adversarial alphabet.

_LINE_ALPHABET = _GUARD_ALPHABET.replace("\n", "") + "/:#x@"
_LINE_PATTERNS = [
    spec._RE_RESERVED, spec._RE_DUE, spec._RE_TOTAL_LINE, spec._RE_SUBTOTAL,
    spec._RE_TAX, spec._RE_PAYMENT, spec._RE_ACCOUNT, spec._RE_ENDING_BAL,
    spec._RE_INVOICE, spec._RE_TXN, spec._RE_ITEM_QTY, spec._RE_ITEM_PLAIN,
    spec._RE_DATE_TOKEN, spec._RE_MONEY_TAIL, spec._RE_HAS_ALPHA,
]


@given(st.text(alphabet=" \t 　\x0b\x0c\r\x1c\x1f \x85", max_size=12))
def test_whitespace_line_matches_no_pattern(s):
    """A line with nothing but whitespace is skipped before any regex."""
    assert not s.strip()
    for pat in _LINE_PATTERNS:
        assert pat.search(s) is None, pat.pattern


@given(st.text(alphabet=_LINE_ALPHABET, max_size=40))
def test_txn_match_is_a_plain_match(s):
    """The txn pattern runs for bank statements only: elsewhere a txn match
    would only reject a vendor line, which its plain match already does."""
    if spec._RE_TXN.match(s):
        assert spec._RE_ITEM_PLAIN.match(s)


@given(st.text(alphabet=_LINE_ALPHABET + "ceno", max_size=30))
def test_total_line_is_neither_subtotal_nor_payment(s):
    """The receipt amount rule's "not subtotal, not payment" follows from
    a total-line match, so the receipt and other rules are one rule."""
    if spec._RE_TOTAL_LINE.match(s):
        assert not spec._RE_SUBTOTAL.match(s)
        assert not spec._RE_PAYMENT.match(s)


def _money_reference(s):
    m = spec._RE_MONEY_TAIL.search(s)
    if not m:
        return None
    v = float(m.group(2).replace(",", ""))
    return -v if m.group(1) == "-" and v > 0 else v


@given(st.from_regex(r"-?\$?[\d,]+\.\d{2}", fullmatch=True))
def test_parse_amount_of_item_group(g):
    """The money group of the item patterns reads like the tail search."""
    assert repr(spec._parse_amount(g)) == repr(spec._parse_money(g))


_DATE_ALPHABET = "0123456789٠/-., \n\taJFMASONDanuryebchpilgstvmo"
_DATE_TEXT = st.one_of(
    st.text(alphabet=_DATE_ALPHABET, max_size=60),
    st.lists(st.sampled_from([
        "01/02/24", "1/2/2024", "2024-01-05", "Jan 5, 2024", "January\n5, 2024",
        "May. 3 2024", "05.01.2024", "01/05", "1234-5678", "INV-12-34", "12/3/", "--- Page 2 ---",
        "Sept 4, 2024", "2024-1-05", "Dec", " ", "\n", "9", "-", "/",
        "1/2/2024-01-05", "11/22/2024-05-06 Jan 2, 2024",
    ]), max_size=8).map("".join),
)


def _key(m):
    return None if m is None else (m.span(), m.group())


@given(_DATE_TEXT)
def test_date_match_is_the_token_search(s):
    """_date_match searches the alternatives of _RE_DATE_TOKEN apart,
    each from its hint, and returns the union's leftmost match."""
    assert _key(spec._date_match(s)) == _key(spec._RE_DATE_TOKEN.search(s))


@given(_DATE_TEXT)
def test_date_hints_are_necessary(s):
    for m in spec._RE_DATE_ISO.finditer(s):
        assert spec._RE_ISO_HINT.match(s, m.start() + 4)
    for m in spec._RE_DATE_SLASH.finditer(s):
        assert (spec._RE_SLASH_HINT.match(s, m.start() + 1)
                or spec._RE_SLASH_HINT.match(s, m.start() + 2))


# Pages of lines: the guard alphabet, corpus-shaped lines, money edge cases
# (-0.00, a 400-digit tail that reads as inf) and Unicode fold traps.
_MONEY = st.sampled_from(["5.00", "-0.00", "1,234.50", "$12.99", "-$3.10", "0.00",
                          "9" * 400 + ".00", "٣.٤٥", "12", "1,2,3.45"])
_LINE = st.one_of(
    st.text(alphabet=_LINE_ALPHABET, max_size=30),
    st.builds(str.format, st.sampled_from([
        "Total    {}", "Subtotal  {}", "Tax  {}", "Amount Due:  {}", "Ending Balance  {}",
        "2x Latte    {}", "1x   {}", "1x    {}", "01/05 DEPOSIT  {}", "Consulting hours    {}", "Cash  {}",
        "tender  {}", "Balance due  {}", "ınvoice No: A-17  {}", "ſubtotal  {}",
        "ACME LLC", "Account No 12-34", "account # 5", "Invoice #INV-12", "Date: 01/02/24",
        "Jan 5, 2024", "2024-01-05", "05.01.2024", "Statement Jan", "5, 2024 {}",
        "Due Jan\n5, 2024  {}", "Account No\n12-34","Kiosk", "   ", "",
    ]), _MONEY),
)
_PAGE = st.one_of(st.none(), st.just(" \n\t "), st.lists(_LINE, max_size=8).map("\n".join))
_DOC = st.lists(st.tuples(_PAGE, st.sampled_from(["", None, "media://d/p1.png"]),
                          st.integers(0, 4)), max_size=6)


def _cols(doc):
    return [t for t, _r, _o in doc], [r for _t, r, _o in doc], [o for _t, _r, o in doc]


def _page_lines(texts, refs, offsets):
    """(media_ref, line) of every line of the kept pages, in page order."""
    order = sorted(range(len(texts)), key=offsets.__getitem__)
    kept = [((texts[i] or "").strip(), refs[i] or "") for i in order]
    return [(ref, ln) for t, ref in kept if t for ln in t.split("\n")]


@settings(max_examples=200)
@given(_DOC)
def test_document_gates_are_necessary(doc):
    """The document-level gates of extract_fields: classification over page
    lines equals classify() of the assembled text; in an ASCII document a
    keyword missing from the lower-cased text is missing from every line;
    no date token in the assembled text means none in any line, and else
    the first line holding one holds the leftmost token of the text unless
    that token spans a line break."""
    texts, refs, offs = _cols(doc)
    fields = spec.extract_fields(texts, refs, offs)
    raw, doc_type = fields[:2]
    with_refs = _page_lines(texts, refs, offs)
    lines = [ln for _ref, ln in with_refs]
    assert raw == spec.assemble_pages([texts[i] for i in sorted(range(len(texts)),
                                                                key=offs.__getitem__)])
    assert doc_type == (spec.classify(raw) if raw else "other")
    if raw.isascii():
        low = raw.lower()
        for word, pat in (("due", spec._RE_DUE), ("balance", spec._RE_ENDING_BAL),
                          ("account", spec._RE_ACCOUNT)):
            if word not in low:
                assert not any(pat.search(ln) for ln in lines)
    dm = spec._RE_DATE_TOKEN.search(raw)
    first = next((m for m in map(spec._RE_DATE_TOKEN.search, lines) if m), None)
    if dm is None:
        assert first is None
    elif "\n" not in dm.group():
        assert first is not None and first.group(1) == dm.group(1)
        holder = next(ln for ln in lines if dm.group() in ln)
        assert spec._RE_DATE_TOKEN.search(holder).group(1) == dm.group()
    # and the extracted date is the first line's token, with its ref
    scan = next(((m.group(1), ref) for ref, m in
                 ((ref, spec._RE_DATE_TOKEN.search(ln)) for ref, ln in with_refs) if m),
                (None, None))
    assert fields[4:6] == scan


def reference_fields(texts, refs, offsets):
    """spec.extract_fields with no gate: every rule's regex on every line
    (the per-line loop the gated one replaced), money read by the full
    tail search."""
    order = sorted(range(len(texts)), key=offsets.__getitem__)
    raw = spec.assemble_pages([texts[i] for i in order])
    doc_type = spec.classify(raw) if raw else "other"
    vendor = date = amount = account = None
    found = []
    for ref, s in _page_lines(texts, refs, offsets):
        st = s.strip()
        reserved, due = spec._RE_RESERVED.match(s), spec._RE_DUE.search(s)
        m_txn, m_qty = spec._RE_TXN.match(s), spec._RE_ITEM_QTY.match(s)
        m_plain = spec._RE_ITEM_PLAIN.match(s)
        if vendor is None and st and spec._RE_HAS_ALPHA.search(st) and not (
            reserved or due or spec._RE_INVOICE.match(st) or m_qty or m_txn or m_plain
            or spec._RE_DATE_TOKEN.fullmatch(st)
        ):
            vendor = (st, ref)
        m = spec._RE_DATE_TOKEN.search(s)
        if date is None and m:
            date = (m.group(1), ref)
        m = spec._RE_ACCOUNT.search(s)
        if account is None and doc_type == "bank_statement" and m:
            account = (m.group(1), ref)
        v = _money_reference(s)
        if v is not None and (
            (doc_type == "receipt" and spec._RE_TOTAL_LINE.match(s)
             and not spec._RE_SUBTOTAL.match(s) and not spec._RE_PAYMENT.match(s))
            or (doc_type == "other" and spec._RE_TOTAL_LINE.match(s))
            or (amount is None and doc_type == "invoice" and due)
            or (amount is None and doc_type == "bank_statement" and spec._RE_ENDING_BAL.search(s))
        ):
            amount = (v, ref)
        if reserved or due:
            continue
        if m_txn and doc_type == "bank_statement":
            found.append((m_txn.group(2).strip(), None, _money_reference(m_txn.group(3)), ref, None))
        elif m_qty:
            found.append((m_qty.group(2).strip(), float(m_qty.group(1)),
                          _money_reference(m_qty.group(3)), ref, None))
        elif m_plain and spec._RE_HAS_ALPHA.search(m_plain.group(1)):
            desc = m_plain.group(1).strip()
            found.append((desc, None, _money_reference(m_plain.group(2)), ref, desc))
    vtext = vendor and vendor[0]
    items = [it[:4] for it in found if it[4] is None or vtext is None or it[4] != vtext]
    return (raw, doc_type, *(vendor or (None, None)), *(date or (None, None)),
            *(amount or (None, None)), *(account or (None, None)), items)


def test_extract_fields_equals_ungated_reference_on_corpus():
    from doc_agent_spark import corpus

    for d in corpus.gen_docs(2400, seed=11):
        cols = ([s["text"] for s in d["spans"]], [s["media_ref"] for s in d["spans"]],
                [s["offset"] for s in d["spans"]])
        assert repr(spec.extract_fields(*cols)) == repr(reference_fields(*cols)), d["doc_id"]


@given(_DOC)
def test_extract_fields_equals_ungated_reference_on_adversarial_pages(doc):
    cols = _cols(doc)
    assert repr(spec.extract_fields(*cols)) == repr(reference_fields(*cols))


def zod_route(doc_id, fields):
    """The reference route of spec.finish_typed: the "model JSON" of the
    extracted fields through the Zod-exact normalizer (ollama.ts:232), then
    the golden span rendering, as one EXTRACTION_RESULT row."""
    (raw_text, doc_type, vendor, vref, date_raw, dref, amount, aref,
     account, acref, items) = fields
    model = {"type": doc_type}
    if vendor is not None:
        model["vendor"] = vendor
    if amount is not None:
        model["amount"] = amount
    if date_raw is not None:
        model["date"] = date_raw
    if items:
        model["items"] = [{"description": d, "quantity": q, "unit_price": None, "total": t}
                          for d, q, t, _ref in items]
    if raw_text:
        model["rawText"] = raw_text
    parse_failure = False
    try:
        norm = spec.normalize_docdata(model)
    except spec.ZodParseError:
        parse_failure = True
        norm = {"type": "other", "vendor": None, "amount": None, "date": None,
                "date_raw": None, "items": None, "raw_text": raw_text or None}
    if norm["type"] != "other" and norm["amount"] is None:
        parse_failure = True

    def num(v):
        return "" if v is None else js_num_to_str(v)

    spans = [("doc_type", norm["type"], "")]
    if norm["vendor"] is not None:
        spans.append(("vendor", norm["vendor"], vref))
    if norm["date"] is not None:
        spans.append(("date", norm["date"], dref))
    if norm["amount"] is not None:
        spans.append(("amount", js_num_to_str(norm["amount"]), aref))
    bank_account = account if account and norm["type"] == "bank_statement" else None
    if bank_account:
        spans.append(("account_number", account, acref))
    for it, (*_item, ref) in zip(norm["items"] or [], items):
        spans.append(("line_item", f"description={it['description']};quantity={num(it['quantity'])};"
                      f"unitPrice={num(it['unit_price'])};total={num(it['total'])}", ref))
    if raw_text:
        spans.append(("raw_text", raw_text, ""))
    return (
        spec.deterministic_id(doc_id), doc_id, norm["type"], norm["vendor"], norm["amount"],
        norm["date"], norm["date_raw"], bank_account,
        None if norm["items"] is None else [tuple(it.values()) for it in norm["items"]],
        raw_text or None, parse_failure, spans,
    )


def test_typed_finish_equals_zod_route_on_corpus():
    from doc_agent_spark import corpus

    for d in corpus.gen_docs(2400):
        sp = d["spans"]
        fields = spec.extract_fields([s["text"] for s in sp], [s["media_ref"] for s in sp],
                                     [s["offset"] for s in sp])
        # repr: -0.0 and 0.0 compare equal but are different results
        assert repr(spec.finish_typed(d["doc_id"], fields)) == repr(zod_route(d["doc_id"], fields))


@given(_DOC)
def test_typed_finish_equals_zod_route_on_adversarial_pages(doc):
    fields = spec.extract_fields(*_cols(doc))
    assert repr(spec.finish_typed("d", fields)) == repr(zod_route("d", fields))
