"""The deterministic extraction spec — single source of truth.

This module is the pure-Python statement of everything the reference computes
deterministically, plus the deterministic replacement of its one
non-deterministic stage (the vision-LLM call), per BASELINE.json north_star.

Where it runs:
  1. the Spark extraction stage (``operators/extractor.py``): the
     ``mapInArrow`` worker calls :func:`extract_rows` once per Arrow batch;
  2. the normalize stage (``operators/normalize.py``): the Zod emulation
     :func:`normalize_docdata` over model-JSON strings;
  3. the tests and the benchmark, as the oracle:
     :func:`extract_document_cols` gives the same extraction one document
     at a time, so any divergence between the distributed plan and the
     spec (ordering, grouping, null handling) fails the span-sequence
     equality gate ``(kind, text, media_ref, order)``.

The extraction is :func:`extract_fields` (the regex rules over the page
lines) then :func:`finish_typed` (normalize and render the spans straight
from the extracted types). ``normalize_docdata`` stays the reference of
that second step: tests/test_properties.py checks the two against each
other.

Reference citations (all /root/reference):
- page assembly       packages/extract/src/ocr.ts:46,57-61
- MIME dispatch       packages/extract/src/mime.ts:6-22
- JSON salvage parse  packages/extract/src/providers/ollama.ts:202-220
- fence strip         packages/extract/src/providers/gemini.ts:42
- Zod normalization   packages/extract/src/schemas.ts:8-98
- classification and amount rules (the LLM prompt's rule spec, which we
  implement as deterministic heuristics)  providers/ollama.ts:82-103
- filename projection ollama.ts:237 / path hash storage/src/index.ts:17-20
"""

from __future__ import annotations

import hashlib
import json
import math
import re

from .jsdate import ABSENT, js_num_to_str, js_number, normalize_date


class ZodParseError(ValueError):
    """Raised where the reference's ``DocumentDataSchema.parse`` throws.

    In the reference this triggers one retry then a failed extraction
    (ollama.ts:251-257); in our batch engine it becomes a parse-failure
    metric row, never an exception that kills a partition.
    """


# ---------------------------------------------------------------------------
# S2 — MIME dispatch (mime.ts:6-22)
# ---------------------------------------------------------------------------

MIME_TYPES = {
    ".pdf": "application/pdf",
    ".png": "image/png",
    ".jpg": "image/jpeg",
    ".jpeg": "image/jpeg",
    ".gif": "image/gif",
    ".webp": "image/webp",
}


def mime_type(path: str) -> str:
    """Extension → MIME, case-insensitive, unknown → application/pdf."""
    m = re.search(r"(\.[^./\\]+)$", path or "")
    ext = m.group(1).lower() if m else ""
    return MIME_TYPES.get(ext, "application/pdf")


def filename_of(path: str) -> str:
    """``path.split('/').pop() || 'unknown'`` (ollama.ts:237)."""
    parts = (path or "").split("/")
    return parts[-1] or "unknown"


def path_hash(abs_path: str) -> str:
    """sha256 hex of the (already canonical) path (storage/src/index.ts:17-20)."""
    return hashlib.sha256(abs_path.encode("utf-8")).hexdigest()


def deterministic_id(doc_id: str) -> str:
    """Content-derived surrogate for the reference's crypto.randomUUID()
    (ollama.ts:236) — required for reproducible fixtures (SURVEY §2.3 F13)."""
    return hashlib.sha256(f"{doc_id}:extraction".encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# S5/P1 — page-text assembly (ocr.ts:46,57-61)
# ---------------------------------------------------------------------------

def assemble_pages(pages: list[str | None]) -> str:
    """1-based page numbers assigned BEFORE filtering; whitespace-only pages
    dropped; '--- Page N ---\\n{trim(text)}'; joined by '\\n\\n'; [] → ''."""
    out = []
    for i, text in enumerate(pages):
        t = (text or "").strip()
        if t:
            out.append(f"--- Page {i + 1} ---\n{t}")
    return "\n\n".join(out)


# ---------------------------------------------------------------------------
# F10/F11 — JSON salvage parse (ollama.ts:202-220, gemini.ts:42)
# ---------------------------------------------------------------------------

_FENCE_RE = re.compile(r"```(json)?\n?")


def strip_fences(resp: str) -> str:
    return _FENCE_RE.sub("", resp)


def salvage_parse(resp: str) -> dict:
    """``JSON.parse(trim(resp))``; on failure slice indexOf('{')..lastIndexOf('}')
    and retry; else ZodParseError-equivalent failure."""
    try:
        parsed = json.loads(resp.strip())
    except (json.JSONDecodeError, ValueError):
        start, end = resp.find("{"), resp.rfind("}")
        if start != -1 and end != -1:
            try:
                parsed = json.loads(resp[start : end + 1])
            except (json.JSONDecodeError, ValueError):
                raise ZodParseError(f"Failed to parse JSON response: {resp[:80]}")
        else:
            raise ZodParseError(f"Failed to parse JSON response: {resp[:80]}")
    if not isinstance(parsed, dict):
        raise ZodParseError("top-level JSON is not an object")
    return parsed


# ---------------------------------------------------------------------------
# F1-F9 — Zod normalization (schemas.ts:8-98), exact JS semantics
# ---------------------------------------------------------------------------

_DOC_TYPES = ("invoice", "receipt", "bank_statement", "other")


def _get(d: dict, key: str):
    return d[key] if key in d else ABSENT


def _zod_string_nullish(v):
    if v is ABSENT or v is None:
        return v
    if isinstance(v, str):
        return v
    raise ZodParseError(f"expected string, got {type(v).__name__}")


def _zod_string_optional(v):
    if v is ABSENT:
        return v
    if isinstance(v, str):
        return v
    raise ZodParseError(f"expected string (optional), got {type(v).__name__}")


def _zod_coerce_number_nullish(v):
    if v is ABSENT or v is None:
        return v
    n = js_number(v)
    if math.isnan(n):
        raise ZodParseError(f"expected number, got NaN from {v!r}")
    return n


def _safe_number(v):
    """schemas.ts:8-11 ``safeNumber``: coerce-optional. Absent stays absent;
    anything else goes through JS Number() (null → 0!); NaN → ZodError
    (zod's coerce rejects NaN before the transform can drop it)."""
    if v is ABSENT:
        return ABSENT
    n = js_number(v)
    if math.isnan(n):
        raise ZodParseError(f"expected number, got NaN from {v!r}")
    return n


def _nullish(*vals):
    """JS ``a ?? b ?? ...`` over validated values (skips null/undefined only)."""
    for v in vals:
        if v is not ABSENT and v is not None:
            return v
    return ABSENT


_ITEM_FAST_KEYS = frozenset(("description", "quantity", "unit_price", "total"))


def normalize_line_item(item) -> dict:
    """LineItemSchema (schemas.ts:13-34). Returns normalized dict with None
    for absent optionals. F2 description uses FALSY-skip ('' skipped);
    F3-F5 use nullish coalescing (0 survives)."""
    if not isinstance(item, dict):
        raise ZodParseError("line item is not an object")
    # Fast path for the extractor's own canonical shape (exact-guarded so the
    # general Zod semantics below stay authoritative for arbitrary JSON):
    # with ONLY these keys present, the alias chains collapse and JS
    # Number(null) === 0 applies to each null numeric (zod coerce).
    if item.keys() == _ITEM_FAST_KEYS:
        d, q, u, t = item["description"], item["quantity"], item["unit_price"], item["total"]
        if isinstance(d, str) and all(
            v is None or (type(v) is float and v == v) for v in (q, u, t)  # v==v: no NaN
        ):
            return {
                "description": d or "Unknown item",
                "quantity": 0.0 if q is None else q,
                "unit_price": 0.0 if u is None else u,
                "total": 0.0 if t is None else t,
            }
    desc = _zod_string_optional(_get(item, "description"))
    name = _zod_string_optional(_get(item, "name"))
    item_f = _zod_string_optional(_get(item, "item"))
    quantity = _safe_number(_get(item, "quantity"))
    qty = _safe_number(_get(item, "qty"))
    unit_price = _safe_number(_get(item, "unitPrice"))
    unit_price2 = _safe_number(_get(item, "unit_price"))
    price = _safe_number(_get(item, "price"))
    total = _safe_number(_get(item, "total"))
    amount = _safe_number(_get(item, "amount"))

    def falsy_skip(*vals):
        for v in vals:
            if v is not ABSENT and v:  # JS || : '' and undefined both skipped
                return v
        return None

    def opt(v):
        return None if v is ABSENT else v

    return {
        "description": falsy_skip(desc, name, item_f) or "Unknown item",
        "quantity": opt(_nullish(quantity, qty)) if _nullish(quantity, qty) is not ABSENT else None,
        "unit_price": opt(_nullish(unit_price, unit_price2)) if _nullish(unit_price, unit_price2) is not ABSENT else None,
        "total": opt(_nullish(total, price, amount)) if _nullish(total, price, amount) is not ABSENT else None,
    }


def normalize_docdata(doc: dict) -> dict:
    """DocumentDataSchema (schemas.ts:68-98), exact Zod semantics.

    Validation of EVERY field precedes the transform (so a bad ``merchant``
    fails even when ``vendor`` is present, exactly like Zod). Output dict
    uses None where the reference yields undefined.
    """
    if not isinstance(doc, dict):
        raise ZodParseError("document is not an object")
    t = _get(doc, "type")
    doc_type = t if t in _DOC_TYPES else "other"  # default('other').catch('other')

    vendor = _zod_string_nullish(_get(doc, "vendor"))
    store_name = _zod_string_nullish(_get(doc, "store_name"))
    merchant = _zod_string_nullish(_get(doc, "merchant"))
    business_name = _zod_string_nullish(_get(doc, "business_name"))

    amount = _zod_coerce_number_nullish(_get(doc, "amount"))
    total = _zod_coerce_number_nullish(_get(doc, "total"))
    total_amount = _zod_coerce_number_nullish(_get(doc, "total_amount"))

    date = _zod_string_nullish(_get(doc, "date"))
    raw_text = _zod_string_nullish(_get(doc, "rawText"))

    items_v = _get(doc, "items")
    if items_v is ABSENT or items_v is None:
        items = None
    elif isinstance(items_v, list):
        items = [normalize_line_item(it) for it in items_v]
    else:
        raise ZodParseError("items is not an array")

    raw_date = date if date not in (ABSENT, None) else None

    def undef(v):
        return None if v is ABSENT or v is None else v

    return {
        "type": doc_type,
        "vendor": undef(_nullish(vendor, store_name, merchant, business_name)),
        "amount": undef(_nullish(amount, total, total_amount)),
        "date": normalize_date(raw_date),
        "date_raw": raw_date,
        "items": items,
        "raw_text": undef(raw_text),
    }


# ---------------------------------------------------------------------------
# The deterministic extractor — replaces the vision-LLM call.
#
# Classification + amount rules are the prompt's rule spec (ollama.ts:85-103)
# realized as deterministic regex heuristics over the assembled page text.
# ---------------------------------------------------------------------------

_RE_ACCOUNT = re.compile(r"account\s*(?:no\.?|number|#)\s*[:#]?\s*([0-9][0-9-]*)", re.I)
_RE_BALANCE = re.compile(r"(?:ending|beginning|closing|opening)\s+balance", re.I)
_RE_INVOICE = re.compile(r"invoice\s*(?:#|no\.?|number)?\s*[:#]?\s*[A-Z0-9-]", re.I)
_RE_DUE = re.compile(r"(?:amount|total|balance)\s+due", re.I)
_RE_SUBTOTAL = re.compile(r"^\s*sub\s?total\b", re.I)
_RE_TOTAL_LINE = re.compile(r"^\s*total\b", re.I)
_RE_TAX = re.compile(r"^\s*(?:sales\s+)?tax\b", re.I)
_RE_PAYMENT = re.compile(r"^\s*(?:credit|cash|card|visa|mastercard|amex|debit|change|payment|tender)\b", re.I)
_RE_MONEY_TAIL = re.compile(r"(-?)\$?\s*(-?\d{1,3}(?:,\d{3})*(?:\.\d{1,4})?|-?\d+(?:\.\d{1,4})?)\s*$")
_DATE_ISO = r"\d{4}-\d{2}-\d{2}"
_DATE_SLASH = r"\d{1,2}/\d{1,2}/\d{2,4}"
_DATE_NAMED = (
    r"(?:January|February|March|April|May|June|July|August|September|October|November|December"
    r"|Jan|Feb|Mar|Apr|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\.?\s+\d{1,2},?\s+\d{4}"
)
_RE_DATE_TOKEN = re.compile(f"({_DATE_ISO}|{_DATE_SLASH}|{_DATE_NAMED})")
# its alternatives, searched apart by _date_match, and their hints
_RE_DATE_ISO = re.compile(_DATE_ISO)
_RE_DATE_SLASH = re.compile(_DATE_SLASH)
_RE_DATE_NAMED = re.compile(_DATE_NAMED)
_RE_ISO_HINT = re.compile(r"-\d{2}-")
_RE_SLASH_HINT = re.compile(r"/\d{1,2}/")
_RE_ITEM_QTY = re.compile(r"^\s*(\d+)\s*[xX]\s+(.+?)(?:\s\s+|\s+@[^@]*?\s+)(-?\$?[\d,]+\.\d{2})\s*$")
_RE_ITEM_PLAIN = re.compile(r"^\s*(.+?)\s{2,}(-?\$?[\d,]+\.\d{2})\s*$")
_RE_TXN = re.compile(r"^\s*(\d{1,2}/\d{1,2}(?:/\d{2,4})?)\s+(.+?)\s{2,}(-?\$?[\d,]+\.\d{2})\s*$")
_RE_RESERVED = re.compile(
    r"^\s*(?:sub\s?total|total|tax|sales\s+tax|credit|cash|card|visa|mastercard|amex|debit|change"
    r"|payment|tender|amount\s+due|total\s+due|balance\s+due|ending\s+balance|beginning\s+balance"
    r"|closing\s+balance|opening\s+balance|account\b)", re.I)
# initials of every _RE_RESERVED alternative — the cheap first-char gate
_RESERVED_FIRST = frozenset("stcvmadpbeo")


def _parse_money(s: str) -> float | None:
    m = _RE_MONEY_TAIL.search(s)
    if not m:
        return None
    neg = m.group(1) == "-"
    num = m.group(2).replace(",", "")
    try:
        v = float(num)
    except ValueError:
        return None
    return -v if neg and v > 0 else v


def _parse_amount(g: str) -> float | None:
    """:func:`_parse_money` of a money group of the item patterns
    (``-?\\$?[\\d,]+\\.\\d{2}``). Without a comma the tail pattern matches
    the whole group, so the value is its digits read by ``float()``."""
    if "," in g:
        return _parse_money(g)
    try:
        v = float(g.lstrip("-$"))
    except ValueError:
        return None
    return -v if g[0] == "-" and v > 0 else v


def _date_match(raw_text: str):
    """``_RE_DATE_TOKEN.search(raw_text)``, one alternative at a time. No
    two alternatives match at the same start (a month name starts with a
    letter; an ISO date has a digit where a slash date has its slash), so
    the leftmost of their leftmost matches is the union's.

    Each search starts from a literal the regex engine can skip to: the
    month names' initials, and for the digit forms their first hint (an
    ISO date starts 4 characters before a ``-dd-``, a slash date 1 or 2
    before a ``/d/`` or ``/dd/``); the union's digit branches make the
    engine try every position."""
    found = [_RE_DATE_NAMED.search(raw_text)]
    for pat, hint, lead in ((_RE_DATE_ISO, _RE_ISO_HINT, 4),
                            (_RE_DATE_SLASH, _RE_SLASH_HINT, 2)):
        h = hint.search(raw_text)
        if h:
            found.append(pat.search(raw_text, max(0, h.start() - lead)))
    return min(filter(None, found), key=re.Match.start, default=None)


def classify(text: str) -> str:
    """Prompt classification rules (ollama.ts:90-93), priority:
    bank_statement > invoice > receipt > other.

    Guarded evaluation: each regex requires a literal keyword, so a single
    lowercase pass + substring containment gates it — but ONLY for pure-ASCII
    text. re.IGNORECASE folds Unicode equivalents that str.lower() misses
    (U+0131 'ı' matches 'i', U+017F 'ſ' matches 's', U+212A 'K' matches 'k'),
    so on non-ASCII input the guards are NOT necessary conditions and every
    regex runs unguarded. Within ASCII the equivalence is exact: ASCII
    pattern literals under re.I fold only with their ASCII counterparts."""
    asc = text.isascii()
    return _classify(text, asc, text.lower() if asc else "", (text.split("\n"),))


def _classify(text: str, asc: bool, low: str, pages) -> str:
    """:func:`classify` over the document's ASCII flag, its lower-cased text
    (``""`` unless ``asc``) and its lines grouped in lists. The line rules
    only look at lines that can start with total/subtotal/tax, so the page
    lines of :func:`extract_fields` give the same answer as the split of
    the assembled text: the page headers and blank separators it adds
    match none of them."""
    if ((not asc or "account" in low) and _RE_ACCOUNT.search(text)) or (
        (not asc or "balance" in low) and _RE_BALANCE.search(text)
    ):
        return "bank_statement"
    if ((not asc or "invoice" in low) and _RE_INVOICE.search(text)) or (
        (not asc or "due" in low) and _RE_DUE.search(text)
    ):
        return "invoice"
    has_total = any(
        _RE_TOTAL_LINE.match(ln)
        for lns in pages for ln in lns
        if not asc or ln.lstrip()[:1] in "tT"
    )
    has_sub_or_tax = has_total and any(
        ((not asc or ln.lstrip()[:1] in "sS") and _RE_SUBTOTAL.match(ln))
        or ((not asc or ln.lstrip()[:1] in "sStT") and _RE_TAX.match(ln))
        for lns in pages for ln in lns
    )
    if has_total and has_sub_or_tax:
        return "receipt"
    return "other"


_RE_ENDING_BAL = re.compile(r"(?:ending|closing)\s+balance", re.I)
_RE_HAS_ALPHA = re.compile(r"[A-Za-z]")


def extract_fields(texts: list[str | None], media_refs: list[str | None],
                   offsets: list[int]) -> tuple:
    """Deterministic field extraction for one document, per the prompt's
    amount rules (ollama.ts:94-103), from its spans as parallel lists in
    any order (sorted here by offset; order never comes from partition
    iteration, SURVEY §7.3).

    Returns ``(raw_text, doc_type, vendor, vendor_ref, date_raw, date_ref,
    amount, amount_ref, account, account_ref, items)``: each field is None
    when not extracted and carries the media_ref of the line it came from;
    ``items`` is a list of ``(description, quantity, total, media_ref)``.
    Field semantics: vendor/date/account/invoice-amount/bank-amount = FIRST
    match; receipt/other amount = LAST matching total line; items = every
    matching line in order, minus plain items whose description equals
    the FINAL vendor (a plain item line can precede the vendor line).

    Each regex runs only where its result can matter, and only when a
    cheap necessary condition holds (each is proven in
    tests/test_properties.py):
      - keyword guards (a first character, or a substring of the lower-cased
        line or document) apply to pure-ASCII documents only: re.IGNORECASE
        folds ı/ſ/K onto i/s/k, which str.lower() cannot see;
      - txn/qty need a digit start and plain a 2-decimal money tail, safe
        over all of Unicode (\\s ⊆ str.isspace, \\d ⊆ str.isdigit);
      - a whitespace-only line matches no pattern;
      - txn runs for bank statements only: elsewhere it is read only to
        reject a vendor line, and every txn match is also a plain match;
      - a total line matches neither the subtotal nor the payment pattern;
      - the date pattern has no anchor, so no match in the assembled text
        means none in any line, and a leftmost match that does not cross
        a line break is exactly the first line's match: its line is the
        first one that contains the token.
    """
    order = sorted(range(len(texts)), key=offsets.__getitem__)
    parts, refs, pages = [], [], []
    for num, i in enumerate(order, 1):
        t = texts[i]
        if t and (t := t.strip()):  # whitespace-only pages dropped (ocr.ts:59)
            parts.append(f"--- Page {num} ---\n{t}")
            refs.append(media_refs[i] or "")
            pages.append(t.split("\n"))
    raw_text = "\n\n".join(parts)  # == assemble_pages of the sorted texts
    if not raw_text:
        return ("", "other", None, None, None, None, None, None, None, None, [])

    asc = raw_text.isascii()
    low = raw_text.lower() if asc else ""
    doc_type = _classify(raw_text, asc, low, pages)
    is_bank = doc_type == "bank_statement"
    is_invoice = doc_type == "invoice"
    has_due = not asc or "due" in low
    has_bal = is_bank and (not asc or "balance" in low)
    want_account = is_bank and (not asc or "account" in low)
    dm = _date_match(raw_text)
    has_date = dm is not None
    date_tok = dm.group() if has_date and "\n" not in dm.group() else None

    vendor = vref = date_raw = dref = amount = aref = account = acref = None
    raw_items = []  # (description, quantity, total, ref, plain_desc)
    for ref, lines in zip(refs, pages):
        for s in lines:
            st = s.strip()
            if not st:
                continue
            first = st[0]
            if date_raw is None and has_date:
                if date_tok is None:
                    m = _RE_DATE_TOKEN.search(s)
                    if m:
                        date_raw, dref = m.group(1), ref
                elif date_tok in s:
                    date_raw, dref = date_tok, ref
            if want_account and account is None:
                m = _RE_ACCOUNT.search(s)
                if m:
                    account, acref = m.group(1), ref
            due = (_RE_DUE.search(s)
                   if has_due and (not asc or "due" in s.lower()) else None)

            # amount by type (ollama.ts:94-103)
            if is_invoice:
                if amount is None and due:
                    v = _parse_money(s)
                    if v is not None:
                        amount, aref = v, ref
            elif is_bank:
                if (
                    amount is None
                    and has_bal
                    and (not asc or "balance" in s.lower())
                    and _RE_ENDING_BAL.search(s)
                ):
                    v = _parse_money(s)
                    if v is not None:
                        amount, aref = v, ref
            elif (not asc or first in "tT") and _RE_TOTAL_LINE.match(s):
                # receipt/other: the main total amount shown, last line wins
                v = _parse_money(s)
                if v is not None:
                    amount, aref = v, ref

            # vendor and line items (products / services / transactions,
            # ollama.ts:99): neither is read from a reserved or due line
            money_tail = st[-1].isdigit() and "." in st
            if not money_tail and vendor is not None:
                continue
            if due or (
                (not asc or first.lower() in _RESERVED_FIRST) and _RE_RESERVED.match(s)
            ):
                continue
            m_txn = m_qty = m_plain = None
            if money_tail:
                if first.isdigit():
                    if is_bank:
                        m_txn = _RE_TXN.match(s)
                    if not m_txn:
                        m_qty = _RE_ITEM_QTY.match(s)
                if not m_txn and not m_qty:
                    m_plain = _RE_ITEM_PLAIN.match(s)
            if (
                vendor is None
                and not (m_txn or m_qty or m_plain)
                and _RE_HAS_ALPHA.search(st)
                and not _RE_INVOICE.match(st)
                and not (has_date and _RE_DATE_TOKEN.fullmatch(st))
            ):
                vendor, vref = st, ref
            if m_txn:
                raw_items.append((m_txn.group(2).strip(), None,
                                  _parse_amount(m_txn.group(3)), ref, None))
            elif m_qty:
                raw_items.append((m_qty.group(2).strip(), float(m_qty.group(1)),
                                  _parse_amount(m_qty.group(3)), ref, None))
            elif m_plain and _RE_HAS_ALPHA.search(m_plain.group(1)):
                desc = m_plain.group(1).strip()
                raw_items.append((desc, None, _parse_amount(m_plain.group(2)), ref, desc))

    items = [
        (desc, qty, total, ref) for desc, qty, total, ref, plain in raw_items
        if plain is None or vendor is None or plain != vendor
    ]
    return (raw_text, doc_type, vendor, vref, date_raw, dref, amount, aref,
            account, acref, items)


def finish_typed(doc_id: str, fields: tuple) -> tuple:
    """Normalize the fields of :func:`extract_fields` and render the
    golden span sequence, straight from their types.

    Returns one row in EXTRACTION_RESULT field order: ``(id, doc_id, type,
    vendor, amount, date, date_raw, account_number, items, raw_text,
    parse_failure, out_spans)``, with ``items`` None or a list of
    ``(description, quantity, unit_price, total)`` and ``out_spans`` a list
    of ``(kind, text, media_ref)`` in order.

    This is what the reference's validate step (ollama.ts:232,
    :func:`normalize_docdata`) yields for the "model JSON" these fields
    make, where it can never raise: the type is one of the four, vendor
    and date are non-empty strings, amounts come from ``float()`` of digit
    strings (never NaN), and every item has exactly the keys of
    normalize_line_item's fast path, so a null number becomes 0 (JS
    ``Number(null)``) and an empty description "Unknown item".
    tests/test_properties.py checks it against that route over the corpus
    and adversarial pages.

    Output span sequence spec (FIXTURES.md §1 golden_spans):
      0: doc_type | then vendor? date? amount? account_number? (each only
      when extracted, in that fixed kind order) | line_item* (line order) |
      last: raw_text (assembled page text). media_ref = provenance span's
      ref, '' for whole-document spans.
    """
    (raw_text, doc_type, vendor, vref, date_raw, dref, amount, aref,
     account, acref, found) = fields
    spans = [("doc_type", doc_type, "")]
    if vendor is not None:
        spans.append(("vendor", vendor, vref))
    date = None
    if date_raw is not None:
        date = normalize_date(date_raw)
        if date is not None:
            spans.append(("date", date, dref))
    if amount is not None:
        spans.append(("amount", js_num_to_str(amount), aref))
    if account is not None:  # extracted for bank statements only
        spans.append(("account_number", account, acref))
    items = None
    if found:
        items = []
        for desc, qty, total, ref in found:
            desc = desc or "Unknown item"
            qty = 0.0 if qty is None else qty
            total = 0.0 if total is None else total
            items.append((desc, qty, 0.0, total))  # no unit price is extracted
            spans.append(("line_item", f"description={desc};quantity={js_num_to_str(qty)};"
                          f"unitPrice=0;total={js_num_to_str(total)}", ref))
    if raw_text:
        spans.append(("raw_text", raw_text, ""))
    return (
        deterministic_id(doc_id), doc_id, doc_type, vendor, amount, date, date_raw,
        account, items, raw_text or None,
        # a typed document with no extractable amount is a parse failure for
        # metrics purposes (north_star: parse failures recorded, not raised)
        doc_type != "other" and amount is None,
        spans,
    )


def extract_document_cols(
    doc_id: str,
    texts: list[str | None],
    media_refs: list[str | None],
    offsets: list[int],
) -> dict:
    """End-to-end deterministic extraction for one document, from its span
    fields as parallel lists in any order (the span ``kind`` is not an
    input: extraction never reads it).

    Returns {doc_id, id, type, vendor, amount, date, date_raw,
    account_number, items, raw_text, parse_failure, out_spans}, where items
    is None or a list of {description, quantity, unit_price, total} and
    out_spans the golden-comparable ordered list of {order, kind, text,
    media_ref}. The Arrow worker calls :func:`extract_rows` instead, which
    builds the same values with no dict per document or span.
    """
    (id_, doc_id, doc_type, vendor, amount, date, date_raw, account, items,
     raw_text, parse_failure, spans) = finish_typed(
        doc_id, extract_fields(texts, media_refs, offsets))
    return {
        "doc_id": doc_id,
        "id": id_,
        "type": doc_type,
        "vendor": vendor,
        "amount": amount,
        "date": date,
        "date_raw": date_raw,
        "account_number": account,
        "items": None if items is None else [
            {"description": d, "quantity": q, "unit_price": u, "total": t}
            for d, q, u, t in items],
        "raw_text": raw_text,
        "parse_failure": parse_failure,
        "out_spans": [{"order": i, "kind": k, "text": t, "media_ref": r}
                      for i, (k, t, r) in enumerate(spans)],
    }


def extract_rows(
    doc_ids: list,
    texts: list[str | None],
    media_refs: list[str | None],
    offsets: list[int],
    lens: list[int],
) -> list[tuple]:
    """Batch entry of the Arrow worker: the spans of consecutive documents
    as flat parallel lists, ``lens[k]`` spans for ``doc_ids[k]``. Returns
    one :func:`finish_typed` row per document."""
    rows = []
    start = 0
    for did, n in zip(doc_ids, lens):
        end = start + n
        rows.append(finish_typed(str(did), extract_fields(
            texts[start:end], media_refs[start:end], offsets[start:end])))
        start = end
    return rows
