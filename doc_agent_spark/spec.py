"""The deterministic extraction spec — single source of truth.

This module is the pure-Python statement of everything the reference computes
deterministically, plus the deterministic replacement of its one
non-deterministic stage (the vision-LLM call), per BASELINE.json north_star.

It is used in TWO places:
  1. inside the Spark pipeline's Arrow-batched Python stage (``mapInArrow``
     by default, ``operators/extractor.py``) — the distributed execution;
  2. as the test oracle (``tests/``) — golden span sequences are produced by
     these same functions on collected rows, so any divergence between the
     distributed plan and the spec (ordering, grouping, null handling) fails
     the span-sequence equality gate ``(kind, text, media_ref, order)``.

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
from dataclasses import dataclass

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
_RE_DATE_TOKEN = re.compile(
    r"(\d{4}-\d{2}-\d{2}"
    r"|\d{1,2}/\d{1,2}/\d{2,4}"
    r"|(?:January|February|March|April|May|June|July|August|September|October|November|December"
    r"|Jan|Feb|Mar|Apr|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\.?\s+\d{1,2},?\s+\d{4})"
)
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
    low = text.lower() if asc else ""
    if ((not asc or "account" in low) and _RE_ACCOUNT.search(text)) or (
        (not asc or "balance" in low) and _RE_BALANCE.search(text)
    ):
        return "bank_statement"
    if ((not asc or "invoice" in low) and _RE_INVOICE.search(text)) or (
        (not asc or "due" in low) and _RE_DUE.search(text)
    ):
        return "invoice"
    lns = text.split("\n")
    has_total = any(
        _RE_TOTAL_LINE.match(ln)
        for ln in lns
        if not asc or ln.lstrip()[:1] in "tT"
    )
    has_sub_or_tax = has_total and any(
        ((not asc or ln.lstrip()[:1] in "sS") and _RE_SUBTOTAL.match(ln))
        or ((not asc or ln.lstrip()[:1] in "sStT") and _RE_TAX.match(ln))
        for ln in lns
    )
    if has_total and has_sub_or_tax:
        return "receipt"
    return "other"


@dataclass
class PageLine:
    """A text line with provenance: which span (page) it came from."""
    offset: int       # source span offset
    media_ref: str    # source span media_ref ('' for text spans)
    page_num: int     # 1-based pre-filter page number
    line: str


def _doc_lines(spans: list[dict]) -> list[PageLine]:
    """Flatten kept (non-whitespace) pages into provenance-tracked lines.

    Spans MUST be pre-sorted by offset — the pipeline and oracle both sort
    explicitly; order never comes from partition iteration (SURVEY §7.3).
    """
    out = []
    for i, sp in enumerate(spans):
        t = (sp.get("text") or "").strip()
        if not t:
            continue
        for ln in t.split("\n"):
            out.append(PageLine(sp.get("offset", i), sp.get("media_ref") or "", i + 1, ln))
    return out


_RE_ENDING_BAL = re.compile(r"(?:ending|closing)\s+balance", re.I)
_RE_HAS_ALPHA = re.compile(r"[A-Za-z]")


def extract_fields(lines: list[PageLine], doc_type: str) -> dict:
    """Deterministic field extraction per the prompt's amount rules
    (ollama.ts:94-103). Every extracted field carries the provenance
    media_ref of the line it came from.

    Single pass over lines with each regex evaluated at most once per line
    (the line-anchored patterns all tolerate surrounding whitespace, so raw
    vs stripped evaluation is boolean-identical). Field semantics: vendor/
    date/account/invoice-amount/bank-amount = FIRST match; receipt/other
    amount = LAST matching total line; items = every matching line in order.
    The plain-item-equals-vendor skip compares against the FINAL vendor, so
    it is applied as a post-filter (a plain item line can precede the vendor
    line only when the vendor is not yet known mid-pass)."""
    vendor = None  # (text, ref)
    date_raw = None
    amount = None
    account = None
    raw_items: list[tuple[dict, str, str | None]] = []  # (item, ref, plain_desc)

    for pl in lines:
        s = pl.line
        # Guarded regex evaluation (the per-line regex battery was ~40% of
        # end-to-end extraction CPU): for pure-ASCII lines each guard is a
        # NECESSARY condition of its pattern, so guard-failure ⇒ no match —
        # boolean-identical. Non-ASCII lines skip the guards entirely:
        # re.IGNORECASE folds ı/ſ/K onto i/s/k, which the str.lower()
        # first-char / substring gates cannot see (and \d/\s stay safe in
        # both directions — checked exhaustively over Unicode in
        # tests/test_properties.py).
        #   reserved: ^\s*<keyword> ⇒ first non-ws char ∈ keyword initials
        #   due:      needs literal case-insensitive "due"
        #   txn/qty:  ^\s*\d ... \.\d{2}\s*$ ⇒ digit start AND 2-dec money tail
        #   plain:    ... \.\d{2}\s*$ ⇒ money tail
        asc = s.isascii()
        first = s.lstrip()[:1]
        rst = s.rstrip()
        money_tail = bool(rst) and rst[-1].isdigit() and "." in rst
        reserved = (
            _RE_RESERVED.match(s)
            if not asc or first.lower() in _RESERVED_FIRST
            else None
        )
        due = _RE_DUE.search(s) if not asc or "due" in s.lower() else None
        digit_start = first.isdigit()
        m_txn = _RE_TXN.match(s) if money_tail and digit_start else None
        m_qty = _RE_ITEM_QTY.match(s) if money_tail and digit_start else None
        m_plain = _RE_ITEM_PLAIN.match(s) if money_tail else None

        if vendor is None:
            st = s.strip()
            if (
                st
                and _RE_HAS_ALPHA.search(st)
                and not reserved
                and not due
                and not _RE_INVOICE.match(st)
                and not m_qty
                and not m_txn
                and not m_plain
                and not _RE_DATE_TOKEN.fullmatch(st)
            ):
                vendor = (st, pl.media_ref)
        if date_raw is None:
            m = _RE_DATE_TOKEN.search(s)
            if m:
                date_raw = (m.group(1), pl.media_ref)
        # account is only ever consumed for bank statements (output span is
        # gated on type == bank_statement in extract_document), so the scan
        # is skipped for the other ~2/3 of documents
        if account is None and doc_type == "bank_statement":
            m = _RE_ACCOUNT.search(s)
            if m:
                account = (m.group(1), pl.media_ref)

        # amount by type (ollama.ts:94-103); ^\s*total ⇒ first char t
        if doc_type == "receipt":
            if (
                (not asc or first in "tT")
                and _RE_TOTAL_LINE.match(s)
                and not _RE_SUBTOTAL.match(s)
                and not _RE_PAYMENT.match(s)
            ):
                v = _parse_money(s)
                if v is not None:
                    amount = (v, pl.media_ref)  # last total line wins
        elif doc_type == "invoice":
            if amount is None and due:
                v = _parse_money(s)
                if v is not None:
                    amount = (v, pl.media_ref)
        elif doc_type == "bank_statement":
            if (
                amount is None
                and (not asc or "balance" in s.lower())
                and _RE_ENDING_BAL.search(s)
            ):
                v = _parse_money(s)
                if v is not None:
                    amount = (v, pl.media_ref)
        else:  # other: the main total amount shown (last)
            if (not asc or first in "tT") and _RE_TOTAL_LINE.match(s):
                v = _parse_money(s)
                if v is not None:
                    amount = (v, pl.media_ref)

        # line items (products / services / transactions, ollama.ts:99)
        if reserved or due:
            continue
        if m_txn and doc_type == "bank_statement":
            raw_items.append((
                {"description": m_txn.group(2).strip(), "quantity": None,
                 "unit_price": None, "total": _parse_money(m_txn.group(3))},
                pl.media_ref, None,
            ))
            continue
        if m_qty:
            raw_items.append((
                {"description": m_qty.group(2).strip(), "quantity": float(m_qty.group(1)),
                 "unit_price": None, "total": _parse_money(m_qty.group(3))},
                pl.media_ref, None,
            ))
            continue
        if m_plain and _RE_HAS_ALPHA.search(m_plain.group(1)):
            raw_items.append((
                {"description": m_plain.group(1).strip(), "quantity": None,
                 "unit_price": None, "total": _parse_money(m_plain.group(2))},
                pl.media_ref, m_plain.group(1).strip(),
            ))

    vtext = vendor[0] if vendor else None
    items = [
        (it, ref) for it, ref, plain_desc in raw_items
        if plain_desc is None or vtext is None or plain_desc != vtext
    ]

    return {
        "vendor": vendor,
        "date_raw": date_raw,
        "amount": amount,
        "account": account,
        "items": items,
    }


def _fmt_item(it: dict) -> str:
    """Canonical line_item span text (deterministic, order-stable)."""
    def f(v):
        return "" if v is None else js_num_to_str(v)
    return (
        f"description={it['description']};quantity={f(it['quantity'])};"
        f"unitPrice={f(it['unit_price'])};total={f(it['total'])}"
    )


def extract_document(doc_id: str, spans: list[dict]) -> dict:
    """End-to-end deterministic extraction for one document.

    Input spans: [{kind,text,media_ref,offset}] in ANY order (sorted here).
    Returns {doc_id, doc_type, vendor, amount, date, date_raw, account,
             items, raw_text, parse_failure, out_spans} where out_spans is the
    golden-comparable ordered list of {order, kind, text, media_ref}.

    Output span sequence spec (FIXTURES.md §1 golden_spans):
      0: doc_type | then vendor? date? amount? account_number? (each only when
      extracted, in that fixed kind order) | line_item* (line order) |
      last: raw_text (assembled page text). media_ref = provenance span's ref,
      '' for whole-document spans.
    """
    spans = sorted(spans, key=lambda s: s["offset"])
    pages = [s.get("text") for s in spans]
    raw_text = assemble_pages(pages)
    doc_type = classify(raw_text) if raw_text else "other"
    lines = _doc_lines(spans)
    return _finish_document(doc_id, raw_text, doc_type, lines)


def extract_document_cols(
    doc_id: str,
    texts: list[str | None],
    media_refs: list[str | None],
    offsets: list[int],
) -> dict:
    """Columnar twin of :func:`extract_document` — same extraction, but the
    span fields arrive as parallel lists instead of per-span dicts, so the
    Arrow worker can decode the struct fields straight to primitive lists
    (``flatten().field(..).to_pylist()``) and never build a Python dict per
    span. The span ``kind`` field is not an input because extraction never
    reads it (media spans carry empty text and are dropped by the
    whitespace filter). Bit-exact equality with the dict path is pinned by
    tests/test_extractor.py::test_cols_path_bit_exact.
    """
    order = sorted(range(len(texts)), key=offsets.__getitem__)
    raw_text = assemble_pages([texts[i] for i in order])
    doc_type = classify(raw_text) if raw_text else "other"
    lines = []
    for page_num, i in enumerate(order, 1):
        t = (texts[i] or "").strip()
        if not t:
            continue
        ref = media_refs[i] or ""
        off = offsets[i]
        for ln in t.split("\n"):
            lines.append(PageLine(off, ref, page_num, ln))
    return _finish_document(doc_id, raw_text, doc_type, lines)


def _finish_document(doc_id: str, raw_text: str, doc_type: str, lines: list[PageLine]) -> dict:
    return finish_fields(doc_id, raw_text, doc_type, extract_fields(lines, doc_type))


def finish_fields(doc_id: str, raw_text: str, doc_type: str, fields: dict) -> dict:
    """Normalize extracted fields and render the golden span sequence.

    Shared tail of the dict path (:func:`extract_document`) and the column
    path (:func:`extract_document_cols`) — everything downstream of the
    per-line battery is identical by construction."""
    # Route through the Zod-exact normalizer for parity with the reference's
    # validate step (ollama.ts:232): build the "model JSON" equivalent.
    model_doc: dict = {"type": doc_type}
    if fields["vendor"]:
        model_doc["vendor"] = fields["vendor"][0]
    if fields["amount"]:
        model_doc["amount"] = fields["amount"][0]
    if fields["date_raw"]:
        model_doc["date"] = fields["date_raw"][0]
    if fields["items"]:
        model_doc["items"] = [it for it, _ref in fields["items"]]
    if raw_text:
        model_doc["rawText"] = raw_text

    parse_failure = False
    try:
        norm = normalize_docdata(model_doc)
    except ZodParseError:
        parse_failure = True
        norm = {"type": "other", "vendor": None, "amount": None, "date": None,
                "date_raw": None, "items": None, "raw_text": raw_text or None}

    # A typed document with no extractable amount is a parse failure for
    # metrics purposes (north_star: parse failures recorded, not raised).
    if norm["type"] != "other" and norm["amount"] is None:
        parse_failure = True

    out = []
    out.append(("doc_type", norm["type"], ""))
    if norm["vendor"] is not None:
        out.append(("vendor", norm["vendor"], fields["vendor"][1]))
    if norm["date"] is not None:
        out.append(("date", norm["date"], fields["date_raw"][1]))
    if norm["amount"] is not None:
        out.append(("amount", js_num_to_str(norm["amount"]), fields["amount"][1]))
    if fields["account"] and norm["type"] == "bank_statement":
        out.append(("account_number", fields["account"][0], fields["account"][1]))
    if norm["items"]:
        for it, ref in zip(norm["items"], [r for _i, r in fields["items"]]):
            out.append(("line_item", _fmt_item(it), ref))
    if raw_text:
        out.append(("raw_text", raw_text, ""))

    return {
        "doc_id": doc_id,
        "id": deterministic_id(doc_id),
        "type": norm["type"],
        "vendor": norm["vendor"],
        "amount": norm["amount"],
        "date": norm["date"],
        "date_raw": norm["date_raw"],
        "account_number": fields["account"][0] if fields["account"] and norm["type"] == "bank_statement" else None,
        "items": norm["items"],
        "raw_text": raw_text or None,
        "parse_failure": parse_failure,
        "out_spans": [
            {"order": i, "kind": k, "text": t, "media_ref": r}
            for i, (k, t, r) in enumerate(out)
        ],
    }
