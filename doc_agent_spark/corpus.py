"""Deterministic synthetic interleaved-span corpus (FIXTURES.md §1, seed=42).

Generates `documents(doc_id, spans[])` rows that mirror the reference's input
variety (providers/ollama.ts:56-80): invoices / receipts / bank statements,
text and media spans interleaved, whitespace-only spans (empty-page filter
exercise, ocr.ts:59), malformed docs (parse-failure metrics), and a skewed
media-heavy tail (salting exercise, SURVEY §4.2.1).

Everything is driven by ``random.Random(seed)`` sequenced per doc index, so
the corpus is reproducible row-by-row regardless of chunking or parallelism.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

VENDORS_RECEIPT = [
    "TACOS EL REY", "BLUE BOTTLE COFFEE", "GREEN GROCER MARKET", "PIZZA PALACE",
    "THE NOODLE BAR", "CORNER BAKERY", "SUNRISE DINER", "RIVER CAFE",
]
VENDORS_INVOICE = [
    "ACME CONSULTING LLC", "NORTHWIND SERVICES", "GLOBEX SOLUTIONS",
    "INITECH SYSTEMS", "STARK INDUSTRIES", "WAYNE ENTERPRISES",
]
BANKS = ["FIRST NATIONAL BANK", "PACIFIC TRUST", "UNION SAVINGS", "HARBOR CREDIT UNION"]
ITEMS = [
    "Carnitas Taco", "Horchata", "Latte", "Espresso", "Blueberry Muffin",
    "House Salad", "Margherita Pizza", "Pad Thai", "Sourdough Loaf",
    "Orange Juice", "Club Sandwich", "Iced Tea", "Chicken Burrito",
]
SERVICES = [
    "Consulting hours", "Cloud hosting", "Design retainer", "Support plan",
    "License renewal", "Data migration", "Audit services",
]
TXN_DESCS = [
    "DEPOSIT PAYROLL", "ATM WITHDRAWAL", "CHECK 1042", "ONLINE TRANSFER",
    "CARD PURCHASE GROCERY", "DIRECT DEBIT UTILITIES", "INTEREST PAYMENT",
]
STREETS = ["123 Main St", "44 Oak Ave", "901 Market St", "7 Harbor Blvd"]


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _date_str(rng: random.Random) -> str:
    """Mix of date forms the normalizer must handle (schemas.ts:44-66)."""
    y, m, d = 2024, rng.randint(1, 12), rng.randint(1, 28)
    form = rng.randrange(5)
    if form == 0:
        return f"{m:02d}/{d:02d}/{y % 100:02d}"        # MM/DD/YY
    if form == 1:
        return f"{y}-{m:02d}-{d:02d}"                  # ISO
    if form == 2:
        return f"{m:02d}/{d:02d}/{y}"                  # MM/DD/YYYY
    if form == 3:
        months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                  "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
        return f"{months[m - 1]} {d}, {y}"             # Mon D, YYYY
    return f"{d:02d}.{m:02d}.{y}"                      # unparseable (DE form)


def _receipt(rng: random.Random, malformed: bool) -> list[str]:
    vendor = rng.choice(VENDORS_RECEIPT)
    lines = [vendor, rng.choice(STREETS)]
    n_items = rng.randint(1, 5)
    subtotal = 0.0
    for _ in range(n_items):
        qty = rng.randint(1, 4)
        price = _money(rng, 2.0, 25.0)
        total = round(qty * price, 2)
        subtotal = round(subtotal + total, 2)
        lines.append(f"{qty}x {rng.choice(ITEMS)}    {total:.2f}")
    tax = round(subtotal * 0.0875, 2)
    total = round(subtotal + tax, 2)
    lines.append(f"Subtotal    {subtotal:.2f}")
    lines.append(f"Tax    {tax:.2f}")
    if not malformed:
        lines.append(f"Total    {total:.2f}")
    lines.append(f"{rng.choice(['Credit', 'Cash', 'Card'])}    {total:.2f}")
    lines.append(_date_str(rng))
    return lines


def _invoice(rng: random.Random, malformed: bool) -> list[str]:
    vendor = rng.choice(VENDORS_INVOICE)
    lines = [vendor, f"Invoice #INV-{rng.randint(1000, 9999)}", f"Date: {_date_str(rng)}"]
    n = rng.randint(1, 4)
    due = 0.0
    for _ in range(n):
        amt = _money(rng, 100.0, 5000.0)
        due = round(due + amt, 2)
        lines.append(f"{rng.choice(SERVICES)}    {amt:.2f}")
    if not malformed:
        # comma-grouped amounts exercise the extractor's money parser
        grouped = f"{due:,.2f}" if due >= 1000 else f"{due:.2f}"
        lines.append(f"Amount Due:    {grouped}")
    return lines


def _bank(rng: random.Random, malformed: bool) -> list[str]:
    lines = [rng.choice(BANKS), f"Account No {rng.randint(1000, 9999)}-{rng.randint(1000, 9999)}"]
    lines.append(f"Statement Date {_date_str(rng)}")
    bal = _money(rng, -500.0, 5000.0)
    for _ in range(rng.randint(2, 6)):
        amt = _money(rng, -800.0, 800.0)
        lines.append(f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d} {rng.choice(TXN_DESCS)}    {amt:.2f}")
    if not malformed:
        lines.append(f"Ending Balance    {bal:.2f}")
    return lines


def make_doc(i: int, seed: int = 42) -> dict:
    """Build document #i deterministically (independent of batch/chunk)."""
    rng = random.Random((seed << 32) ^ i)
    doc_id = f"doc-{i:08d}"
    kind_pick = rng.randrange(3)
    malformed = rng.random() < 0.02
    if kind_pick == 0:
        lines = _receipt(rng, malformed)
    elif kind_pick == 1:
        lines = _invoice(rng, malformed)
    else:
        lines = _bank(rng, malformed)

    # skewed media-heavy tail: ~0.5% docs get 50-200 media spans
    skewed = rng.random() < 0.005
    if skewed:
        n_spans = rng.randint(50, 200)
    else:
        n_spans = rng.randint(1, 6)

    shape = rng.random()
    all_text, all_media = shape < 0.10, 0.10 <= shape < 0.20

    # split lines into n_spans contiguous chunks (empty chunks allowed →
    # whitespace-only spans for the empty-page filter)
    spans = []
    chunks: list[list[str]] = [[] for _ in range(n_spans)]
    for j, ln in enumerate(lines):
        chunks[j * n_spans // max(len(lines), 1)].append(ln)
    for k in range(n_spans):
        text = "\n".join(chunks[k])
        if rng.random() < 0.05:
            text = "   "  # whitespace-only page, must be dropped (ocr.ts:59)
        if all_text:
            kind = "text"
        elif all_media or skewed:
            kind = "media"
        else:
            kind = "text" if rng.random() < 0.5 else "media"
        spans.append({
            "kind": kind,
            "text": text,
            "media_ref": f"media://{doc_id}/p{k + 1}.png" if kind == "media" else "",
            "offset": k,
        })
    return {"doc_id": doc_id, "spans": spans}


def gen_docs(n: int, seed: int = 42, start: int = 0) -> Iterator[dict]:
    for i in range(start, start + n):
        yield make_doc(i, seed)
