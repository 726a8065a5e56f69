"""Deterministic synthetic invoice corpus — spans + OCR geometry + goldens.

Ports the SEMANTICS of the reference's corpus generator
(reference Horus.Generator/Generator.cs:22-86 — per-doc random account,
1..MaxLines-1 line items, ~30% notes, date within 180 days;
Models/GeneratorDocumentLineItem.cs:23-51 — goods/discount/taxable value
chain; Models/GeneratorDocument.cs:30-57 — 19% VAT, 15% shipping totals)
into seeded numpy. Layout geometry mirrors the measured golden fixture
(reference Horus.Generator/quickstart/INVOICE-30001.pdf.ocr.json): page
8.2639x11.6806in, 7-column line-item grid with x-cuts
[0.992,1.385,3.747,4.141,4.928,5.322,5.714,7.289], 4x1 totals table.

Every document is generated from
RandomState((seed * 1_000_003 + doc_number) % (2**31 - 1)) so any
subset can be generated independently on any executor (order-free,
shuffle-free, resumable).

Outputs per document:
- spans:       interleaved text+media spans (the north-rule input shape)
- ocr_words:   word boxes for the media (form) region
- fields:      ground-truth recognized-fields map (what L1-L4 must recover)
- expected_document / expected_lines: golden relational rows
- expected_spans: golden 3-way span classification (north-rule output)
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from horus_spark.config import line_keys
from horus_spark.fixtures.pools import FORMATS, SUPPLIERS, build_accounts, build_products

PAGE_W, PAGE_H = 8.2639, 11.6806
CW = 0.067   # approx char advance, inches
WH = 0.100   # word height
SP = 0.066   # inter-word gap

# ABC / Oscorp 7-column grid (measured from fixture INVOICE-30001)
ABC_XCUTS = [0.992, 1.385, 3.747, 4.141, 4.928, 5.322, 5.714, 7.289]
# Nouryon 6-column grid (our own layout; two grid rows per logical line,
# per reference Builders/NouryonDocumentBuilder.cs:160-193,219-241)
NOURYON_XCUTS = [0.992, 1.385, 3.9, 4.75, 5.6, 6.1, 7.289]

HDR_TOP, HDR_BOT = 4.495, 4.9576
ITEM_Y0 = 4.995
ROW_PITCH = 0.1623
TOTALS_GAP = 0.32
TOTALS_PITCH = 0.1554
ADDR_X, ADDR_Y0, ADDR_PITCH = 4.53, 2.146, 0.1643

BASE_DATE = dt.datetime(2026, 6, 30)

_BOILER_NAV = (
    '<div class="nav"><a href="/home">Home</a> | <a href="/products">Products</a>'
    ' | <a href="/about">About us</a> | <a href="/contact">Contact</a></div>'
)
_BOILER_FOOT = (
    '<div class="footer"><a href="/privacy">Privacy policy</a> - '
    '<a href="/terms">Terms of service</a> - <a href="/cookies">Cookie settings</a>'
    " - (c) 2026 Generic Holdings Ltd. All rights reserved.</div>"
)
_NOTES = "Need to do something with this"
_PARAGRAPHS = [
    "Please remit payment within thirty days of the invoice date. Questions about"
    " this order can be directed to our accounts team during business hours.",
    "All chemical products listed are supplied with batch certificates and comply"
    " with the applicable transport regulations for hazardous materials.",
    "Deliveries are made Monday through Friday. Any damage in transit must be"
    " reported within five working days of receipt of the consignment.",
    "This statement reflects all shipments dispatched during the billing period"
    " and supersedes any prior pro-forma documents issued for the same order.",
]


def _fmt_of(doc_number: int, rng: np.random.RandomState) -> str:
    return FORMATS[rng.randint(0, 3)]


class _Page:
    """Accumulates OCR words/lines in reading order. Each added fragment gets
    a unique token so golden span classification can reference exact lines
    (text matching would collide, e.g. a qty '7' vs an item-number '7')."""

    def __init__(self, rng: np.random.RandomState):
        self.rng = rng
        self.rows: list[list[tuple[float, list, int]]] = []  # row -> [(x0, words, token)]
        self._row_y: list[float] = []
        self._next_token = 0

    def _mk_words(self, text: str, x0: float, y: float) -> list:
        words = []
        x = x0
        for w in text.split(" "):
            if not w:
                continue
            w_w = max(len(w) * CW, 0.04)
            words.append((w, [x, y, x + w_w, y, x + w_w, y + WH, x, y + WH]))
            x += w_w + SP
        return words

    def text_width(self, text: str) -> float:
        n = len(text)
        return n * CW

    def add(self, text: str, y: float, x: float = None, x_end: float = None, cx: float = None):
        """Add one OCR line (one visual text row fragment); returns its token."""
        if not text:
            return None
        w = self.text_width(text)
        if x is None and x_end is not None:
            x = x_end - w
        elif x is None and cx is not None:
            x = cx - w / 2
        words = self._mk_words(text, x, y)
        token = self._next_token
        self._next_token += 1
        # find/create row band by y
        for i, ry in enumerate(self._row_y):
            if abs(ry - y) < 0.04:
                self.rows[i].append((x, words, token))
                return token
        self._row_y.append(y)
        self.rows.append([(x, words, token)])
        return token

    def finish(self):
        """Return lines in reading order: rows sorted by y, fragments by x.
        Each fragment is ONE OCR line. -> [(text, bbox, words, token)]"""
        order = np.argsort(self._row_y, kind="stable")
        lines = []
        for i in order:
            for x0, words, token in sorted(self.rows[i], key=lambda t: t[0]):
                texts = [w[0] for w in words]
                xs0 = min(w[1][0] for w in words)
                ys0 = min(w[1][1] for w in words)
                xs1 = max(w[1][2] for w in words)
                ys1 = max(w[1][5] for w in words)
                bbox = [xs0, ys0, xs1, ys0, xs1, ys1, xs0, ys1]
                lines.append((" ".join(texts), bbox, words, token))
        return lines


def _wrap(text: str, width_in: float) -> list[str]:
    """Greedy word wrap at a column width (inches)."""
    out, cur = [], ""
    for w in text.split(" "):
        cand = (cur + " " + w).strip()
        if len(cand) * CW <= width_in or not cur:
            cur = cand
        else:
            out.append(cur)
            cur = w
    if cur:
        out.append(cur)
    return out


def generate_document(doc_number: int, seed: int = 42, products=None, accounts=None) -> dict:
    """Generate one synthetic invoice document + goldens. Deterministic in
    (doc_number, seed)."""
    products = products if products is not None else build_products(seed)
    accounts = accounts if accounts is not None else build_accounts(seed)
    rng = np.random.RandomState((seed * 1_000_003 + doc_number) % (2**31 - 1))

    fmt = _fmt_of(doc_number, rng)
    sup = SUPPLIERS[fmt]
    file_name = f"INVOICE-{doc_number}.pdf"
    doc_id = f"{fmt}-{file_name}"
    doc_date = BASE_DATE - dt.timedelta(days=int(rng.randint(1, 180)))
    has_notes = rng.randint(1, 10) <= 3
    account = accounts[rng.randint(1, len(accounts))]
    n_lines = int(rng.randint(1, sup["max_lines"]))

    # Money arithmetic is INTEGER (mils/cents): canonical values are exact
    # 2dp decimals, so printed text, stored doubles, and any 2dp-rounding
    # comparator agree at every boundary regardless of float sum order.
    lines = []
    pre_cents = 0
    taxable_cents = 0
    for li in range(n_lines):
        p = products[rng.randint(1, len(products))]
        qty = int(rng.randint(1, 100))
        price_mils = int(round(p["price"] * 1000))
        goods_tc = qty * price_mils  # tenth-cents
        disc_v_cents = (goods_tc * int(p["discount"]) + 500) // 1000
        dgv_cents = (goods_tc - disc_v_cents * 10 + 5) // 10
        pre_cents += dgv_cents
        if p["taxable"]:
            taxable_cents += dgv_cents
        lines.append(
            {
                "line_number": str(li + 1),
                "isbn": p["isbn"],
                "title": p["title"],
                "quantity": float(qty),
                "price": price_mils / 1000.0,
                "discount": p["discount"],
                "taxable": p["taxable"],
                "goods_value": goods_tc / 1000.0,
                "discount_value": disc_v_cents / 100.0,
                "discounted_goods_value": dgv_cents / 100.0,
                "taxable_value": (dgv_cents / 100.0) if p["taxable"] else 0.0,
            }
        )
    tax_cents = (taxable_cents * 19 + 50) // 100
    ship_cents = (pre_cents * 15 + 50) // 100
    pre_tax = pre_cents / 100.0
    tax = tax_cents / 100.0
    shipping = ship_cents / 100.0
    grand = (pre_cents + tax_cents + ship_cents) / 100.0

    # ---------------- build the OCR (media/form) region -------------------
    page = _Page(rng)
    fields: dict[str, str] = {}
    # field -> set of (row_key, x) isn't needed; we track per-line form-field
    # status by text content below.
    field_tokens: set[int] = set()  # page fragment tokens that carry field words

    label_tokens: dict[str, int] = {}  # key -> page token (labelling-tool
    # analog: which OCR line carries the labeled value)

    def reg_field(key: str, value: str, token):
        fields[key] = value
        if token is not None:
            field_tokens.add(token)
            label_tokens[key] = token

    postal_city = f"{account['postal_code']} {account['city']}"
    if fmt == "abc":
        date_s = doc_date.strftime("%d/%m/%Y")
        y = ADDR_Y0
        for t in [account["single_name"], account["address_line1"]]:
            page.add(t, y, x=ADDR_X)
            y += ADDR_PITCH
        tok = page.add(postal_city, y, x=ADDR_X)
        reg_field("PostCode", account["postal_code"], tok)
        y += ADDR_PITCH
        ref_line = f"our ref: {account['account']}"
        tok = page.add(ref_line, y, x=ADDR_X)
        reg_field("AccountNo", account["account"], tok)
        inv_line = f"INVOICE {doc_number}"
        tok = page.add(inv_line, 4.157, x=0.993)
        reg_field("Inv", str(doc_number), tok)
        tok = page.add(date_s, 4.154, x_end=7.274)
        reg_field("TaxDate", date_s, tok)
        xc = ABC_XCUTS
        # table header (3 visual rows, as in the fixture)
        page.add("Description", 4.527, x=xc[1] + 0.06)
        page.add("Qty", 4.529, x=xc[2] + 0.057)
        page.add("Unit", 4.527, x_end=xc[4] - 0.053)
        page.add("Disc", 4.527, x=xc[4] + 0.062)
        page.add("Tax", 4.531, cx=(xc[5] + xc[6]) / 2)
        page.add("Line Value", 4.527, x=xc[6] + 0.064)
        page.add("Price", 4.679, x_end=xc[4] - 0.053)
        page.add("(%)", 4.831, x=xc[4] + 0.062)
        y = ITEM_Y0
        for i, l in enumerate(lines, 1):
            nn = f"{i:02d}"
            desc = f"{l['isbn']} {l['title']}"
            qty_s = f"{l['quantity']:.0f}"
            unit_s = f"{l['price']:.3f}"
            disc_s = f"{l['discount']:.1f}"
            net_s = f"{l['discounted_goods_value']:.2f}"
            parts = _wrap(desc, 2.10)
            page.add(str(i), y, cx=(xc[0] + xc[1]) / 2)
            for pi, part in enumerate(parts):
                ptok = page.add(part, y + pi * ROW_PITCH, x=xc[1] + 0.058)
                field_tokens.add(ptok)
            tok = page.add(qty_s, y, x_end=xc[3] - 0.06)
            reg_field(f"Qty{nn}", qty_s, tok)
            tok = page.add(unit_s, y, x_end=xc[4] - 0.064)
            reg_field(f"Unit{nn}", unit_s, tok)
            tok = page.add(disc_s, y, x_end=xc[5] - 0.059)
            reg_field(f"Disc{nn}", disc_s, tok)
            if l["taxable"]:
                tok = page.add("x", y, cx=(xc[5] + xc[6]) / 2)
                reg_field(f"Taxable{nn}", "x", tok)
            y_last = y + (len(parts) - 1) * ROW_PITCH
            tok = page.add(net_s, y_last, x_end=xc[7] - 0.058)
            reg_field(f"Net{nn}", net_s, tok)
            reg_field(f"Drug{nn}", desc, None)
            y = y_last + ROW_PITCH
        y += TOTALS_GAP - ROW_PITCH
        totals = [
            ("Total Price", f"{pre_tax:.2f}", "Total"),
            ("VAT (19%)", f"{tax:.2f}", "VAT"),
            ("Shipping and Handling", f"{shipping:.2f}", "Shipping"),
            ("Total Due", f"{grand:.2f}", "TotalIncVAT"),
        ]
        for label, val, key in totals:
            page.add(label, y, x_end=5.656)
            tok = page.add(val, y, x_end=xc[7] - 0.058)
            reg_field(key, val, tok)
            y += TOTALS_PITCH
    elif fmt == "oscorp":
        date_s = doc_date.strftime("%d/%m/%Y %H:%M:%S")
        y = ADDR_Y0
        for t in [account["single_name"], account["address_line1"]]:
            page.add(t, y, x=ADDR_X)
            y += ADDR_PITCH
        tok = page.add(postal_city, y, x=ADDR_X)
        reg_field("PostCode", account["postal_code"], tok)
        y += ADDR_PITCH
        tok = page.add(account["account"], y, x=ADDR_X)
        reg_field("AccountNo", account["account"], tok)
        inv_line = f"INVOICE {doc_number}"
        tok = page.add(inv_line, 4.157, x=0.993)
        reg_field("Inv", str(doc_number), tok)
        tp_line = f"Taxpoint: {date_s}"
        tok = page.add(tp_line, 4.32, x=0.993)
        reg_field("TaxDate", date_s, tok)
        xc = ABC_XCUTS
        page.add("Description", 4.527, x=xc[1] + 0.06)
        page.add("Qty", 4.529, x=xc[2] + 0.057)
        page.add("Unit Price", 4.527, x_end=xc[4] - 0.053)
        page.add("Disc", 4.527, x=xc[4] + 0.062)
        page.add("Tax", 4.531, cx=(xc[5] + xc[6]) / 2)
        page.add("Line Value", 4.527, x=xc[6] + 0.064)
        y = ITEM_Y0
        for i, l in enumerate(lines, 1):
            nn = f"{i:02d}"
            desc = f"{l['isbn']} {l['title']}"
            qty_s = f"{l['quantity']:.0f}"
            unit_s = f"{l['price']:.3f}"
            disc_s = f"{l['discount']:.1f}"
            net_s = f"{l['discounted_goods_value']:.2f}"
            parts = _wrap(desc, 2.10)
            page.add(str(i), y, cx=(xc[0] + xc[1]) / 2)
            for pi, part in enumerate(parts):
                ptok = page.add(part, y + pi * ROW_PITCH, x=xc[1] + 0.058)
                field_tokens.add(ptok)
            tok = page.add(qty_s, y, x_end=xc[3] - 0.06)
            reg_field(f"Qty{nn}", qty_s, tok)
            tok = page.add(unit_s, y, x_end=xc[4] - 0.064)
            reg_field(f"Unit{nn}", unit_s, tok)
            tok = page.add(disc_s, y, x_end=xc[5] - 0.059)
            reg_field(f"Disc{nn}", disc_s, tok)
            if l["taxable"]:
                tok = page.add("x", y, cx=(xc[5] + xc[6]) / 2)
                reg_field(f"Taxable{nn}", "x", tok)
            y_last = y + (len(parts) - 1) * ROW_PITCH
            tok = page.add(net_s, y_last, x_end=xc[7] - 0.058)
            reg_field(f"Net{nn}", net_s, tok)
            reg_field(f"Drug{nn}", desc, None)
            y = y_last + ROW_PITCH
        y += TOTALS_GAP - ROW_PITCH
        for label, val, key in [
            ("Total Price", f"{pre_tax:.2f}", "Total"),
            ("VAT (19%)", f"{tax:.2f}", "VAT"),
            ("Shipping and Handling", f"{shipping:.2f}", "Shipping"),
            ("Total Due", f"{grand:.2f}", "TotalIncVAT"),
        ]:
            page.add(label, y, x_end=5.656)
            tok = page.add(val, y, x_end=xc[7] - 0.058)
            reg_field(key, val, tok)
            y += TOTALS_PITCH
    else:  # nouryon — two grid rows per logical line
        date_s = doc_date.strftime("%d/%m/%Y %H:%M:%S")
        y = ADDR_Y0
        for t in [account["single_name"], account["address_line1"]]:
            page.add(t, y, x=ADDR_X)
            y += ADDR_PITCH
        tok = page.add(postal_city, y, x=ADDR_X)
        reg_field("PostCode", account["postal_code"], tok)
        y += ADDR_PITCH
        tok = page.add(date_s, y, x=ADDR_X)
        reg_field("TaxDate", date_s, tok)
        ac_line = f"A/C {account['account']} INVOICE {doc_number}"
        tok = page.add(ac_line, 4.157, x=0.993)
        reg_field("AccountNo", account["account"], tok)
        reg_field("Inv", str(doc_number), tok)
        xc = NOURYON_XCUTS
        page.add("Item", 4.527, x=xc[0] + 0.06)
        page.add("Product and Description", 4.527, x=xc[1] + 0.058)
        page.add("Extended Price", 4.527, x=xc[5] + 0.06)
        page.add("Quantity", 4.679, x=xc[1] + 0.058)
        page.add("Unit Price", 4.679, x=xc[2] + 0.058)
        page.add("Discount", 4.679, x=xc[3] + 0.058)
        page.add("Taxable", 4.679, x=xc[4] + 0.055)
        y = ITEM_Y0
        for i, l in enumerate(lines, 1):
            nn = f"{i:02d}"
            desc = f"{l['isbn']} {l['title']}"
            qty_s = f"{l['quantity']:.0f}"
            unit_s = f"{l['price']:.5f}"
            disc_s = f"{l['discount']:.0f}% / {l['discount_value']:.2f}"
            net_s = f"{l['discounted_goods_value']:.2f}"
            parts = _wrap(desc, 2.35)
            page.add(str(i), y, cx=(xc[0] + xc[1]) / 2)
            for pi, part in enumerate(parts):
                ptok = page.add(part, y + pi * ROW_PITCH, x=xc[1] + 0.058)
                field_tokens.add(ptok)
            y_desc_last = y + (len(parts) - 1) * ROW_PITCH
            tok = page.add(net_s, y_desc_last, x_end=xc[6] - 0.058)
            reg_field(f"Net{nn}", net_s, tok)
            yb = y_desc_last + ROW_PITCH
            tok = page.add(qty_s, yb, x=xc[1] + 0.058)
            reg_field(f"Qty{nn}", qty_s, tok)
            tok = page.add(unit_s, yb, x=xc[2] + 0.058)
            reg_field(f"Unit{nn}", unit_s, tok)
            tok = page.add(disc_s, yb, x=xc[3] + 0.058)
            reg_field(f"Disc{nn}", disc_s, tok)
            if l["taxable"]:
                tok = page.add("x", yb, cx=(xc[4] + xc[5]) / 2)
                reg_field(f"Taxable{nn}", "x", tok)
            reg_field(f"Drug{nn}", desc, None)
            y = yb + ROW_PITCH
        y += TOTALS_GAP - ROW_PITCH
        for label, val, key in [
            ("Total Price", f"{pre_tax:.2f}", "Total"),
            ("VAT (19%)", f"{tax:.2f}", "VAT"),
            ("Shipping and Handling", f"{shipping:.2f}", "Shipping"),
            ("Total Due", f"{grand:.2f}", "TotalIncVAT"),
        ]:
            page.add(label, y, x_end=xc[5] - 0.06)
            tok = page.add(val, y, x_end=xc[6] - 0.058)
            reg_field(key, val, tok)
            y += TOTALS_PITCH

    ocr_lines = page.finish()

    # ------------------------- assemble spans ------------------------------
    spans = []          # input spans
    expected_spans = []  # golden classification
    offset = 0

    def push(kind_in: str, text: str, media_ref: str, kind_out: str):
        nonlocal offset
        spans.append({"kind": kind_in, "text": text, "media_ref": media_ref, "offset": offset})
        expected_spans.append(
            {"kind": kind_out, "text": text, "media_ref": media_ref, "offset": offset}
        )
        offset += 1

    for t in sup["logo"]:
        push("text", t, "", "boilerplate")
    push("text", sup["name"], "", "boilerplate")
    has_boiler = rng.randint(0, 100) < 40
    if has_boiler:
        push("text", _BOILER_NAV, "", "boilerplate")
    ocr_words_rows = []
    keys = line_keys([1] * len(ocr_lines), range(len(ocr_lines))).to_pylist()
    for li, (ltext, lbbox, lwords, token) in enumerate(ocr_lines):
        ref = f"{doc_id}#{keys[li]}"
        is_field = token in field_tokens
        push("media", ltext, ref, "form-field" if is_field else "boilerplate")
        for wi, (wtext, wbbox) in enumerate(lwords):
            ocr_words_rows.append(
                {
                    "doc_id": doc_id,
                    "page": 1,
                    "line_id": li,
                    "word_id": wi,
                    "text": wtext,
                    "bbox": [float(v) for v in wbbox],
                    "confidence": float(rng.uniform(0.85, 0.96)),
                }
            )
    para = _PARAGRAPHS[rng.randint(0, len(_PARAGRAPHS))]
    push("text", para, "", "content")
    if has_notes:
        push("text", _NOTES, "", "content")
    if has_boiler:
        push("text", _BOILER_FOOT, "", "boilerplate")
    push("text", sup["footer"], "", "boilerplate")

    expected_document = {
        "doc_id": doc_id,
        "file_name": file_name,
        "document_format": fmt,
        "document_number": str(doc_number),
        "account": account["account"],
        "single_name": account["single_name"],
        "address_line1": account["address_line1"],
        "address_line2": account["address_line2"],
        "city": account["city"],
        "postal_code": account["postal_code"],
        "document_date": doc_date,
        "pre_tax_total": pre_tax,
        "tax_total": tax,
        "shipping_total": shipping,
        "grand_total": grand,
        "notes": _NOTES if has_notes else None,
    }
    expected_lines = [{**l, "doc_id": doc_id} for l in lines]

    # labelling-tool analog (additive; consumed by training.py): per
    # labeled field, the bbox of the OCR line that carries its value
    tok2bbox = {token: lbbox for (_t, lbbox, _w, token) in ocr_lines}
    label_boxes = {
        k: tok2bbox[t] for k, t in label_tokens.items() if t in tok2bbox
    }

    return {
        "doc_id": doc_id,
        "fmt": fmt,
        "spans": spans,
        "ocr_words": ocr_words_rows,
        "fields": fields,
        "expected_document": expected_document,
        "expected_lines": expected_lines,
        "expected_spans": expected_spans,
        "label_boxes": label_boxes,
    }


# --------------------------- batch/pandas builders ---------------------------


def generate_batch(doc_numbers, seed: int = 42):
    products = build_products(seed)
    accounts = build_accounts(seed)
    return [generate_document(int(n), seed, products, accounts) for n in doc_numbers]


def corpus_pandas(n_docs: int, base: int = 30000, seed: int = 42) -> dict[str, pd.DataFrame]:
    """Small-scale corpus as pandas DataFrames (tests / local goldens)."""
    docs = generate_batch(range(base + 1, base + 1 + n_docs), seed)
    documents = pd.DataFrame(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "spans": [d["spans"] for d in docs],
        }
    )
    ocr_words = pd.DataFrame([r for d in docs for r in d["ocr_words"]])
    fields_map = pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "fields": [d["fields"] for d in docs]}
    )
    expected_documents = pd.DataFrame([d["expected_document"] for d in docs])
    expected_lines = pd.DataFrame([r for d in docs for r in d["expected_lines"]])
    expected_spans = pd.DataFrame(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "spans_out": [d["expected_spans"] for d in docs],
        }
    )
    return {
        "documents": documents,
        "ocr_words": ocr_words,
        "fields_map": fields_map,
        "expected_documents": expected_documents,
        "expected_lines": expected_lines,
        "expected_spans": expected_spans,
    }


def corpus_spark(spark, n_docs: int, base: int = 30000, seed: int = 42, partitions: int = 32):
    """Large-scale corpus generated IN PARALLEL on executors via mapInPandas
    (each partition generates its own doc-number range; no driver data)."""
    from pyspark.sql import functions as F

    from horus_spark import schema as S

    nums = spark.range(base + 1, base + 1 + n_docs, 1, partitions).withColumnRenamed("id", "n")

    def gen_docs(it):
        products = build_products(seed)
        accounts = build_accounts(seed)
        for pdf in it:
            rows = [
                generate_document(int(n), seed, products, accounts) for n in pdf["n"].tolist()
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [r["spans"] for r in rows],
                }
            )

    def gen_words(it):
        products = build_products(seed)
        accounts = build_accounts(seed)
        for pdf in it:
            out = []
            for n in pdf["n"].tolist():
                out.extend(generate_document(int(n), seed, products, accounts)["ocr_words"])
            yield pd.DataFrame(out)

    documents = nums.mapInPandas(gen_docs, schema=S.DOCUMENTS)
    ocr_words = nums.mapInPandas(gen_words, schema=S.OCR_WORDS)
    return {"documents": documents, "ocr_words": ocr_words}
