"""Independent pure-Python shredder used ONLY to compute goldens.

This is the oracle side of the q19/q20 correctness gate: it re-implements
the reference's shredding semantics (reference
Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:13-90 and
ProcessingEngine.cs:15-130) directly in Python over the generator's
ground-truth fields map — with NO shared code with the Spark expression
pipeline (horus_spark/operators/shred.py). The Spark pipeline must recover
the fields from raw OCR geometry (L1-L4) and shred them; this module knows
the fields a priori and predicts the exact same typed output, so any
layout-engine or expression-tree bug shows up as a golden mismatch.

Semantics mirrored (same spec, separate implementation):
- GetString: missing key -> PRE0001 Warning/Terminal per call site;
  '\'' -> '@Illegal@' sanitization (ProcessingEngine.cs:37-40)
- GetNumber: space-strip then decimal parse; missing -> PRE0002,
  unparseable -> PRE0005, zero -> PRE0004 (always Warning)
- GetDate: dmy parse; missing -> PRE0006, unparseable -> PRE0007
- header extraction order OrderNO, OrderDate, TaxDate, Inv, AccountNo,
  Total, VAT, Shipping, TotalIncVAT, PostCode
  (HorusProcessingEngine.cs:28-37)
- line scan: line i exists iff Unit/Net/Drug{i:02d} present; BREAK at the
  first absent line, max 49 (HorusProcessingEngine.cs:49-85); per line the
  error order is Drug(W), Drug(T), Qty(W), Net(T), Unit(T), Vat(W),
  Disc(W), Taxable(W) — the double Drug read mirrors the reference's
  LogTrace + read (HorusProcessingEngine.cs:65)
- TaxPeriod = year + month, no zero padding (HorusProcessingEngine.cs:42-45)
- IsValid = no Terminal errors (Models/Document.cs:42-57)
"""

from __future__ import annotations

import datetime as dt
import re

_NUM_RE = re.compile(r"^[+-]?([0-9][0-9,]*\.?[0-9]*|\.[0-9]+)$")

_DATE_FORMATS = [
    "%d/%m/%Y",
    "%d/%m/%Y %H:%M:%S",
    "%m/%d/%Y %I:%M:%S %p",
    "%m/%d/%Y %H:%M:%S",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
]


def _sanitize(s: str) -> str:
    return s.replace("'", "@Illegal@")


def _num_parse(raw: str | None) -> float | None:
    if raw is None:
        return None
    cleaned = raw.strip().replace(" ", "")
    if not _NUM_RE.match(cleaned):
        return None
    return float(cleaned.replace(",", ""))


def _date_parse(raw: str | None) -> dt.datetime | None:
    if raw is None:
        return None
    r = raw.strip()
    for f in _DATE_FORMATS:
        try:
            return dt.datetime.strptime(r, f)
        except ValueError:
            continue
    return None


def expected_shred(fields: dict[str, str]) -> dict:
    """Predict the extraction pipeline's typed output for one document given
    its ground-truth fields map. Returns the q19 projection columns plus
    `errors`, the (code, severity) rows in emission order."""
    errors: list[tuple[str, str]] = []  # (code, severity)

    def get_string(key: str, severity: str) -> str | None:
        v = fields.get(key)
        if v is None:
            errors.append(("PRE0001", severity))
            return None
        return _sanitize(v)

    def get_number(key: str, severity: str) -> float | None:
        v = fields.get(key)
        if v is None:
            errors.append(("PRE0002", severity))
            return None
        parsed = _num_parse(v)
        if parsed is None:
            errors.append(("PRE0005", severity))
            return None
        if parsed == 0:
            errors.append(("PRE0004", "Warning"))  # zero warn is ALWAYS Warning
        return parsed

    def get_date(key: str, severity: str) -> dt.datetime | None:
        v = fields.get(key)
        if v is None:
            errors.append(("PRE0006", severity))
            return None
        parsed = _date_parse(v)
        if parsed is None:
            errors.append(("PRE0007", severity))
        return parsed

    get_string("OrderNO", "Warning")
    get_date("OrderDate", "Warning")
    tax_date = get_date("TaxDate", "Warning")
    document_number = get_string("Inv", "Warning")
    account = get_string("AccountNo", "Warning")
    net_total = get_number("Total", "Warning") or 0.0
    get_number("VAT", "Warning")
    get_number("Shipping", "Warning")
    grand_total = get_number("TotalIncVAT", "Warning") or 0.0
    post_code = get_string("PostCode", "Warning")

    n_lines = 0
    for i in range(1, 50):
        nn = f"{i:02d}"
        if not (
            f"Unit{nn}" in fields or f"Net{nn}" in fields or f"Drug{nn}" in fields
        ):
            break
        n_lines += 1
        get_string(f"Drug{nn}", "Warning")  # reference LogTrace read
        get_string(f"Drug{nn}", "Terminal")
        get_number(f"Qty{nn}", "Warning")
        get_number(f"Net{nn}", "Terminal")
        get_number(f"Unit{nn}", "Terminal")
        get_string(f"Vat{nn}", "Warning")
        get_number(f"Disc{nn}", "Warning")
        get_string(f"Taxable{nn}", "Warning")

    terminal_count = sum(1 for _, sev in errors if sev == "Terminal")
    tax_period = (
        f"{tax_date.year}{tax_date.month}" if tax_date is not None else None
    )
    return {
        "document_number": document_number,
        "tax_period": tax_period,
        "account": account,
        "post_code": post_code,
        "net_total": round(net_total, 2),
        "grand_total": round(grand_total, 2),
        "n_lines": n_lines,
        "n_errors": len(errors),
        "errors": errors,
        "is_valid": terminal_count == 0,
    }
