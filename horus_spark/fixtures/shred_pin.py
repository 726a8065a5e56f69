"""Pinned shredder inputs and the row canonicalization for the shredder's
pinned-output fixture (tests/fixtures/shred_pin.json.gz).

`pin_cases()` is the 300 seeded field maps of `fuzz_cases()` (the
differential fuzz, tests/test_shred_fuzz.py, runs them too) plus an
edge-case list aimed at the places where two parsers most easily disagree:
line terminators before the end of a number (Java's `$`), tabs and other
non-U+0020 blanks, signs, a bare trailing or leading '.', thousands
commas, digit strings too long for a double, non-ASCII digits, and quotes
in numbers, strings and dates. `canon(row)` turns one collected
SHREDDED_DOCUMENT row into JSON-safe values with floats kept bit for bit
(repr: -0.0, inf and nan survive), so a fixture comparison checks every
value and every message text exactly.

tools/make_shred_pin.py writes the fixture; tests/test_shred_pin.py
checks the current shredder against it.
"""

from __future__ import annotations

import datetime as dt
import random

# fuzz pools: valid and invalid texts per kind
NUMS_OK = ["0", "12.5", "1,234.56", " 12 ", "+5", "-0.1", ".5", "00.10", "7", "12.", "0.00", "1 2 3"]
NUMS_BAD = ["abc", "12a", "--3", "1.2.3", "£5", "NaN?", "1e5", ".", "Infinity", "١٢"]
DATES_OK = ["22/07/2020", "01/12/2019 13:01:02", "2020-01-01", "2021-02-28 06:05:04"]
DATES_BAD = ["not-a-date", "2020-13-40", "////", "31/02/2020", "22/07/2020 25:61:00"]
STRS = ["OXOUHJ", "it's quoted", "25150 WV WAY TOO LONG POSTCODE", "x", ""]

_HEADER_POOLS = [
    ("OrderNO", STRS), ("OrderDate", DATES_OK + DATES_BAD),
    ("TaxDate", DATES_OK + DATES_BAD), ("Inv", STRS), ("AccountNo", STRS),
    ("Total", NUMS_OK + NUMS_BAD), ("VAT", NUMS_OK + NUMS_BAD),
    ("Shipping", NUMS_OK + NUMS_BAD), ("TotalIncVAT", NUMS_OK + NUMS_BAD),
    ("PostCode", STRS),
]
_LINE_POOLS = [
    ("Drug", STRS), ("Qty", NUMS_OK + NUMS_BAD), ("Unit", NUMS_OK + NUMS_BAD),
    ("Vat", STRS), ("Disc", NUMS_OK + NUMS_BAD),
    ("Taxable", ["x", ""]), ("Net", NUMS_OK + NUMS_BAD),
]

FUZZ_SEED = 20260817
FUZZ_DOCS = 300


def random_fields(rng: random.Random) -> dict:
    """One randomized fields map: missing header keys, line holes (prefix
    termination), garbage numbers, commas/spaces, zeros, quotes."""
    f = {}
    for key, pool in _HEADER_POOLS:
        if rng.random() < 0.75:
            f[key] = rng.choice(pool)
    n_declared = rng.randint(0, 6)
    for i in range(1, n_declared + 1):
        nn = f"{i:02d}"
        if rng.random() < 0.1:
            continue  # a HOLE — later lines must become invisible
        for prefix, pool in _LINE_POOLS:
            if rng.random() < 0.85:
                f[f"{prefix}{nn}"] = rng.choice(pool)
    return f


def fuzz_cases() -> list[tuple[str, dict]]:
    rng = random.Random(FUZZ_SEED)
    return [(f"doc-{i}", random_fields(rng)) for i in range(FUZZ_DOCS)]


# number texts: every numeric read (header and line) of one document gets
# the same text
EDGE_NUMS = [
    "12\n", "12\r\n", "12\r", "12\n\n", "12\n\r", "\n12", "12\t", "\t5",
    " 0 ", "-0", "+0", "+5", "12.", ".5", "+.5", "-.5", "0.", "00", "000",
    "007", "-007.50", "00.10", "-0.0", "1,2,3", "1,,2", ",1", "1,", "0,0",
    "1 2 3", "1" * 400, "9" * 400 + ".5", "-" + "1" * 400,
    "0." + "0" * 400 + "1", "\u0661\u0662", "1'2", "'", "'5'", "", " ", "+",
    "-", ".", ",", "1e5", "0x10", "Infinity", "NaN", "1\u00a02", "\u00a012",
    "12\u3000", "1.2.3", "1_000",
]
EDGE_STRS = ["", " ", "'", "''", "a'b'c", " padded ", "tab\there", "line\nbreak", "١٢"]
EDGE_DATES = [
    "22/07/'2020", "'22/07/2020'", "22/07/2020\n", " 22/07/2020 ", "\t22/07/2020",
    "7/4/2020 1:02:03 PM", "7/4/2020 13:02:03", "2020-07-04", "2020-07-04 01:02:03",
]
# (Net, Unit) pairs for CalculatedLineQuantity: overflow, signed zero
EDGE_NET_UNIT = [
    ("1" * 400, "2"), ("1" * 400, "1" * 400), ("-" + "1" * 400, "1" * 400),
    ("-0", "5"), ("5", "-0"), ("3", "7"), ("1", "3"), ("0.1", "0.3"),
]

_FULL = {
    "OrderNO": "PO1", "OrderDate": "01/02/2020", "TaxDate": "22/07/2020",
    "Inv": "30001", "AccountNo": "OXOUHJ", "PostCode": "25150 WV",
    "Total": "12085.99", "VAT": "1000.45", "Shipping": "1812.90",
    "TotalIncVAT": "14899.34", "Drug01": "CFGC-99459 Flerovium (Fl) 289",
    "Qty01": "75", "Unit01": "2.491", "Vat01": "S", "Disc01": "0.0",
    "Taxable01": "x", "Net01": "186.82",
}
_NUM_KEYS = ["Total", "VAT", "Shipping", "TotalIncVAT", "Qty01", "Unit01", "Disc01", "Net01"]
_STR_KEYS = ["OrderNO", "Inv", "AccountNo", "PostCode", "Drug01", "Vat01", "Taxable01"]


def edge_cases() -> list[tuple[str, dict]]:
    cases = [("edge-empty", {}), ("edge-full", dict(_FULL))]
    for i, v in enumerate(EDGE_NUMS):
        cases.append((f"edge-num-{i}", {**_FULL, **{k: v for k in _NUM_KEYS}}))
    for i, v in enumerate(EDGE_STRS):
        cases.append((f"edge-str-{i}", {**_FULL, **{k: v for k in _STR_KEYS}}))
    for i, v in enumerate(EDGE_DATES):
        cases.append((f"edge-date-{i}", {**_FULL, "OrderDate": v, "TaxDate": v}))
    for i, (net, unit) in enumerate(EDGE_NET_UNIT):
        cases.append((f"edge-netunit-{i}", {**_FULL, "Net01": net, "Unit01": unit}))
    # lines only: no header key at all, the 49-line cap, and a line that
    # exists through its Net key alone
    many = {}
    for i in range(1, 60):
        nn = f"{i:02d}"
        many.update({f"Drug{nn}": f"item {i}", f"Unit{nn}": str(i), f"Net{nn}": str(2 * i)})
    cases.append(("edge-lines-cap", many))
    cases.append(("edge-lines-net-only", {"Net01": "5", "Net02": "0", "Qty03": "1"}))
    return cases


def pin_cases() -> list[tuple[str, dict]]:
    return fuzz_cases() + edge_cases()


# the run stamps differ on every run; every other column is pinned
RUN_STAMPS = ("shredding_utc_datetime", "unique_run_identifier")


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def canon(row) -> dict:
    """One collected SHREDDED_DOCUMENT row -> JSON-safe dict without the
    run stamps; floats as repr strings."""
    d = row.asDict(recursive=True)
    return {k: _canon(v) for k, v in d.items() if k not in RUN_STAMPS}
