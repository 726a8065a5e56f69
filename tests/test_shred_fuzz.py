"""Differential fuzz: the independent Python mini-shredder
(fixtures/oracle_shred.py — the q19 golden oracle) and the production
shredder input path (the kernel's raw_arrays bridge, then shred_fast)
must agree on randomized field maps, including shapes the generator never
produces: missing header keys, line holes (prefix termination), garbage
numbers, commas/spaces, zero values, quote sanitization. Error rows are
compared as (code, severity) sequences, so their emission order is checked
too."""

import random

import pyarrow as pa

from horus_spark.fixtures.oracle_shred import expected_shred
from horus_spark.operators.shred import raw_arrays, shred_fast

NUMS_OK = ["0", "12.5", "1,234.56", " 12 ", "+5", "-0.1", ".5", "00.10", "7", "12.", "0.00", "1 2 3"]
NUMS_BAD = ["abc", "12a", "--3", "1.2.3", "£5", "NaN?", "1e5", ".", "Infinity", "١٢"]
DATES_OK = ["22/07/2020", "01/12/2019 13:01:02", "2020-01-01", "2021-02-28 06:05:04"]
DATES_BAD = ["not-a-date", "2020-13-40", "////", "31/02/2020", "22/07/2020 25:61:00"]
STRS = ["OXOUHJ", "it's quoted", "25150 WV WAY TOO LONG POSTCODE", "x", ""]


def _random_fields(rng: random.Random) -> dict:
    f = {}
    header = [
        ("OrderNO", STRS), ("OrderDate", DATES_OK + DATES_BAD),
        ("TaxDate", DATES_OK + DATES_BAD), ("Inv", STRS), ("AccountNo", STRS),
        ("Total", NUMS_OK + NUMS_BAD), ("VAT", NUMS_OK + NUMS_BAD),
        ("Shipping", NUMS_OK + NUMS_BAD), ("TotalIncVAT", NUMS_OK + NUMS_BAD),
        ("PostCode", STRS),
    ]
    for key, pool in header:
        if rng.random() < 0.75:
            f[key] = rng.choice(pool)
    n_declared = rng.randint(0, 6)
    for i in range(1, n_declared + 1):
        nn = f"{i:02d}"
        if rng.random() < 0.1:
            continue  # a HOLE — later lines must become invisible
        for prefix, pool in [
            ("Drug", STRS), ("Qty", NUMS_OK + NUMS_BAD), ("Unit", NUMS_OK + NUMS_BAD),
            ("Vat", STRS), ("Disc", NUMS_OK + NUMS_BAD),
            ("Taxable", ["x", ""]), ("Net", NUMS_OK + NUMS_BAD),
        ]:
            if rng.random() < 0.85:
                f[f"{prefix}{nn}"] = rng.choice(pool)
    return f


def test_differential_fuzz_python_oracle_vs_spark(spark):
    rng = random.Random(20260817)
    cases = [(f"doc-{i}", _random_fields(rng)) for i in range(300)]
    # the recognize kernel's own fields -> raw bridge builds the input
    header, lines = raw_arrays([f for _, f in cases])
    df = spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in cases], "header_raw": header, "lines_raw": lines})
    )
    got = {r.doc_id: r for r in shred_fast(df).collect()}
    n_checked = 0
    for doc_id, fields in cases:
        exp = expected_shred(fields)
        r = got[doc_id]
        ctx = (doc_id, fields)
        assert len(r.line_items) == exp["n_lines"], ctx
        assert [(e.code, e.severity) for e in r.errors] == exp["errors"], ctx
        assert r.is_valid == exp["is_valid"], ctx
        assert r.document_number == exp["document_number"], ctx
        assert r.account == exp["account"], ctx
        assert r.post_code == exp["post_code"], ctx
        assert r.tax_period == exp["tax_period"], ctx
        assert round(r.net_total, 2) == exp["net_total"], ctx
        assert round(r.grand_total, 2) == exp["grand_total"], ctx
        n_checked += 1
    assert n_checked == 300
