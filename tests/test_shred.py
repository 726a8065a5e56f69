"""Unit tests for the shredder — parity with the reference semantics
(reference Horus.Functions/Engines/Processing/ProcessingEngine.cs and
HorusProcessingEngine.cs). Each case exercises a PRE000x path or quirk."""

import datetime as dt

import pyarrow as pa

from horus_spark.operators.shred import raw_arrays, shred_fast


def _raw_frame(spark, doc_ids, fields):
    # the recognize kernel's own fields -> raw bridge builds the input
    header, lines = raw_arrays(fields)
    return spark.createDataFrame(
        pa.table({"doc_id": doc_ids, "header_raw": header, "lines_raw": lines})
    )


def _shred_one(spark, fields: dict):
    return shred_fast(_raw_frame(spark, ["abc-INVOICE-1.pdf"], [fields])).collect()[0]


FULL = {
    "Inv": "30001",
    "TaxDate": "22/07/2020",
    "AccountNo": "OXOUHJ",
    "PostCode": "25150 WV",
    "Total": "12085.99",
    "VAT": "1000.45",
    "Shipping": "1812.90",
    "TotalIncVAT": "14899.34",
    "Drug01": "CFGC-99459 Flerovium (Fl) 289",
    "Qty01": "75",
    "Unit01": "2.491",
    "Disc01": "0.0",
    "Taxable01": "x",
    "Net01": "186.82",
}


def test_header_fields(spark):
    r = _shred_one(spark, FULL)
    assert r.document_number == "30001"
    assert r.account == "OXOUHJ"
    assert r.post_code == "25150 WV"
    assert r.tax_date == dt.datetime(2020, 7, 22)
    assert r.net_total == 12085.99
    assert r.vat_amount == 1000.45
    assert r.shipping_total == 1812.90
    assert r.grand_total == 14899.34


def test_tax_period_not_zero_padded(spark):
    # HorusProcessingEngine.cs:42-45: Year + Month with no padding
    r = _shred_one(spark, {**FULL, "TaxDate": "05/01/2020"})
    assert r.tax_period == "20201"
    r = _shred_one(spark, FULL)
    assert r.tax_period == "20207"


def test_prefix_termination(spark):
    # line 03 absent hides line 04 even though present
    # (HorusProcessingEngine.cs:49-85 break-at-first-missing)
    fields = {
        **FULL,
        "Drug02": "X", "Qty02": "1", "Unit02": "1.0", "Net02": "1.0",
        "Drug04": "ghost", "Qty04": "1", "Unit04": "1.0", "Net04": "1.0",
    }
    r = _shred_one(spark, fields)
    assert [li.line_no for li in r.line_items] == ["01", "02"]


def test_line_presence_any_of_unit_net_drug(spark):
    # presence keys are Unit/Net/Drug only (ProcessingEngine.cs:15-35);
    # Qty02 alone does NOT create line 02
    r = _shred_one(spark, {**FULL, "Qty02": "5"})
    assert len(r.line_items) == 1
    # Net02 alone DOES
    r = _shred_one(spark, {**FULL, "Net02": "5"})
    assert len(r.line_items) == 2


def test_missing_drug_emits_two_pre0001(spark):
    # the reference calls GetString twice for Drug (LogTrace + assignment):
    # HorusProcessingEngine.cs:65,71
    fields = {k: v for k, v in FULL.items() if k != "Drug01"}
    r = _shred_one(spark, fields)
    drug_errs = [e for e in r.errors if "Drug01" in e.message]
    assert [e.severity for e in drug_errs] == ["Warning", "Terminal"]
    assert all(e.code == "PRE0001" for e in drug_errs)
    assert r.line_items[0].item_description is None
    assert not r.is_valid and r.terminal_error_count == 1


def test_zero_value_warning_pre0004(spark):
    r = _shred_one(spark, FULL)  # Disc01 = '0.0'
    zero = [e for e in r.errors if e.code == "PRE0004"]
    assert len(zero) == 1 and "Disc01" in zero[0].message
    assert zero[0].severity == "Warning"


def test_unparseable_number_pre0005_and_coalesce_zero(spark):
    r = _shred_one(spark, {**FULL, "Disc01": "3% / 12.50"})
    e = [e for e in r.errors if e.code == "PRE0005"]
    assert len(e) == 1
    assert "cannot be parsed as a number=3% / 12.50" in e[0].message
    assert r.line_items[0].discount_percent == 0.0


def test_bad_date_pre0007(spark):
    r = _shred_one(spark, {**FULL, "TaxDate": "not a date"})
    e = [e for e in r.errors if e.code == "PRE0007"]
    assert len(e) == 1
    assert "TaxDate=not a date" in e[0].message
    assert r.tax_date is None and r.tax_period is None


def test_missing_header_errors_in_order(spark):
    # OrderNO and OrderDate are never generated (FIXTURES.md §3) —
    # they exercise PRE0001/PRE0006 and come FIRST in error order
    r = _shred_one(spark, FULL)
    assert r.errors[0].code == "PRE0001" and "OrderNO" in r.errors[0].message
    assert r.errors[1].code == "PRE0006" and "OrderDate" in r.errors[1].message


def test_quote_sanitization(spark):
    # '\'' -> '@Illegal@' (ProcessingEngine.cs:37-40)
    r = _shred_one(spark, {**FULL, "Drug01": "O'Brien's reagent"})
    assert r.line_items[0].item_description == "O@Illegal@Brien@Illegal@s reagent"


def test_line_quantity_is_string_roundtrip(spark):
    r = _shred_one(spark, FULL)
    assert r.line_items[0].line_quantity == "75"
    r = _shred_one(spark, {**FULL, "Qty01": "2.50"})
    assert r.line_items[0].line_quantity == "2.50"
    # missing qty -> '' (C# Nullable<decimal>.ToString())
    fields = {k: v for k, v in FULL.items() if k != "Qty01"}
    r = _shred_one(spark, fields)
    assert r.line_items[0].line_quantity == ""


def test_calculated_line_quantity(spark):
    # NetAmount/UnitPrice when both nonzero else 0 (DocumentLineItem.cs:18-26)
    r = _shred_one(spark, FULL)
    assert abs(r.line_items[0].calculated_line_quantity - 186.82 / 2.491) < 1e-9
    r = _shred_one(spark, {**FULL, "Net01": "0"})
    assert r.line_items[0].calculated_line_quantity == 0.0


def test_taxable_indicator_null_when_absent(spark):
    fields = {k: v for k, v in FULL.items() if k != "Taxable01"}
    r = _shred_one(spark, fields)
    assert r.line_items[0].taxable_indicator is None
    e = [e for e in r.errors if "Taxable01" in e.message]
    assert len(e) == 1 and e[0].code == "PRE0001" and e[0].severity == "Warning"


def test_number_with_spaces_parses(spark):
    # space-strip before parse (ProcessingEngine.cs:86)
    r = _shred_one(spark, {**FULL, "Total": "12 085.99"})
    assert r.net_total == 12085.99


def test_max_49_lines(spark):
    fields = dict(FULL)
    for i in range(2, 60):
        nn = f"{i:02d}"
        fields[f"Drug{nn}"] = f"item {i}"
        fields[f"Qty{nn}"] = "1"
        fields[f"Unit{nn}"] = "1.0"
        fields[f"Net{nn}"] = "1.0"
    r = _shred_one(spark, fields)
    assert len(r.line_items) == 49  # hard cap (BaseConstants.cs:9 minus 1)


def test_subword_count_matches_reference_segmentation(spark):
    """BPE-ish pre-tokenizer: Spark regexp_count must agree with Python re
    on contraction/digit/punct segmentation (same pattern drives the
    DuckDB oracle)."""
    import re

    from pyspark.sql import functions as F

    from horus_spark.operators.textstats import SUBWORD_RE, subword_count_expr

    texts = [
        "it's 42 foo-bar don't",
        "Hello, world! 2026-08-17",
        "   ",
        "one two three",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.n for r in df.select(subword_count_expr(F.col("text")).alias("n")).collect()]
    exp = [len(re.findall(SUBWORD_RE, t)) for t in texts]
    assert got == exp


def test_shred_fast_schema_has_run_stamps(spark):
    """shred_fast output must match schema.SHREDDED_DOCUMENT even when the
    caller provides no run stamps: shredding_utc_datetime /
    unique_run_identifier are emitted unconditionally (NULL), like
    thumbprint/model_id."""
    df = _raw_frame(spark, ["d1"], [{"OrderNO": "PO1", "Inv": "INV1"}])
    out = shred_fast(df)
    assert "shredding_utc_datetime" in out.columns
    assert "unique_run_identifier" in out.columns
    dt_types = dict(out.dtypes)
    assert dt_types["shredding_utc_datetime"] == "timestamp"
    assert dt_types["unique_run_identifier"] == "string"
    row = out.collect()[0]
    assert row.shredding_utc_datetime is None
    assert row.unique_run_identifier is None
