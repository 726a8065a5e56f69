"""Document shredder — fields -> typed document + line items + error rows.

Re-expresses the reference's shredding semantics
(reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:13-90
and ProcessingEngine.cs:15-130) as PURE Spark SQL expressions.

One input path, in two steps:

- raw_arrays(fields): the fields -> raw bridge. Per-document fields dicts
  (field key -> text, the reference's recognizer shape) become the
  header_raw struct and the prefix-terminated lines_raw array, as Arrow
  arrays. The recognize kernel calls it on every chunk; this module holds
  the whole raw contract (column names and order, presence keys, the
  49-line cap).
- shred_fast(df): header_raw/lines_raw -> typed documents, as expressions
  only. Reading pre-parsed raw columns keeps the expression tree small (no
  per-key map scans, no 49-step presence aggregate), which keeps
  whole-stage codegen JIT-friendly — a map-reading variant generated a
  megamorphic method that ran 3x SLOWER than interpreted.

Parity points preserved exactly:
- quote sanitization '\'' -> '@Illegal@' (ProcessingEngine.cs:37-40)
- PRE0001..PRE0007 error rows, severities, message text and ORDER of
  emission: header fields in extraction order (HorusProcessingEngine.cs:28-37:
  OrderNO, OrderDate, TaxDate, Inv, AccountNo, Total, VAT, Shipping,
  TotalIncVAT, PostCode), then per line: Drug logged at Warning then read at
  Terminal (the reference calls GetString twice — log.LogTrace at
  HorusProcessingEngine.cs:65 — so a missing Drug yields TWO PRE0001 rows),
  Qty, Net(Terminal), Unit(Terminal), Vat, Disc, Taxable.
- prefix-termination line scan (raw_arrays): line i exists iff any of
  Unit{i:02d}, Net{i:02d}, Drug{i:02d} is present as a key; the scan BREAKS
  at the first absent line (max 49) — later lines are invisible even if
  present (HorusProcessingEngine.cs:49-85, ProcessingEngine.cs:15-35).
- LineQuantity is a STRING: the decimal-normalized text if parseable else ''
  (C# Nullable<decimal>.ToString(); HorusProcessingEngine.cs:69).
- numeric coalesce `?? 0`; PRE0004 zero-value warning is always Warning.
- TaxPeriod = year + month with NO zero padding (HorusProcessingEngine.cs:42-45).
- CalculatedLineQuantity = NetAmount/UnitPrice when both nonzero else 0
  (Models/DocumentLineItem.cs:18-26).
- IsValid / error counts (Models/Document.cs:42-57).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from horus_spark import constants as C
from horus_spark import errors as E
from horus_spark import schema as S
from horus_spark.engines import HORUS_ENGINE, get_engine

# C#-Decimal.TryParse-compatible numeric shape after space stripping;
# allows thousands commas (stripped before cast).
_NUM_RE = r"^[+-]?([0-9][0-9,]*\.?[0-9]*|\.[0-9]+)$"

LINE_ITEM_TYPE = ArrayType(S.LINE_ITEM).simpleString()
ERRORS_TYPE = ArrayType(S.DOC_ERROR).simpleString()

# ------------------------------------------------------------- raw contract
# raw columns -> the field keys they read (header) or the per-line key
# prefixes (lines, suffixed 01..49); a NULL raw value = element missing
_HEADER_KEYS = [
    ("order_number", C.ORDER_NUMBER), ("order_date", C.ORDER_DATE),
    ("tax_date", C.TAX_DATE), ("inv", C.INVOICE_NUMBER), ("account", C.ACCOUNT),
    ("net_total", C.NET_TOTAL), ("vat_amount", C.VAT_AMOUNT),
    ("shipping_total", C.SHIPPING_TOTAL), ("grand_total", C.GRAND_TOTAL),
    ("post_code", C.POST_CODE),
]
_LINE_KEYS = [
    ("drug", C.LINE_ITEM_PREFIX), ("qty", C.QUANTITY_PREFIX),
    ("unit", C.UNIT_PRICE_PREFIX), ("vat", C.VAT_CODE_PREFIX),
    ("disc", C.DISCOUNT_PERCENT_PREFIX), ("taxable", C.TAXABLE_PREFIX),
    ("net", C.NET_PRICE_PREFIX),
]
_HEADER_T = "struct<" + ",".join(f"{c}:string" for c, _ in _HEADER_KEYS) + ">"
_LINES_T = "array<struct<" + ",".join(f"{c}:string" for c, _ in _LINE_KEYS) + ">>"


@functools.cache
def _arrow_raw_types():
    """Arrow (header_raw struct, lines_raw element struct) types."""
    import pyarrow as pa

    return (
        pa.struct([(c, pa.string()) for c, _ in _HEADER_KEYS]),
        pa.struct([(c, pa.string()) for c, _ in _LINE_KEYS]),
    )


def raw_arrays(fields: list[dict]):
    """The fields -> raw bridge: one fields dict per document -> (header_raw
    StructArray, lines_raw ListArray), row for row.

    Columnar-first: flat value/offset lists straight into Arrow arrays,
    with no per-doc header/line dicts for pyarrow to re-infer row by row
    (per-object allocation dominated memory-allocator traffic at 32-way
    parallelism).

    Lines are prefix-terminated, mirroring the reference's presence + break
    semantics (ProcessingEngine.cs:15-35, HorusProcessingEngine.cs:49-85):
    line nn exists iff Unit/Net/Drug nn is present, for nn in 01..49."""
    import pyarrow as pa

    n = len(fields)
    header_cols: dict[str, list] = {c: [None] * n for c, _ in _HEADER_KEYS}
    line_cols: dict[str, list] = {c: [] for c, _ in _LINE_KEYS}
    line_offsets = [0]
    for d, fd in enumerate(fields):
        for col, key in _HEADER_KEYS:
            header_cols[col][d] = fd.get(key)
        for i in range(1, C.MAX_DOCUMENT_LINES):
            nn = f"{i:02d}"
            if not (
                C.UNIT_PRICE_PREFIX + nn in fd
                or C.NET_PRICE_PREFIX + nn in fd
                or C.LINE_ITEM_PREFIX + nn in fd
            ):
                break
            for col, prefix in _LINE_KEYS:
                line_cols[col].append(fd.get(prefix + nn))
        line_offsets.append(len(line_cols["drug"]))

    header_t, line_t = _arrow_raw_types()
    header_arr = pa.StructArray.from_arrays(
        [pa.array(header_cols[c], pa.string()) for c, _ in _HEADER_KEYS],
        fields=list(header_t),
    )
    line_values = pa.StructArray.from_arrays(
        [pa.array(line_cols[c], pa.string()) for c, _ in _LINE_KEYS],
        fields=list(line_t),
    )
    lines_arr = pa.ListArray.from_arrays(
        pa.array(line_offsets, pa.int32()), line_values
    )
    return header_arr, lines_arr


def _err(code: str, severity: str, message: Column) -> Column:
    return F.struct(
        F.lit(code).alias("code"),
        F.lit(severity).alias("severity"),
        message.alias("message"),
    )


def _sanitize(col: Column) -> Column:
    # literal replace — no regex engine in the per-field hot path
    return F.replace(col, F.lit("'"), F.lit(E.ILLEGAL_MARKER))


# ---------------------------------------------------------------- raw helpers
# Each operates on a nullable raw-text Column; NULL raw <=> element missing.


def str_value(raw: Column) -> Column:
    return F.when(raw.isNotNull(), _sanitize(raw))


def str_error(raw: Column, key: Column, severity: str) -> Column:
    return F.when(
        raw.isNull(),
        _err(
            E.CODE_STRING_NULL,
            severity,
            F.concat(F.lit("GetString() Specified Element "), key, F.lit(" is null")),
        ),
    )


def _num_cleaned(raw: Column) -> Column:
    return F.replace(F.trim(raw), F.lit(" "), F.lit(""))


def num_parse_ok(raw: Column) -> Column:
    return _num_cleaned(raw).rlike(_NUM_RE)


def num_value(raw: Column) -> Column:
    """Parsed value or NULL (caller applies `?? 0` where the reference does)."""
    return F.when(
        raw.isNotNull() & num_parse_ok(raw),
        F.replace(_num_cleaned(raw), F.lit(","), F.lit("")).cast("double"),
    )


def num_normalized_string(raw: Column) -> Column:
    """C# decimal round-trip string of the parsed value ('' when null)."""
    cleaned = F.replace(_num_cleaned(raw), F.lit(","), F.lit(""))
    norm = F.regexp_replace(cleaned, r"^([+-]?)0+([0-9])", r"$1$2")
    norm = F.regexp_replace(norm, r"^([+-]?)\.", r"$10.")
    return F.when(num_value(raw).isNotNull(), norm).otherwise(F.lit(""))


def num_error(raw: Column, key: Column, severity: str) -> Column:
    return (
        F.when(
            raw.isNull(),
            _err(
                E.CODE_NUMBER_NULL,
                severity,
                F.concat(F.lit("GetNumber() Specified Element "), key, F.lit(" is null")),
            ),
        )
        .when(
            ~num_parse_ok(raw),
            _err(
                E.CODE_NUMBER_PARSE,
                severity,
                _sanitize(
                    F.concat(
                        F.lit("GetNumber() "),
                        key,
                        F.lit(" exists but cannot be parsed as a number="),
                        raw,
                    )
                ),
            ),
        )
        .when(
            num_value(raw) == 0,
            _err(
                E.CODE_NUMBER_ZERO,
                E.SEV_WARNING,  # zero warning is ALWAYS Warning severity
                F.concat(F.lit("GetNumber() "), key, F.lit(" exists but its value is zero")),
            ),
        )
    )


def date_value(raw: Column) -> Column:
    r = F.trim(raw)
    return F.coalesce(
        F.try_to_timestamp(r, F.lit("dd/MM/yyyy")),
        F.try_to_timestamp(r, F.lit("dd/MM/yyyy HH:mm:ss")),  # dmy per fields.json
        F.try_to_timestamp(r, F.lit("M/d/yyyy h:mm:ss a")),
        F.try_to_timestamp(r, F.lit("M/d/yyyy H:mm:ss")),
        F.try_to_timestamp(r, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(r, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(r),
    )


def date_error(raw: Column, key: Column, severity: str) -> Column:
    return F.when(
        raw.isNull(),
        _err(
            E.CODE_DATE_NULL,
            severity,
            F.concat(F.lit("GetDate() Specified Element "), key, F.lit(" is null")),
        ),
    ).when(
        date_value(raw).isNull(),
        _err(
            E.CODE_DATE_PARSE,
            severity,
            _sanitize(
                F.concat(
                    F.lit("GetDate() Specified Element "),
                    key,
                    F.lit(" does not contain a valid date: TaxDate="),
                    raw,
                )
            ),
        ),
    )


# ------------------------------------------------------------------ core


def shred_fast(df: DataFrame, carry: list[str] | None = None, engine=None) -> DataFrame:
    """Shred from the raw columns raw_arrays builds:
    header_raw: struct<order_number,order_date,tax_date,inv,account,
                       net_total,vat_amount,shipping_total,grand_total,
                       post_code : string> (NULL field = element missing)
    lines_raw:  array<struct<drug,qty,unit,vat,disc,taxable,net : string>>
                (already prefix-terminated, max 49 entries).
    `carry` columns pass through. `engine` (engines.EngineSpec or name,
    'horus' default) selects which field channels exist — the reference's
    pluggable IProcessingEngine surface. Channels an engine omits keep
    their C# default values (0 / null) and emit no error rows, so the
    output schema is engine-invariant."""
    engine = get_engine(engine) if engine is not None else HORUS_ENGINE
    carry = carry or []
    cols = df.columns

    def k(name: str) -> Column:
        return F.lit(name)

    h = F.col("header_raw")
    lines_raw = F.col("lines_raw")
    order_number = str_value(h["order_number"])
    order_date = date_value(h["order_date"])
    tax_date = date_value(h["tax_date"])
    document_number = str_value(h["inv"])
    account = str_value(h["account"])
    net_total = F.coalesce(num_value(h["net_total"]), F.lit(0.0))
    vat_amount = F.coalesce(num_value(h["vat_amount"]), F.lit(0.0))
    shipping_total = (
        F.coalesce(num_value(h["shipping_total"]), F.lit(0.0))
        if engine.include_shipping
        else F.lit(0.0)  # SampleCustomer never reads Shipping -> C# default
    )
    grand_total = F.coalesce(num_value(h["grand_total"]), F.lit(0.0))
    post_code = str_value(h["post_code"])
    tax_period = F.when(
        tax_date.isNotNull(),
        F.concat(F.year(tax_date).cast("string"), F.month(tax_date).cast("string")),
    )

    header_error_entries = [
        str_error(h["order_number"], k(C.ORDER_NUMBER), E.SEV_WARNING),
        date_error(h["order_date"], k(C.ORDER_DATE), E.SEV_WARNING),
        date_error(h["tax_date"], k(C.TAX_DATE), E.SEV_WARNING),
        str_error(h["inv"], k(C.INVOICE_NUMBER), E.SEV_WARNING),
        str_error(h["account"], k(C.ACCOUNT), E.SEV_WARNING),
        num_error(h["net_total"], k(C.NET_TOTAL), E.SEV_WARNING),
        num_error(h["vat_amount"], k(C.VAT_AMOUNT), E.SEV_WARNING),
    ]
    if engine.include_shipping:
        header_error_entries.append(
            num_error(h["shipping_total"], k(C.SHIPPING_TOTAL), E.SEV_WARNING)
        )
    header_error_entries += [
        num_error(h["grand_total"], k(C.GRAND_TOTAL), E.SEV_WARNING),
        str_error(h["post_code"], k(C.POST_CODE), E.SEV_WARNING),
    ]
    header_errors = F.array(*header_error_entries)

    def lkey(prefix: str, i: Column) -> Column:
        return F.concat(F.lit(prefix), F.lpad((i + 1).cast("string"), 2, "0"))

    def line_struct(l: Column, i: Column) -> Column:
        net = F.coalesce(num_value(l["net"]), F.lit(0.0))
        unit = F.coalesce(num_value(l["unit"]), F.lit(0.0))
        return F.struct(
            F.lpad((i + 1).cast("string"), 2, "0").alias("line_no"),
            str_value(l["drug"]).alias("item_description"),
            num_normalized_string(l["qty"]).alias("line_quantity"),
            unit.alias("unit_price"),
            str_value(l["vat"]).alias("vat_code"),
            (
                str_value(l["taxable"])
                if engine.include_taxable
                else F.lit(None).cast("string")
            ).alias("taxable_indicator"),
            net.alias("net_amount"),
            F.when((net != 0) & (unit != 0), net / unit)
            .otherwise(F.lit(0.0))
            .alias("calculated_line_quantity"),
            (
                F.coalesce(num_value(l["disc"]), F.lit(0.0))
                if engine.include_discount
                else F.lit(0.0)
            ).alias("discount_percent"),
        )

    def line_errors(l: Column, i: Column) -> Column:
        entries = [
            str_error(l["drug"], lkey(C.LINE_ITEM_PREFIX, i), E.SEV_WARNING),  # LogTrace
            str_error(l["drug"], lkey(C.LINE_ITEM_PREFIX, i), E.SEV_TERMINAL),
            num_error(l["qty"], lkey(C.QUANTITY_PREFIX, i), E.SEV_WARNING),
            num_error(l["net"], lkey(C.NET_PRICE_PREFIX, i), E.SEV_TERMINAL),
            num_error(l["unit"], lkey(C.UNIT_PRICE_PREFIX, i), E.SEV_TERMINAL),
            str_error(l["vat"], lkey(C.VAT_CODE_PREFIX, i), E.SEV_WARNING),
        ]
        if engine.include_discount:
            entries.append(
                num_error(l["disc"], lkey(C.DISCOUNT_PERCENT_PREFIX, i), E.SEV_WARNING)
            )
        if engine.include_taxable:
            entries.append(
                str_error(l["taxable"], lkey(C.TAXABLE_PREFIX, i), E.SEV_WARNING)
            )
        return F.array(*entries)

    line_items = F.transform(lines_raw, line_struct)
    all_errors_expr = F.filter(
        F.concat(header_errors, F.flatten(F.transform(lines_raw, line_errors))),
        lambda e: e.isNotNull(),
    )
    # Stage the error array in its own projection: higher-order functions are
    # CodegenFallback (interpreted), and inlining this tree into the errors
    # column AND both counts would evaluate it three times per row.
    # CollapseProject keeps the split because the alias is non-cheap and
    # referenced more than once.
    df = df.withColumn("__all_errors", all_errors_expr)
    all_errors = F.col("__all_errors")

    terminal_count = F.size(F.filter(all_errors, lambda e: e["severity"] == E.SEV_TERMINAL))
    warning_count = F.size(F.filter(all_errors, lambda e: e["severity"] == E.SEV_WARNING))

    return df.select(
        F.col("doc_id"),
        (F.col("file_name") if "file_name" in cols else F.col("doc_id")).alias("file_name"),
        document_number.alias("document_number"),
        order_number.alias("order_number"),
        order_date.alias("order_date"),
        tax_date.alias("tax_date"),
        tax_period.alias("tax_period"),
        account.alias("account"),
        post_code.alias("post_code"),
        net_total.alias("net_total"),
        vat_amount.alias("vat_amount"),
        shipping_total.alias("shipping_total"),
        grand_total.alias("grand_total"),
        (F.col("thumbprint") if "thumbprint" in cols else F.lit(None).cast("string")).alias(
            "thumbprint"
        ),
        (F.col("model_id") if "model_id" in cols else F.lit(None).cast("string")).alias(
            "model_id"
        ),
        (
            F.col("model_version") if "model_version" in cols else F.lit(None).cast("string")
        ).alias("model_version"),
        # recognizer outcome channel (reference Models/Document.cs:20-105)
        (
            F.col("recognizer_status")
            if "recognizer_status" in cols
            else F.lit(None).cast("string")
        ).alias("recognizer_status"),
        (
            F.col("recognizer_errors")
            if "recognizer_errors" in cols
            else F.lit(None).cast("array<string>")
        ).alias("recognizer_errors"),
        terminal_count.alias("terminal_error_count"),
        warning_count.alias("warning_error_count"),
        (terminal_count == 0).alias("is_valid"),
        line_items.alias("line_items"),
        all_errors.alias("errors"),
        # measured per-doc extraction wall time (the engine's per-document
        # compute happens in the recognize kernel; the expression-based
        # shred itself adds no per-row Python) — the reference's
        # TimeToShred stopwatch (HorusProcessingEngine.cs:15-16,87-88)
        (
            F.col("time_to_shred_ms")
            if "time_to_shred_ms" in cols
            else F.lit(0.0)
        ).alias("time_to_shred_ms"),
        # run stamps (HorusSql.cs:244-249): emitted unconditionally (NULL
        # when the pipeline didn't provide them) so every shred output —
        # including shred_fast outside run_extraction — matches
        # schema.SHREDDED_DOCUMENT, same as thumbprint/model_id above
        (
            F.col("shredding_utc_datetime")
            if "shredding_utc_datetime" in cols
            else F.lit(None).cast("timestamp")
        ).alias("shredding_utc_datetime"),
        (
            F.col("unique_run_identifier")
            if "unique_run_identifier" in cols
            else F.lit(None).cast("string")
        ).alias("unique_run_identifier"),
        *[F.col(c) for c in carry],
    )
