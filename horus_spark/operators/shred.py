"""Document shredder — fields -> typed document + line items + error rows.

Re-expresses the reference's shredding semantics
(reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:13-90
and ProcessingEngine.cs:15-130) as PURE Spark SQL expressions.

One raw-field table drives it: `_HEADER_KEYS` and `_LINE_KEYS` declare each
field once — its raw column, reference key, kind (str / num / numtext /
date) and output column — and `_LINE_READS` the per-line reads in emission
order. The raw struct types, the Arrow bridge, every value, every error row
and the output projection are derived from them.

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
  megamorphic method that ran 3x SLOWER than interpreted. Each field read
  (`_read`) builds its parse once and shares it between the value and the
  error checks.

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

# GetDate formats, tried in order (dmy per fields.json), then Spark's default
_DATE_FORMATS = [
    "dd/MM/yyyy",
    "dd/MM/yyyy HH:mm:ss",
    "M/d/yyyy h:mm:ss a",
    "M/d/yyyy H:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
]

LINE_ITEM_TYPE = ArrayType(S.LINE_ITEM).simpleString()
ERRORS_TYPE = ArrayType(S.DOC_ERROR).simpleString()

# ------------------------------------------------------------- raw contract
# (raw column, reference key, kind, output column); a NULL raw value =
# element missing. Header rows are in the reference's read order, which is
# also the error emission order. Line keys are prefixes, suffixed 01..49;
# their order is the lines_raw struct's field order.
_HEADER_KEYS = [
    ("order_number", C.ORDER_NUMBER, "str", "order_number"),
    ("order_date", C.ORDER_DATE, "date", "order_date"),
    ("tax_date", C.TAX_DATE, "date", "tax_date"),
    ("inv", C.INVOICE_NUMBER, "str", "document_number"),
    ("account", C.ACCOUNT, "str", "account"),
    ("net_total", C.NET_TOTAL, "num", "net_total"),
    ("vat_amount", C.VAT_AMOUNT, "num", "vat_amount"),
    ("shipping_total", C.SHIPPING_TOTAL, "num", "shipping_total"),
    ("grand_total", C.GRAND_TOTAL, "num", "grand_total"),
    ("post_code", C.POST_CODE, "str", "post_code"),
]
_LINE_KEYS = [
    ("drug", C.LINE_ITEM_PREFIX, "str", "item_description"),
    ("qty", C.QUANTITY_PREFIX, "numtext", "line_quantity"),
    ("unit", C.UNIT_PRICE_PREFIX, "num", "unit_price"),
    ("vat", C.VAT_CODE_PREFIX, "str", "vat_code"),
    ("disc", C.DISCOUNT_PERCENT_PREFIX, "num", "discount_percent"),
    ("taxable", C.TAXABLE_PREFIX, "str", "taxable_indicator"),
    ("net", C.NET_PRICE_PREFIX, "num", "net_amount"),
]
# per-line reads in emission order: Drug is read twice, LogTrace then read
# (HorusProcessingEngine.cs:65-75)
_LINE_READS = [
    ("drug", E.SEV_WARNING),
    ("drug", E.SEV_TERMINAL),
    ("qty", E.SEV_WARNING),
    ("net", E.SEV_TERMINAL),
    ("unit", E.SEV_TERMINAL),
    ("vat", E.SEV_WARNING),
    ("disc", E.SEV_WARNING),
    ("taxable", E.SEV_WARNING),
]
# a line exists iff its Drug, Unit or Net key is present
_LINE_PRESENCE = tuple(p for c, p, *_ in _LINE_KEYS if c in ("drug", "unit", "net"))
_HEADER_T = "struct<" + ",".join(f"{c}:string" for c, *_ in _HEADER_KEYS) + ">"
_LINES_T = "array<struct<" + ",".join(f"{c}:string" for c, *_ in _LINE_KEYS) + ">>"


@functools.cache
def _arrow_raw_types():
    """Arrow (header_raw struct, lines_raw element struct) types."""
    import pyarrow as pa

    return (
        pa.struct([(c, pa.string()) for c, *_ in _HEADER_KEYS]),
        pa.struct([(c, pa.string()) for c, *_ in _LINE_KEYS]),
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
    header_cols: dict[str, list] = {c: [None] * n for c, *_ in _HEADER_KEYS}
    line_cols: dict[str, list] = {c: [] for c, *_ in _LINE_KEYS}
    line_offsets = [0]
    drug, unit, net = _LINE_PRESENCE
    for d, fd in enumerate(fields):
        for col, key, *_ in _HEADER_KEYS:
            header_cols[col][d] = fd.get(key)
        for i in range(1, C.MAX_DOCUMENT_LINES):
            nn = f"{i:02d}"
            if not (unit + nn in fd or net + nn in fd or drug + nn in fd):
                break
            for col, prefix, *_ in _LINE_KEYS:
                line_cols[col].append(fd.get(prefix + nn))
        line_offsets.append(len(line_cols["drug"]))

    header_t, line_t = _arrow_raw_types()
    header_arr = pa.StructArray.from_arrays(
        [pa.array(header_cols[c], pa.string()) for c, *_ in _HEADER_KEYS],
        fields=list(header_t),
    )
    line_values = pa.StructArray.from_arrays(
        [pa.array(line_cols[c], pa.string()) for c, *_ in _LINE_KEYS],
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


# the reference getter and its element-missing code, per kind
_GETTERS = {
    "str": ("GetString", E.CODE_STRING_NULL),
    "num": ("GetNumber", E.CODE_NUMBER_NULL),
    "numtext": ("GetNumber", E.CODE_NUMBER_NULL),
    "date": ("GetDate", E.CODE_DATE_NULL),
}


def _read(
    kind: str, raw: Column, key: Column | None = None, severity: str | None = None
) -> tuple[Column, Column | None]:
    """One reference getter call on a nullable raw-text Column (NULL <=>
    element missing) -> (value, error).

    value by kind: 'str' the sanitized text; 'num' the parsed number
    `?? 0`; 'numtext' the C# decimal round-trip string of the parsed
    number, '' when unparseable; 'date' the parsed timestamp or NULL.
    error: the PRE000x row the read emits (NULL when none), checks in the
    getter's order; None when `key` is None (value only)."""
    if kind == "str":
        value = F.when(raw.isNotNull(), _sanitize(raw))
    elif kind == "date":
        r = F.trim(raw)
        value = parsed = F.coalesce(
            *[F.try_to_timestamp(r, F.lit(f)) for f in _DATE_FORMATS],
            F.try_to_timestamp(r),
        )
    else:
        cleaned = F.replace(F.trim(raw), F.lit(" "), F.lit(""))
        ok = cleaned.rlike(_NUM_RE)
        digits = F.replace(cleaned, F.lit(","), F.lit(""))
        parsed = F.when(raw.isNotNull() & ok, digits.cast("double"))
        if kind == "num":
            value = F.coalesce(parsed, F.lit(0.0))
        else:
            norm = F.regexp_replace(digits, r"^([+-]?)0+([0-9])", r"$1$2")
            norm = F.regexp_replace(norm, r"^([+-]?)\.", r"$10.")
            value = F.when(parsed.isNotNull(), norm).otherwise(F.lit(""))
    if key is None:
        return value, None

    getter, null_code = _GETTERS[kind]
    error = F.when(
        raw.isNull(),
        _err(
            null_code,
            severity,
            F.concat(F.lit(f"{getter}() Specified Element "), key, F.lit(" is null")),
        ),
    )
    if kind == "date":
        error = error.when(
            parsed.isNull(),
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
    elif kind != "str":
        error = error.when(
            ~ok,
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
        ).when(
            parsed == 0,
            _err(
                E.CODE_NUMBER_ZERO,
                E.SEV_WARNING,  # zero warning is ALWAYS Warning severity
                F.concat(F.lit("GetNumber() "), key, F.lit(" exists but its value is zero")),
            ),
        )
    return value, error


def _unread(kind: str) -> Column:
    """C# default of a field the engine never reads: 0 for a number, NULL
    for a string."""
    return F.lit(0.0) if kind == "num" else F.lit(None).cast("string")


# ------------------------------------------------------------------ core


def shred_fast(df: DataFrame, carry: list[str] | None = None, engine=None) -> DataFrame:
    """Shred from the raw columns raw_arrays builds:
    header_raw: struct<order_number,order_date,tax_date,inv,account,
                       net_total,vat_amount,shipping_total,grand_total,
                       post_code : string> (NULL field = element missing)
    lines_raw:  array<struct<drug,qty,unit,vat,disc,taxable,net : string>>
                (already prefix-terminated, max 49 entries).
    Output columns follow schema.SHREDDED_DOCUMENT, then `carry`. The run
    stamps (file_name, thumbprint, model_id, ...) pass through when present
    and are typed NULLs otherwise, except file_name (defaults to doc_id)
    and time_to_shred_ms (defaults to 0). `engine` (engines.EngineSpec or
    name, 'horus' default) selects which field channels exist — the
    reference's pluggable IProcessingEngine surface. Channels an engine
    omits keep their C# default values (0 / null) and emit no error rows,
    so the output schema is engine-invariant."""
    engine = get_engine(engine) if engine is not None else HORUS_ENGINE
    unread = {
        col
        for col, read in (
            ("shipping_total", engine.include_shipping),
            ("disc", engine.include_discount),
            ("taxable", engine.include_taxable),
        )
        if not read
    }

    h = F.col("header_raw")
    lines_raw = F.col("lines_raw")
    out: dict[str, Column] = {"doc_id": F.col("doc_id")}
    header_errors = []
    for col, key, kind, name in _HEADER_KEYS:
        if col in unread:
            out[name] = _unread(kind)
            continue
        out[name], error = _read(kind, h[col], F.lit(key), E.SEV_WARNING)
        header_errors.append(error)
    tax_date = out["tax_date"]
    out["tax_period"] = F.when(
        tax_date.isNotNull(),
        F.concat(F.year(tax_date).cast("string"), F.month(tax_date).cast("string")),
    )

    line_keys = {col: (prefix, kind) for col, prefix, kind, _ in _LINE_KEYS}

    def line_no(i: Column) -> Column:
        return F.lpad((i + 1).cast("string"), 2, "0")

    def line_struct(l: Column, i: Column) -> Column:
        v = {"line_no": line_no(i)}
        for col, _, kind, name in _LINE_KEYS:
            v[name] = _unread(kind) if col in unread else _read(kind, l[col])[0]
        net, unit = v["net_amount"], v["unit_price"]
        v["calculated_line_quantity"] = (
            F.when((net != 0) & (unit != 0), net / unit).otherwise(F.lit(0.0))
        )
        return F.struct(*[v[f].alias(f) for f in S.LINE_ITEM.fieldNames()])

    def line_errors(l: Column, i: Column) -> Column:
        errors = []
        for col, severity in _LINE_READS:
            if col in unread:
                continue
            prefix, kind = line_keys[col]
            key = F.concat(F.lit(prefix), line_no(i))
            errors.append(_read(kind, l[col], key, severity)[1])
        return F.array(*errors)

    all_errors_expr = F.filter(
        F.concat(F.array(*header_errors), F.flatten(F.transform(lines_raw, line_errors))),
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
    out.update(
        terminal_error_count=terminal_count,
        warning_error_count=warning_count,
        is_valid=terminal_count == 0,
        line_items=F.transform(lines_raw, line_struct),
        errors=all_errors,
    )

    # carried stamps: the recognizer outcome channel (Models/Document.cs:
    # 20-105), the measured per-doc extraction wall time (TimeToShred,
    # HorusProcessingEngine.cs:15-16,87-88) and the run stamps
    # (HorusSql.cs:244-249)
    absent = {"file_name": F.col("doc_id"), "time_to_shred_ms": F.lit(0.0)}
    cols = set(df.columns)

    def column(f) -> Column:
        if f.name in out:
            c = out[f.name]
        elif f.name in cols:
            c = F.col(f.name)
        else:
            c = absent.get(f.name, F.lit(None).cast(f.dataType))
        return c.alias(f.name)

    return df.select(
        *[column(f) for f in S.SHREDDED_DOCUMENT.fields],
        *[F.col(c) for c in carry or []],
    )
