"""Document shredder — fields -> typed document + line items + error rows.

Re-expresses the reference's shredding semantics
(reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:13-90
and ProcessingEngine.cs:15-130) in two places:

- In Arrow, inside the recognize kernel's Python worker: `shred_arrays`
  runs every GetString/GetNumber read — the header from Inv onward and
  every line read — as pyarrow.compute/numpy over a whole chunk's raw
  columns, with no per-document Python loop. It emits the typed header
  values, `line_items`, the error rows of those reads (`errors_tail`, in
  the reference's emission order) and their Terminal/Warning counts.
- In the JVM, `finish`: the three leading header reads (OrderNO, OrderDate,
  TaxDate). Spark's `try_to_timestamp` patterns are the date contract and
  have no exact pyarrow equivalent; these reads' errors lead the emission
  order, so `errors = concat(array_compact(array(e_orderno, e_orderdate,
  e_taxdate)), errors_tail)`. Also `tax_period`, the counts and the output
  projection with its run stamps.

One raw-field table drives both: `_HEADER_KEYS` and `_LINE_KEYS` declare
each field once — its raw column, reference key, kind (str / num / numtext
/ date) and output column — and `_LINE_READS` the per-line reads in
emission order. The raw struct types, the Arrow bridge, every value, every
error row and the output projection are derived from them.

The input path, in steps:

- raw_columns(n_docs, header, lines): the fields -> raw bridge. Fields
  given as columns over a chunk's documents become the header_raw struct
  and the prefix-terminated lines_raw array, as Arrow arrays. The
  recognize kernel calls it on every chunk; raw_arrays(fields) feeds it
  per-document fields dicts (field key -> text, the reference's
  recognizer shape) for tests and tools. This module holds the whole raw
  contract (column names and order, presence keys, the 49-line cap).
- shred_batch(batch): header_raw/lines_raw -> the shredded kernel columns
  (SHREDDED_FIELDS) through shred_arrays; other columns pass through. The
  recognize kernel calls it in the same worker (pipeline.run_extraction),
  and shred_raw(df) maps a staged raw frame through it with one
  mapInArrow.
- finish(df): the JVM reads and the SHREDDED_DOCUMENT projection.
  shred_fast(df) = finish(shred_raw(df)).

Parity points preserved exactly:
- quote sanitization '\'' -> '@Illegal@' (ProcessingEngine.cs:37-40), of
  string values and of the raw text inside PRE0005/PRE0007 messages
- PRE0001..PRE0007 error rows, severities, message text and ORDER of
  emission: header fields in extraction order (HorusProcessingEngine.cs:28-37:
  OrderNO, OrderDate, TaxDate, Inv, AccountNo, Total, VAT, Shipping,
  TotalIncVAT, PostCode), then per line: Drug logged at Warning then read at
  Terminal (the reference calls GetString twice — log.LogTrace at
  HorusProcessingEngine.cs:65 — so a missing Drug yields TWO PRE0001 rows),
  Qty, Net(Terminal), Unit(Terminal), Vat, Disc, Taxable.
- prefix-termination line scan (raw_columns): line i exists iff any of
  Unit{i:02d}, Net{i:02d}, Drug{i:02d} is present as a key; the scan BREAKS
  at the first absent line (max 49) — later lines are invisible even if
  present (HorusProcessingEngine.cs:49-85, ProcessingEngine.cs:15-35).
- GetNumber's text rules, as the JVM shredder applied them: every U+0020
  is stripped (and only U+0020: a tab or NBSP makes the text unparseable);
  the shape is `[+-]?(digits[digits,]*.?digits*|.digits)` with thousands
  commas dropped before the parse; one final "\\n", "\\r\\n" or "\\r" is
  allowed (Java's `$` matches before a final line terminator; the parse
  then trims it); digit strings too long for a double parse to ±inf.
- LineQuantity is a STRING: the decimal-normalized text (leading zeros
  dropped, a bare leading '.' gets a '0') if parseable else ''
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
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from horus_spark import constants as C
from horus_spark import errors as E
from horus_spark import schema as S
from horus_spark.engines import get_engine

# GetNumber's accepted shape after U+0020 stripping (thousands commas are
# dropped before the parse), with the one final line terminator Java's `$`
# lets through. RE2: `$` matches only at the end of the text.
_NUM_RE = r"^[+-]?([0-9][0-9,]*\.?[0-9]*|\.[0-9]+)(\r\n|\n|\r)?$"

# GetDate formats, tried in order (dmy per fields.json), then Spark's default
_DATE_FORMATS = [
    "dd/MM/yyyy",
    "dd/MM/yyyy HH:mm:ss",
    "M/d/yyyy h:mm:ss a",
    "M/d/yyyy H:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
]

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
# the leading reads stay in the JVM (dates); the tail runs in Arrow
_LEAD_KEYS, _TAIL_KEYS = _HEADER_KEYS[:3], _HEADER_KEYS[3:]
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
_MAX_LINES = C.MAX_DOCUMENT_LINES - 1


def _strings(keys) -> StructType:
    return StructType([StructField(c, StringType()) for c, *_ in keys])


HEADER_RAW = _strings(_HEADER_KEYS)
LINE_RAW = _strings(_LINE_KEYS)

# the shredded kernel columns: the lead reads' raw text, the typed tail
# header values, line items, the tail's error rows and their counts
SHREDDED_FIELDS = [
    StructField("header_raw", _strings(_LEAD_KEYS)),
    *[
        StructField(name, DoubleType() if kind == "num" else StringType())
        for _, _, kind, name in _TAIL_KEYS
    ],
    StructField("line_items", ArrayType(S.LINE_ITEM)),
    StructField("errors_tail", ArrayType(S.DOC_ERROR)),
    StructField("terminal_tail_count", IntegerType()),
    StructField("warning_tail_count", IntegerType()),
]
_SHREDDED = StructType(SHREDDED_FIELDS)
_RAW_COLUMNS = ("header_raw", "lines_raw")


def shredded_schema(raw_schema: StructType) -> StructType:
    """A raw frame's schema -> shred_batch's output schema: every column
    but header_raw/lines_raw passes through, then SHREDDED_FIELDS."""
    keep = [f for f in raw_schema.fields if f.name not in _RAW_COLUMNS]
    return StructType(keep + SHREDDED_FIELDS)


@functools.cache
def _arrow_type(dtype):
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dtype)


def raw_columns(n_docs: int, header: dict, lines: dict):
    """The fields -> raw bridge, columnar: fields given as columns over
    n_docs documents -> (header_raw StructArray, lines_raw ListArray).
    The recognize kernel writes its fields through it.

    `header` maps a header key (OrderNO, Inv, ...) to its n_docs values
    (None: absent); `lines` maps a line key prefix (Drug, Qty, ...) to
    (doc, line number, values) of the present keys, at most one per (doc,
    number). Lines are prefix-terminated, mirroring the reference's
    presence + break semantics (ProcessingEngine.cs:15-35,
    HorusProcessingEngine.cs:49-85): line nn exists iff Unit/Net/Drug nn is
    present, for nn in 01..49, and the scan stops at the first absent
    line."""
    import numpy as np
    import pyarrow as pa

    header_arr = pa.StructArray.from_arrays(
        [
            pa.array(header.get(key, [None] * n_docs), pa.string())
            for _, key, *_ in _HEADER_KEYS
        ],
        fields=list(_arrow_type(HEADER_RAW)),
    )
    slot = {}  # prefix -> (n_docs, 1 + _MAX_LINES) row into its values
    for prefix, (doc, no, _) in lines.items():
        doc, no = np.asarray(doc, np.int64), np.asarray(no, np.int64)
        ok = (no >= 1) & (no <= _MAX_LINES)
        slot[prefix] = np.full((n_docs, _MAX_LINES + 1), -1)
        slot[prefix][doc[ok], no[ok]] = np.flatnonzero(ok)
    present = np.zeros((n_docs, _MAX_LINES + 1), bool)
    for prefix in _LINE_PRESENCE:
        if prefix in slot:
            present |= slot[prefix] >= 0
    # leading present lines 01.. per document
    n_lines = np.argmin(np.c_[present[:, 1:], np.zeros(n_docs, bool)], axis=1)
    doc = np.repeat(np.arange(n_docs), n_lines)
    no = np.arange(len(doc)) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    columns = []
    for _, prefix, *_ in _LINE_KEYS:
        if prefix in slot:
            at = slot[prefix][doc, no]
            values = pa.array(lines[prefix][2], pa.string())
            columns.append(values.take(pa.array(at, mask=at < 0)))
        else:
            columns.append(pa.nulls(len(doc), pa.string()))
    line_values = pa.StructArray.from_arrays(columns, fields=list(_arrow_type(LINE_RAW)))
    offsets = pa.array(np.r_[0, np.cumsum(n_lines)], pa.int32())
    return header_arr, pa.ListArray.from_arrays(offsets, line_values)


def raw_arrays(fields: list[dict]):
    """raw_columns for one fields dict per document (field key -> text,
    the reference's recognizer shape), row for row."""
    header = {key: [fd.get(key) for fd in fields] for _, key, *_ in _HEADER_KEYS}
    lines = {prefix: ([], [], []) for _, prefix, *_ in _LINE_KEYS}
    for d, fd in enumerate(fields):
        for key, value in fd.items():
            if key in _LINE_KEY_OF:
                prefix, no = _LINE_KEY_OF[key]
                docs, nos, values = lines[prefix]
                docs.append(d)
                nos.append(no)
                values.append(value)
    return raw_columns(len(fields), header, lines)


# --------------------------------------------------------- shred in Arrow

# error kinds of one read: 0 = none, else an index into _CODES
_NONE, _NULL_STR, _NULL_NUM, _ZERO, _PARSE = range(5)
_CODES = [None, E.CODE_STRING_NULL, E.CODE_NUMBER_NULL, E.CODE_NUMBER_ZERO, E.CODE_NUMBER_PARSE]
_WARNING, _TERMINAL = 0, 1
_SEVERITIES = [E.SEV_WARNING, E.SEV_TERMINAL]
_LINE_NOS = [f"{i:02d}" for i in range(1, _MAX_LINES + 1)]
# line key ('Drug07') -> (prefix, line number)
_LINE_KEY_OF = {p + nn: (p, i) for _, p, *_ in _LINE_KEYS for i, nn in enumerate(_LINE_NOS, 1)}
# error slots per document: the tail header reads, then each line's reads
_SLOTS = len(_TAIL_KEYS) + _MAX_LINES * len(_LINE_READS)


@functools.cache
def _key_ids() -> dict:
    """(raw column, line index or None) -> row of _messages()."""
    keys = [(c, None) for c, *_ in _TAIL_KEYS]
    keys += [(c, i) for c, *_ in _LINE_KEYS for i in range(_MAX_LINES)]
    return {k: i for i, k in enumerate(keys)}


@functools.cache
def _messages():
    """Every fixed message text, indexed [error kind * n_keys + key id]; a
    PRE0005 entry is the prefix its sanitized raw text is appended to."""
    import pyarrow as pa

    names = {c: key for c, key, *_ in _TAIL_KEYS}
    prefixes = {c: p for c, p, *_ in _LINE_KEYS}
    keys = [names[c] if i is None else prefixes[c] + _LINE_NOS[i] for c, i in _key_ids()]
    templates = [
        None,
        "GetString() Specified Element {} is null",
        "GetNumber() Specified Element {} is null",
        "GetNumber() {} exists but its value is zero",
        "GetNumber() {} exists but cannot be parsed as a number=",
    ]
    return pa.array([t and t.format(k) for t in templates for k in keys], pa.string())


def _sanitize_arrow(text):
    import pyarrow.compute as pc

    return pc.replace_substring(text, "'", E.ILLEGAL_MARKER)


def _read_arrow(kind: str, raw):
    """One reference getter over a whole raw-text column (NULL = element
    missing) -> (value array, error kind per row as int8 numpy).

    value by kind: 'str' the sanitized text; 'num' the parsed number
    `?? 0`; 'numtext' the C# decimal round-trip string of the parsed
    number, '' when unparseable. Error kinds in the getter's check order:
    missing, then unparseable, then zero."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    missing = raw.is_null().to_numpy(zero_copy_only=False)
    if kind == "str":
        return _sanitize_arrow(raw), np.where(missing, _NULL_STR, _NONE).astype(np.int8)
    cleaned = pc.replace_substring(raw, " ", "")
    ok = pc.match_substring_regex(cleaned, _NUM_RE).fill_null(False)
    digits = pc.replace_substring(cleaned, ",", "")
    text = pc.if_else(ok, pc.utf8_rtrim(digits, characters="\r\n"), pa.scalar(None, pa.string()))
    parsed = pc.cast(text, pa.float64())
    ok_np = ok.to_numpy(zero_copy_only=False)
    zero = ok_np & (parsed.fill_null(1.0).to_numpy(zero_copy_only=False) == 0)
    code = np.select([missing, ~ok_np, zero], [_NULL_NUM, _PARSE, _ZERO], _NONE).astype(np.int8)
    if kind == "num":
        return parsed.fill_null(0.0), code
    norm = pc.replace_substring_regex(digits, r"^([+-]?)0+([0-9])", r"\1\2")
    norm = pc.replace_substring_regex(norm, r"^([+-]?)\.", r"\10.")
    return pc.if_else(ok, norm, ""), code


def _unread_arrow(kind: str, n: int):
    """C# default of a field the engine never reads: 0 for a number, NULL
    for a string."""
    import numpy as np
    import pyarrow as pa

    return pa.array(np.zeros(n)) if kind == "num" else pa.nulls(n, pa.string())


def _unread_columns(engine) -> set:
    return {
        col
        for col, read in (
            ("shipping_total", engine.include_shipping),
            ("disc", engine.include_discount),
            ("taxable", engine.include_taxable),
        )
        if not read
    }


class _ErrorRows:
    """Collects error candidates read by read, then lays them out as one
    list<DOC_ERROR> per document in emission order."""

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.parts = []  # per read: (doc, slot, kind, severity, key id) arrays
        self.raws = []  # per read: the PRE0005 rows' sanitized raw text

    def add(self, code, doc, slot, severity: int, key_id, raw):
        """One read's error kinds `code` (per row of `raw`); `doc`, `slot`
        and `key_id` are per-row arrays or one value for all rows."""
        import numpy as np

        idx = np.flatnonzero(code)
        if not len(idx):
            return
        kind = code[idx]
        per_row = [np.broadcast_to(a, len(code))[idx] for a in (doc, slot, key_id)]
        sev = np.where(kind == _ZERO, _WARNING, severity)  # zero is ALWAYS Warning
        self.parts.append((per_row[0], per_row[1], kind, sev, per_row[2]))
        self.raws.append(_sanitize_arrow(raw.take(idx[kind == _PARSE])))

    def arrays(self):
        """-> (list<DOC_ERROR> array, Terminal counts, Warning counts)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = self.n_docs
        err_t = _arrow_type(_SHREDDED)["errors_tail"].type
        doc, slot, kind, sev, key_id = (
            np.concatenate([p[i] for p in self.parts] or [np.zeros(0, np.int64)])
            for i in range(5)
        )
        # row of each PRE0005 candidate in the concatenated raw texts
        parse = kind == _PARSE
        raw_row = np.full(len(doc), -1)
        raw_row[parse] = np.arange(int(parse.sum()))
        order = np.argsort(doc.astype(np.int64) * _SLOTS + slot, kind="stable")
        doc, kind, sev, key_id, raw_row = (
            a[order] for a in (doc, kind, sev, key_id, raw_row)
        )
        raws = pa.concat_arrays(self.raws) if self.raws else pa.array([], pa.string())
        appended = raws.take(pa.array(raw_row, mask=raw_row < 0)).fill_null("")
        messages = _messages().take(pa.array(kind.astype(np.int64) * len(_key_ids()) + key_id))
        values = pa.StructArray.from_arrays(
            [
                pa.array(_CODES, pa.string()).take(pa.array(kind)),
                pa.array(_SEVERITIES, pa.string()).take(pa.array(sev)),
                pc.binary_join_element_wise(messages, appended, ""),
            ],
            fields=list(err_t.value_type),
        )
        counts = np.bincount(doc, minlength=n)
        terminal = np.bincount(doc, weights=sev == _TERMINAL, minlength=n).astype(np.int32)
        offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
        return (
            pa.ListArray.from_arrays(pa.array(offsets), values, type=err_t),
            pa.array(terminal),
            pa.array((counts - terminal).astype(np.int32)),
        )


def shred_arrays(header_raw, lines_raw, engine=None) -> dict:
    """One chunk's raw Arrow columns -> the SHREDDED_FIELDS arrays, by name,
    row for row. Vectorized over the chunk: pyarrow.compute/numpy per
    field read, no per-document Python loop.

    header_raw: StructArray of HEADER_RAW (NULL field or row = missing);
    lines_raw: ListArray of LINE_RAW structs, prefix-terminated (NULL row =
    no lines). `engine` (engines.EngineSpec or name, 'horus' default)
    selects the field channels read: a channel the engine omits keeps its
    C# default (0 / NULL) and emits no error rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    engine = get_engine(engine)
    unread = _unread_columns(engine)
    key_ids = _key_ids()
    n = len(header_raw)
    header = dict(zip(HEADER_RAW.names, header_raw.flatten()))
    lead = [c for c, *_ in _LEAD_KEYS]
    out = {"header_raw": pa.StructArray.from_arrays([header[c] for c in lead], names=lead)}
    errors = _ErrorRows(n)
    docs = np.arange(n)
    for slot, (col, _, kind, name) in enumerate(_TAIL_KEYS):
        if col in unread:
            out[name] = _unread_arrow(kind, n)
            continue
        out[name], code = _read_arrow(kind, header[col])
        errors.add(code, docs, slot, _WARNING, key_ids[(col, None)], header[col])

    counts = pc.fill_null(pc.list_value_length(lines_raw), 0).to_numpy().astype(np.int64)
    parent = np.repeat(docs, counts)
    line_idx = np.arange(len(parent)) - np.repeat(np.cumsum(counts) - counts, counts)
    line = dict(zip(LINE_RAW.names, lines_raw.flatten().flatten()))
    n_lines = len(parent)
    values, codes = {}, {}
    for col, _, kind, name in _LINE_KEYS:
        if col in unread:
            values[name] = _unread_arrow(kind, n_lines)
        else:
            values[name], codes[col] = _read_arrow(kind, line[col])
    net = values["net_amount"].to_numpy(zero_copy_only=False)
    unit = values["unit_price"].to_numpy(zero_copy_only=False)
    calc = np.zeros(n_lines)
    with np.errstate(invalid="ignore", over="ignore"):
        np.divide(net, unit, out=calc, where=(net != 0) & (unit != 0))
    values["calculated_line_quantity"] = pa.array(calc)
    values["line_no"] = pa.array(_LINE_NOS, pa.string()).take(pa.array(line_idx))
    item_t = _arrow_type(_SHREDDED)["line_items"].type
    items = pa.StructArray.from_arrays(
        [values[f] for f in S.LINE_ITEM.fieldNames()], fields=list(item_t.value_type)
    )
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    out["line_items"] = pa.ListArray.from_arrays(pa.array(offsets), items, type=item_t)

    line_slot0 = len(_TAIL_KEYS) + line_idx * len(_LINE_READS)
    for r, (col, severity) in enumerate(_LINE_READS):
        if col in unread:
            continue
        errors.add(
            codes[col],
            parent,
            line_slot0 + r,
            _SEVERITIES.index(severity),
            key_ids[(col, 0)] + line_idx,
            line[col],
        )
    out["errors_tail"], out["terminal_tail_count"], out["warning_tail_count"] = errors.arrays()
    return out


def shred_batch(batch, engine=None):
    """A RecordBatch with header_raw/lines_raw -> shredded_schema(batch's
    schema) RecordBatch: the raw columns are replaced by shred_arrays'
    output, every other column passes through."""
    import pyarrow as pa

    shredded = shred_arrays(batch.column("header_raw"), batch.column("lines_raw"), engine)
    keep = [n for n in batch.schema.names if n not in _RAW_COLUMNS]
    return pa.RecordBatch.from_arrays(
        [batch.column(n) for n in keep] + list(shredded.values()),
        names=keep + list(shredded),
    )


def shred_raw(df: DataFrame, engine=None) -> DataFrame:
    """A raw frame (doc_id, header_raw, lines_raw, ...) -> the shredded
    kernel columns, through ONE mapInArrow of shred_batch."""
    engine = get_engine(engine)

    def shred(batches):
        for b in batches:
            yield shred_batch(b, engine)

    return df.mapInArrow(shred, shredded_schema(df.schema))


# ------------------------------------------------------------ JVM finish


def _err(code: str, message: Column) -> Column:
    return F.struct(
        F.lit(code).alias("code"),
        F.lit(E.SEV_WARNING).alias("severity"),
        message.alias("message"),
    )


def _sanitize(col: Column) -> Column:
    # literal replace — no regex engine in the per-field hot path
    return F.replace(col, F.lit("'"), F.lit(E.ILLEGAL_MARKER))


def _read(kind: str, raw: Column, key: str) -> tuple[Column, Column]:
    """One leading header read (GetString or GetDate, at Warning) on a
    nullable raw-text Column (NULL <=> element missing) -> (value, error).
    value: 'str' the sanitized text, 'date' the parsed timestamp or NULL;
    error: the PRE000x row the read emits, NULL when none — it is NULL
    exactly when the value is not."""
    if kind == "str":
        value = F.when(raw.isNotNull(), _sanitize(raw))
        return value, F.when(
            raw.isNull(),
            _err(E.CODE_STRING_NULL, F.lit(f"GetString() Specified Element {key} is null")),
        )
    r = F.trim(raw)
    value = F.coalesce(
        *[F.try_to_timestamp(r, F.lit(f)) for f in _DATE_FORMATS],
        F.try_to_timestamp(r),
    )
    error = F.when(
        raw.isNull(),
        _err(E.CODE_DATE_NULL, F.lit(f"GetDate() Specified Element {key} is null")),
    ).when(
        value.isNull(),
        _err(
            E.CODE_DATE_PARSE,
            F.concat(
                F.lit(f"GetDate() Specified Element {key} does not contain a valid date: TaxDate="),
                _sanitize(raw),
            ),
        ),
    )
    return value, error


def finish(df: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """Shredded kernel columns (SHREDDED_FIELDS) -> schema.SHREDDED_DOCUMENT
    columns, then `carry`. Runs the three leading header reads, prepends
    their errors to errors_tail and completes the counts. The run stamps
    (file_name, thumbprint, model_id, ...) pass through when present and
    are typed NULLs otherwise, except file_name (defaults to doc_id) and
    time_to_shred_ms (defaults to 0)."""
    h = F.col("header_raw")
    out: dict[str, Column] = {"doc_id": F.col("doc_id")}
    lead = []
    for col, key, kind, name in _LEAD_KEYS:
        out[name], error = _read(kind, h[col], key)
        lead.append(error)
    tax_date = out["tax_date"]
    out["tax_period"] = F.when(
        tax_date.isNotNull(),
        F.concat(F.year(tax_date).cast("string"), F.month(tax_date).cast("string")),
    )
    # a lead read errs exactly when its value is NULL, always at Warning
    n_lead = sum(out[name].isNull().cast("int") for *_, name in _LEAD_KEYS)
    out.update(
        terminal_error_count=F.col("terminal_tail_count"),
        warning_error_count=F.col("warning_tail_count") + n_lead,
        is_valid=F.col("terminal_tail_count") == 0,
        errors=F.concat(F.array_compact(F.array(*lead)), F.col("errors_tail")),
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
            c = absent.get(f.name, F.lit(None).cast(f.dataType.simpleString()))
        return c.alias(f.name)

    return df.select(
        *[column(f) for f in S.SHREDDED_DOCUMENT.fields],
        *[F.col(c) for c in carry or []],
    )


def shred_fast(df: DataFrame, carry: list[str] | None = None, engine=None) -> DataFrame:
    """Shred a raw frame — doc_id plus the raw columns raw_arrays builds:
    header_raw: struct<order_number,order_date,tax_date,inv,account,
                       net_total,vat_amount,shipping_total,grand_total,
                       post_code : string> (NULL field = element missing)
    lines_raw:  array<struct<drug,qty,unit,vat,disc,taxable,net : string>>
                (already prefix-terminated, max 49 entries).
    -> schema.SHREDDED_DOCUMENT rows, then `carry`: shred_raw (one
    mapInArrow), then finish. `engine` (engines.EngineSpec or name,
    'horus' default) selects which field channels exist — the reference's
    pluggable IProcessingEngine surface; the output schema is
    engine-invariant."""
    return finish(shred_raw(df, engine), carry)


@functools.cache
def _unmatched_values(engine) -> dict:
    import pyarrow as pa

    header = pa.array([None], _arrow_type(HEADER_RAW))
    lines = pa.array([[]], pa.list_(_arrow_type(LINE_RAW)))
    return {k: v[0].as_py() for k, v in shred_arrays(header, lines, engine).items()}


def _sql_literal(value, dtype) -> str:
    """A Python value of `dtype` as Spark SQL literal text: one F.expr per
    column instead of a py4j round trip per nested field."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, StructType):
        fields = (f"'{f.name}', {_sql_literal(value[f.name], f.dataType)}" for f in dtype.fields)
        return f"named_struct({', '.join(fields)})"
    if isinstance(dtype, ArrayType):
        items = ", ".join(_sql_literal(v, dtype.elementType) for v in value)
        return f"CAST(array({items}) AS {dtype.simpleString()})"
    if isinstance(dtype, StringType):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"CAST({value!r} AS {dtype.simpleString()})"


def unmatched_defaults(engine=None) -> dict[str, Column]:
    """Shredded column -> its value for a document the kernel never saw (no
    OCR rows): the shred of an all-NULL raw row, computed once on the
    driver by shred_arrays. Columns whose value is NULL there are left
    out."""
    engine = get_engine(engine)
    values = _unmatched_values(engine)
    return {
        f.name: F.expr(_sql_literal(values[f.name], f.dataType))
        for f in SHREDDED_FIELDS
        if f.name != "header_raw" and values[f.name] is not None
    }
