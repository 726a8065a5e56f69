"""End-to-end extraction pipeline.

Collapses the reference's 10-activity orchestration
(reference Horus.Functions/DocumentProcessor.cs:52-111: copy/rename ->
recognize -> shred -> persist) into ONE Spark job with a single planned
shuffle per input table:

    ocr_words ── groupBy(doc_id).agg(collect_list(struct(word cols)))
                      (hash)          │  one shuffle; map-side partial agg
                                      └─ mapInArrow(_extract_iter_arrow_grouped)
                                               │ L1-L4 layout + fields kernel,
                                               │ columnar over each whole chunk,
                                               │ then shred_batch (Arrow): typed
                                               │ header, line_items[], errors
                                               │ from Inv on, their counts
    documents ───────── join(doc_id) ──────────┤ (no OCR rows: the shred of an
                                               │  empty fields map, a literal)
                                               ▼
     finish (JVM: OrderNO/OrderDate/TaxDate reads, tax_period, counts)
                  + thumbprint + classify spans + registry model stamps
                    (pure expressions)
                                               ▼
       extracted(doc header, line_items[], errors[], spans_out[]) -> sinks

A staged recognize() output (`fields_df`, FIELDS_SCHEMA) is shredded by one
mapInArrow of the same shred_batch instead of the kernel.

Boundary shape: each document crosses the JVM<->Python Arrow boundary as ONE
row (doc_id, words:array<struct>) — doc_id (42% of the IPC bytes when it
shipped once per word, measured) ships once per doc, and the map-side
partial collect_list compresses the shuffle the same way.

Skew control: hashing on doc_id spreads media-heavy documents uniformly
(per-doc cost is bounded: ~250 words normally, hard kernel cap
MAX_DOC_WORDS for pathological blobs), so no single key can skew a
partition. The Arrow kernel processes doc-aligned ~64k-word chunks
(reference's skew = 1..17 line items/doc, Generator.cs:64), each as
numpy/Arrow arrays with an integer document index and no per-document
Python loop. One failing
document degrades to its error channel, never the task (per-document
isolation, DocumentProcessor.cs:101-106).
"""

from __future__ import annotations

import functools
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from horus_spark.config import line_keys
from horus_spark.engines import get_engine
from horus_spark.operators.boilerplate import is_boilerplate_text
from horus_spark.operators.fields import (
    check_config,
    configs_of_formats,
    extract_fields_columns,
)
from horus_spark.operators.layout import (
    infer_grid_columns,
    join_runs,
    line_order,
    run_pos,
    run_starts,
)
from horus_spark.operators.shred import (
    HEADER_RAW,
    LINE_RAW,
    finish,
    raw_columns,
    shred_batch,
    shred_raw,
    shredded_schema,
    unmatched_defaults,
)

# recognize()'s output: one row per document with OCR words
FIELDS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("header_raw", HEADER_RAW),
        StructField("lines_raw", ArrayType(LINE_RAW)),
        StructField("field_keys", ArrayType(StringType())),
        StructField("recognizer_status", StringType()),
        StructField("recognizer_errors", ArrayType(StringType())),
        StructField("time_to_shred_ms", DoubleType()),
    ]
)
# run_extraction's kernel output: the same rows, shredded in the kernel
SHREDDED_SCHEMA = shredded_schema(FIELDS_SCHEMA)


# Skew/robustness guard: a pathological media-heavy document (generator
# bound is ~250 words; real corpora can carry megaword OCR blobs) is
# truncated to its first MAX_DOC_WORDS words in reading order inside the
# kernel, and its recognizer_errors say so — bounding both the per-doc
# compute and the working set a single doc_id hash key can pin to one
# partition. The reference bounds documents the same way (50-line cap,
# content-type whitelist).
MAX_DOC_WORDS = 20000


def _extract_batch_arrow(ids, words, configs: dict | None = None, engine=None):
    """One kernel chunk of whole documents -> FIELDS_SCHEMA RecordBatch,
    one row per document with at least one OCR word.

    `ids` (doc_id strings) and `words` (one list<struct<page, line_id,
    word_id, text, x0, y0, x1, y1>> per document) are the grouped
    boundary's columns. The words flatten to numpy/Arrow arrays with an
    integer document index from the list offsets; L1 (layout.line_order,
    layout.join_runs), L2 (layout.infer_grid_columns) and L3/L4
    (fields.extract_fields_columns) then each run over every document of
    the chunk at once, and the fields go straight to header_raw/lines_raw
    (shred.raw_columns). `configs` is the (broadcast-small)
    fmt -> extraction-config dict from the model registry; None =
    built-in FORMAT_CONFIGS. With `engine` (an EngineSpec), the chunk is
    also shredded here, in the same worker (shred.shred_batch) ->
    SHREDDED_SCHEMA RecordBatch.

    Per-document isolation (reference DocumentProcessor.cs:101-106: one
    failing document never stops the others): a document with non-finite
    fragment geometry, or whose format's config cannot be read, gets
    status `failed` with the reason in recognizer_errors (the reference's
    RecognizerStatus/RecognizerErrors, Models/Document.cs:20-105) and an
    EMPTY fields map — the shredder then emits the full PRE000x error-row
    channel for it — and every other document is unaffected. A document
    over MAX_DOC_WORDS keeps its first MAX_DOC_WORDS words in (page,
    line_id, word_id) order and says so in recognizer_errors.

    time_to_shred_ms (TimeToShred, HorusProcessingEngine.cs:15-16,87-88):
    the chunk's wall time split across its documents by the number of
    words each kept."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t0 = time.perf_counter_ns()
    counts = pc.fill_null(pc.list_value_length(words), 0).to_numpy().astype(np.int64)
    n_docs = len(counts)
    wdoc = np.repeat(np.arange(n_docs), counts)
    values = words.flatten()
    def field(name):  # (a null coordinate reads as NaN: non-finite geometry)
        return values.field(name).to_numpy(zero_copy_only=False)

    col = {c: field(c) for c in ("page", "line_id", "word_id")}
    box = [field(c).astype(np.float64) for c in ("x0", "y0", "x1", "y1")]
    text = pc.fill_null(values.field("text"), "")
    messages = []  # (doc, message): the recognizer outcome channel
    heavy = counts > MAX_DOC_WORDS
    if heavy.any():
        # a heavy document's words in (page, line_id, word_id) order, then
        # its first MAX_DOC_WORDS; every other document keeps its words
        h = heavy[wdoc]
        keep = np.lexsort([np.where(h, col[c], 0) for c in ("word_id", "line_id", "page")] + [wdoc])
        keep = keep[run_pos(wdoc[keep]) < MAX_DOC_WORDS]
        wdoc, text = wdoc[keep], text.take(keep)
        col = {c: v[keep] for c, v in col.items()}
        box = [v[keep] for v in box]
        messages += [
            (d, f"Truncated: kept the first {MAX_DOC_WORDS} of {counts[d]} OCR words")
            for d in np.flatnonzero(heavy)
        ]

    # ---- L1: fragments (OCR lines), doc-contiguous in reading order
    order, _, frag_key = line_order(wdoc, col["page"], *box)
    fstart = np.flatnonzero(run_starts(frag_key))
    fdoc = wdoc[order][fstart]
    fx0 = np.minimum.reduceat(box[0][order], fstart)
    fy = np.minimum.reduceat(box[1][order], fstart)
    fx1 = np.maximum.reduceat(box[2][order], fstart)
    ftext = join_runs(text.take(order), fstart)

    # ---- documents that fail before L2
    failed = np.zeros(n_docs, bool)
    failed[fdoc[~(np.isfinite(fx0) & np.isfinite(fy) & np.isfinite(fx1))]] = True
    messages += [
        (d, "ValueError: non-finite bbox geometry in OCR words") for d in np.flatnonzero(failed)
    ]
    # the format is the doc_id's '{format}-' prefix (config.format_of_doc_id)
    fmt = pc.list_element(pc.split_pattern(pc.fill_null(ids, ""), "-", max_splits=1), 0)
    fmt = fmt.dictionary_encode()
    cfgs = configs_of_formats(fmt.dictionary.to_pylist(), configs)
    doc_cfg = fmt.indices.to_numpy()
    for k, cfg in enumerate(cfgs):
        try:
            check_config(cfg)
        except Exception as exc:
            bad = np.flatnonzero((doc_cfg == k) & ~failed)
            failed[bad] = True
            messages += [(d, f"{type(exc).__name__}: {exc}") for d in bad]

    # ---- L2-L4 over the documents that did not fail
    ok = np.flatnonzero(~failed[fdoc])
    od, ox0, oy, ox1, otext = fdoc[ok], fx0[ok], fy[ok], fx1[ok], ftext.take(ok)
    grid = infer_grid_columns(od, otext, ox0, oy, ox1, n_docs)
    header, lines, used = extract_fields_columns(
        od, run_pos(od), otext, ox0, oy, ox1, grid, cfgs, doc_cfg
    )
    header_raw, lines_raw = raw_columns(n_docs, header, lines)

    # ---- field_keys: the keys of the OCR lines any field read a word from
    used_frag = np.zeros(len(fstart), bool)
    used_frag[ok[used]] = True
    w = order[used_frag[frag_key - 1]]
    ld, lp, ln = wdoc[w], col["page"][w], col["line_id"][w]
    o = np.lexsort((ln, lp, ld))
    ld, lp, ln = ld[o], lp[o], ln[o]
    first = run_starts(ld, lp, ln)
    keys = _lists(ld[first], line_keys(lp[first], ln[first]), n_docs)
    messages.sort(key=lambda m: m[0])  # stable: the truncation leads
    errors = _lists(
        [d for d, _ in messages], pa.array([m for _, m in messages], pa.string()), n_docs
    )
    kept = np.minimum(counts, MAX_DOC_WORDS)
    ms = (time.perf_counter_ns() - t0) / 1e6 * kept / max(kept.sum(), 1)
    batch = pa.RecordBatch.from_arrays(
        [
            ids,
            header_raw,
            lines_raw,
            keys,
            pa.array(np.where(failed, "failed", "succeeded"), pa.string()),
            errors,
            pa.array(ms, pa.float64()),
        ],
        schema=_arrow_fields_schema(),
    )
    if (counts == 0).any():
        batch = batch.filter(pa.array(counts > 0))
    return batch if engine is None else shred_batch(batch, engine)


def _lists(doc, values, n_docs: int):
    """Arrow values sorted by document -> one list per document."""
    import pyarrow as pa

    offsets = np.r_[0, np.cumsum(np.bincount(doc, minlength=n_docs))]
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


# kernel chunk target: per-chunk fixed costs amortize up to ~64k words;
# beyond that the chunk's working set falls out of cache (measured sweet
# spot)
_KERNEL_CHUNK_ROWS = 65536

# Arrow output schema mirroring FIELDS_SCHEMA (mapInArrow hands us raw
# RecordBatches both ways)
@functools.cache
def _arrow_fields_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(FIELDS_SCHEMA)


def _extract_iter_arrow_grouped(batches, configs: dict | None = None, engine=None):
    """mapInArrow kernel over the grouped boundary shape
    (doc_id, words:array<struct<page,line_id,word_id,text,x0,y0,x1,y1>>).

    Each input row is one whole document, so doc contiguity is free.
    Each incoming RecordBatch is cut at doc boundaries via the cumulative
    word counts: ~_KERNEL_CHUNK_ROWS-word chunks of whole documents (a doc
    larger than the target is a chunk of its own), each one
    _extract_batch_arrow call, so the kernel holds one input batch at a
    time. `engine`: _extract_batch_arrow's."""
    import pyarrow.compute as pc

    for batch in batches:
        ids, words = batch.column("doc_id"), batch.column("words")
        counts = pc.fill_null(pc.list_value_length(words), 0).to_numpy().astype(np.int64)
        cum = np.concatenate([[0], np.cumsum(counts)])
        d = 0
        while d < len(counts):
            e = int(np.searchsorted(cum, cum[d] + _KERNEL_CHUNK_ROWS, side="right")) - 1
            e = min(max(e, d + 1), len(counts))  # >=1 doc of progress
            yield _extract_batch_arrow(ids[d:e], words[d:e], configs, engine)
            d = e


def _grouped_words(
    ocr_words: DataFrame,
    heavy_words: int | None = None,
    heavy_partitions: int | None = None,
) -> DataFrame:
    """The Arrow boundary shape: collect each document's words into one
    array<struct> row BEFORE the Python boundary. Bboxes are flattened
    JVM-side, so Arrow ships plain float columns instead of per-word lists.

    Why: doc_id is a ~27-byte string — shipped once per word it was 42% of
    all bytes crossing the JVM<->Python Arrow IPC stream (measured on the
    100k bench corpus: 27.2 of 64.6 B/row). Grouping ships it once per
    document and lets the map-side partial collect_list carry it once per
    (doc, map partition) through the shuffle too. Pinned A/B of the
    boundary alone at 8 cores: one row per word 7.0s -> grouped 2.44s
    (min-of-4).

    The groupBy hashes on doc_id into spark.sql.shuffle.partitions
    partitions, keeping the map-side partial aggregate; per-doc cost is
    bounded by MAX_DOC_WORDS.

    `heavy_words` (SURVEY §4.1's weight-bucketed salting, opt-in): a
    corpus with a heavy tail (media/word-heavy docs at 10-100x the
    median) breaks the bounded-doc assumption above — hash placement of
    the rare heavy keys is Poisson, so one task can draw several heavy
    docs and straggle the map stage. With a threshold set, docs at >=
    heavy_words words are split into their OWN round-robin tier
    (repartition() with no keys = exact count balance — each heavy task
    carries ⌈k/m⌉ heavy docs, deterministic, no salting lottery) while
    normal docs keep the doc_id hash; mapInArrow consumes the union's
    concatenated partitions. The two tiers re-read ONE shuffle (the
    branches share the identical groupBy exchange — ReusedExchange,
    asserted by tests/test_skew_extraction.py); row values are
    untouched, so extraction output is bit-identical either way.
    """
    b = F.col("bbox")
    grouped = (
        ocr_words.select(
            "doc_id",
            "page",
            "line_id",
            "word_id",
            "text",
            F.least(b[0], b[6]).alias("x0"),
            F.least(b[1], b[3]).alias("y0"),
            F.greatest(b[2], b[4]).alias("x1"),
            F.greatest(b[5], b[7]).alias("y1"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct("page", "line_id", "word_id", "text", "x0", "y0", "x1", "y1")
            ).alias("words")
        )
    )
    if heavy_words is None:
        return grouped
    if heavy_words < 1:
        raise ValueError("heavy_words must be >= 1")
    spark = ocr_words.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = F.size(F.col("words"))
    # the agg output is ALREADY hash-partitioned by doc_id — the normal
    # tier filters in place (zero extra exchange); only the tiny heavy
    # tier pays a round-robin exchange, over the REUSED agg shuffle
    normal = grouped.where(w < heavy_words)
    # heavy-tier width: size tasks so a tier task carries about one
    # normal task's weight — callers who know k (heavy count) and the
    # inflation factor pass heavy_partitions ~= k * heavy_weight /
    # normal_task_weight; default n//4 keeps the tier from exploding
    # task counts when nothing is known
    m = heavy_partitions if heavy_partitions is not None else max(n // 4, 1)
    heavy = grouped.where(w >= heavy_words).repartition(max(m, 1))
    return normal.unionByName(heavy)


def recognize(
    ocr_words: DataFrame,
    configs: dict | None = None,
    heavy_words: int | None = None,
) -> DataFrame:
    """The native 'recognizer': OCR words -> FIELDS_SCHEMA rows (doc_id,
    header_raw, lines_raw, field_keys, recognizer status/errors,
    time_to_shred_ms), one per document with at least one OCR word.

    Replaces the reference's external form-recognizer call
    (DocumentProcessor.cs:196-301) with local layout math. One shuffle
    (the doc_id hash of _grouped_words), then one mapInArrow kernel.
    `configs` (fmt -> extraction config, from the model registry) rides to
    executors in the kernel closure; `heavy_words` is _grouped_words'."""
    return _kernel(ocr_words, configs, heavy_words, None)


def _kernel(ocr_words: DataFrame, configs, heavy_words, engine) -> DataFrame:
    """recognize()'s plan; with `engine` (an EngineSpec) the same single
    mapInArrow also shreds each chunk -> SHREDDED_SCHEMA rows."""

    def kernel(batches):
        yield from _extract_iter_arrow_grouped(batches, configs, engine)

    schema = FIELDS_SCHEMA if engine is None else SHREDDED_SCHEMA
    return _grouped_words(ocr_words, heavy_words).mapInArrow(kernel, schema=schema)


def classify_spans_expr() -> "F.Column":
    """L6: 3-way span classification as a pure Spark expression.

    media span -> 'form-field' iff its OCR line contributed a word to any
    extracted field value — its media_ref after '#' is one of the
    document's field_keys ('p{page}L{line}', config.line_keys) — else
    'boilerplate' (form decoration);
    text span  -> 'boilerplate' per the L5 block scorer, else 'content'.
    Order (offset) is preserved — the north rule compares sequences."""
    return F.transform(
        F.col("spans"),
        lambda s: F.struct(
            F.when(
                s["kind"] == "media",
                F.when(
                    F.array_contains(
                        F.coalesce(F.col("field_keys"), F.array().cast("array<string>")),
                        F.substring_index(s["media_ref"], "#", -1),
                    ),
                    F.lit("form-field"),
                ).otherwise(F.lit("boilerplate")),
            )
            .otherwise(
                F.when(is_boilerplate_text(s["text"]), F.lit("boilerplate")).otherwise(
                    F.lit("content")
                )
            )
            .alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def thumbprint_expr() -> "F.Column":
    """Content MD5 (dedup key) — the reference's blob thumbprint computed
    over the span texts (record-separator-joined), formatted exactly like
    the reference's BitConverter.ToString(md5).Replace("-", " "):
    space-separated UPPERCASE hex pairs "AA BB ..."
    (DocumentProcessor.cs:217-223).

    The join separator is ASCII RS (0x1E) — it MUST stay spelled as the
    escape sequence "\\x1e" here and in tools/make_goldens.py: a raw byte
    renders invisibly as an empty string in editors/diffs and silently
    changes every thumbprint if "preserved" by a copy-paste. A pinned
    known-value test (tests/test_pipeline.py::test_thumbprint_known_value)
    guards the exact byte."""
    plain = F.md5(F.concat_ws("\x1e", F.transform(F.col("spans"), lambda s: s["text"])))
    return F.regexp_replace(F.upper(plain), "(..)(?!$)", "$1 ")


def run_extraction(
    documents: DataFrame,
    ocr_words: DataFrame,
    registry: DataFrame | None = None,
    engine: str | None = None,
    run_id: str | None = None,
    fields_df: DataFrame | None = None,
    heavy_words: int | None = None,
) -> DataFrame:
    """Full pipeline -> EXTRACTED_DOCUMENT rows (header + line_items +
    errors + spans_out). Two planned shuffles total (one per input table):
    recognize's doc_id groupBy and the documents join. The kernel shreds
    each chunk in its own worker (one Python map operator); after the join
    only finish's three leading header reads, the thumbprint and the span
    classifier run as expressions.

    `fields_df` (optional): a precomputed recognizer output frame
    (FIELDS_SCHEMA, e.g. staged parquet from a previous run) — skips the
    recognize kernel entirely and re-shreds from it with one mapInArrow of
    operators.shred.shred_batch, the analog of the
    reference re-processing already-recognized documents; `ocr_words` and
    the registry's layout configs are ignored in that case (the registry
    model stamps still apply).

    `registry` (optional): a model-registry frame (registry.REGISTRY_SCHEMA),
    read once on the driver (registry.read_latest). Its latest per-format
    config version drives the layout kernel, and the winning (model_id,
    model_version) is stamped on every output row from a literal map on
    the doc_id's format prefix (NULL for a format with no registry row) —
    the reference's GetModelByDocumentFormat lookup (HorusSql.cs:77-81)
    done once per job instead of once per document.

    `heavy_words` (optional): weight-bucket threshold for heavy-tailed
    corpora — docs at >= heavy_words OCR words route to a round-robin
    count-balanced tier ahead of the extraction kernel instead of the
    doc_id hash (see _grouped_words; output values identical)."""
    configs = None
    stamps = {}
    if registry is not None:
        from horus_spark.registry import read_latest

        configs, models = read_latest(registry)
        # one literal map per stamp, looked up by the doc_id's format
        # prefix (a missing format reads NULL; the cast types the
        # version as string and an empty registry's empty map)
        fmt = F.substring_index(F.col("doc_id"), "-", 1)
        for i, name in enumerate(("model_id", "model_version")):
            pairs = [F.lit(v) for f, m in models.items() for v in (f, m[i])]
            stamps[name] = F.create_map(*pairs).cast("map<string,string>")[fmt]
    spec = get_engine(engine)
    if fields_df is None:
        shredded = _kernel(ocr_words, configs, heavy_words, spec)
    else:
        shredded = shred_raw(fields_df, spec)
    if run_id is None:
        import uuid

        run_id = str(uuid.uuid4())  # the reference's UniqueRunIdentifier
    joined = documents.join(shredded, "doc_id", "left").withColumns(
        {
            # a document the recognizer produced nothing for (no OCR rows
            # at all) gets the shred of an empty fields map — its NULL
            # header_raw reads as missing in finish — and an explicit
            # status, like the reference's RecognizerStatus on a doc the
            # service returned no result for
            **{
                c: F.coalesce(F.col(c), default)
                for c, default in unmatched_defaults(spec).items()
            },
            "recognizer_status": F.coalesce(F.col("recognizer_status"), F.lit("notfound")),
            "recognizer_errors": F.coalesce(
                F.col("recognizer_errors"), F.array().cast("array<string>")
            ),
            "time_to_shred_ms": F.coalesce(F.col("time_to_shred_ms"), F.lit(0.0)),
            "thumbprint": thumbprint_expr(),
            "spans_out": classify_spans_expr(),
            # run stamps, persisted on the header row exactly like the
            # reference (HorusSql.cs:244-249); current_timestamp() is
            # query-constant in Spark, so one job = one shredding timestamp
            "shredding_utc_datetime": F.current_timestamp(),
            "unique_run_identifier": F.lit(run_id),
            **stamps,
        }
    )
    return finish(joined, carry=["spans_out"])
