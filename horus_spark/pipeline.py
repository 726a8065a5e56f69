"""End-to-end extraction pipeline.

Collapses the reference's 10-activity orchestration
(reference Horus.Functions/DocumentProcessor.cs:52-111: copy/rename ->
recognize -> shred -> persist) into ONE Spark job with a single planned
shuffle per input table:

    ocr_words ── groupBy(doc_id).agg(collect_list(struct(word cols)))
                      (hash)          │  one shuffle; map-side partial agg
                                      └─ mapInArrow(_extract_iter_arrow_grouped)
                                               │ L1-L4 layout + fields kernel,
                                               │ then shred_batch (Arrow): typed
                                               │ header, line_items[], errors
                                               │ from Inv on, their counts
    documents ───────── join(doc_id) ──────────┤ (no OCR rows: the shred of an
                                               │  empty fields map, a literal)
    registry (opt) ──── broadcast join(fmt) ───┤  model_id / model_version
                                               ▼
     finish (JVM: OrderNO/OrderDate/TaxDate reads, tax_period, counts)
                  + thumbprint + classify spans (pure expressions)
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
(reference's skew = 1..17 line items/doc, Generator.cs:64). One failing
document degrades to its error channel, never the task (per-document
isolation, DocumentProcessor.cs:101-106).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from horus_spark.config import format_of_doc_id
from horus_spark.engines import get_engine
from horus_spark.operators.boilerplate import is_boilerplate_text
from horus_spark.operators.fields import extract_fields_arrays
from horus_spark.operators.layout import cluster_lines, fragments_view, infer_grid_arrays
from horus_spark.operators.shred import (
    HEADER_RAW,
    LINE_RAW,
    finish,
    raw_arrays,
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
        StructField("field_line_ids", ArrayType(IntegerType())),
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
# compute and the pandas working set a single doc_id hash key can pin to
# one partition. The reference bounds documents the same way (50-line cap,
# content-type whitelist).
MAX_DOC_WORDS = 20000


def _extract_core(
    pdf: pd.DataFrame, configs: dict | None = None
) -> tuple[list, list, list, list, list]:
    """One doc-contiguous chunk of OCR words (many docs) -> (doc_ids,
    fields dicts, per-doc sorted field line ids). L1 runs vectorized over
    the WHOLE batch; grid/fields per doc (bounded: <=250 words/doc
    normally, hard cap MAX_DOC_WORDS). Fragment j of fragments_view is the
    j-th frag_key run of the clustered words, so a field's OCR line ids are
    read straight off its fragments' word runs.
    `configs` is the (broadcast-small) fmt->extraction-config dict from
    the model registry; None = built-in FORMAT_CONFIGS.

    Per-document isolation (reference DocumentProcessor.cs:101-106: one
    failing document never stops the others): a document whose layout
    analysis raises yields an EMPTY fields map — the shredder then emits
    the full PRE000x error-row channel for it, exactly like a document
    the recognizer returned nothing for — and every other document in the
    batch is unaffected.

    Also returns per-doc (status, errors) — the reference's
    RecognizerStatus/RecognizerErrors (Models/Document.cs:20-105) — and
    per-doc wall milliseconds (TimeToShred,
    HorusProcessingEngine.cs:15-16,87-88): the per-doc loop is timed
    directly; the batch-vectorized prelude (L1 clustering) is amortized
    evenly across the batch's docs."""
    import time as _time

    t_batch0 = _time.perf_counter_ns()
    if len(pdf) > MAX_DOC_WORDS:  # a smaller batch cannot hold a heavy doc
        counts = pdf["doc_id"].value_counts()
        heavy = counts[counts > MAX_DOC_WORDS]
    else:
        heavy = {}
    # a truncated document is not silent: it keeps its status but says
    # how many words it kept, on the recognizer outcome channel
    truncated = {
        d: f"Truncated: kept the first {MAX_DOC_WORDS} of {n} OCR words"
        for d, n in heavy.items()
    }
    if truncated:
        pdf = (
            pdf.sort_values(
                ["doc_id", "page", "line_id", "word_id"], kind="mergesort"
            )
            .groupby("doc_id", sort=False)
            .head(MAX_DOC_WORDS)
        )
    clustered = cluster_lines(pdf)
    frags_all = fragments_view(clustered)
    # frag rows are already in reading order per doc (frag_key monotone);
    # slice per-doc ranges with numpy instead of groupby DataFrames
    doc_ids = frags_all["doc_id"].to_numpy()
    texts_all = frags_all["text"].tolist()
    x0_all = frags_all["x0"].to_numpy(dtype="float64")
    y0_all = frags_all["y0"].to_numpy(dtype="float64")
    x1_all = frags_all["x1"].to_numpy(dtype="float64")
    import numpy as np

    # word-row start of each fragment, then the end: fragment j's words
    # are rows wstart[j]:wstart[j + 1] of `clustered`
    fk_words = clustered["frag_key"].to_numpy()
    wstart = np.flatnonzero(np.r_[True, fk_words[1:] != fk_words[:-1], True])
    line_l = clustered["line_id"].tolist()

    boundaries = np.flatnonzero(doc_ids[1:] != doc_ids[:-1]) + 1
    starts = np.concatenate([[0], boundaries])
    ends = np.concatenate([boundaries, [len(doc_ids)]])
    # corrupt (non-finite) geometry is a recognizer-level failure for that
    # document, not a silent empty-fields result — one vectorized pass
    finite_all = np.isfinite(x0_all) & np.isfinite(y0_all) & np.isfinite(x1_all)

    out_ids, out_fields, out_flids, out_status, out_ns = [], [], [], [], []
    for s, e in zip(starts, ends):
        doc_id = doc_ids[s]
        texts = texts_all[s:e]
        fx0, fy, fx1 = x0_all[s:e], y0_all[s:e], x1_all[s:e]
        t0 = _time.perf_counter_ns()
        try:
            if not finite_all[s:e].all():
                raise ValueError("non-finite bbox geometry in OCR words")
            grid = infer_grid_arrays(texts, fx0, fy, fx1)
            fields, used = extract_fields_arrays(
                texts, fx0, fy, fx1, grid, format_of_doc_id(doc_id), configs
            )
            status = ("succeeded", [])
        except Exception as exc:
            # per-document isolation: this doc degrades to "nothing
            # recognized" (full error channel downstream); others proceed.
            # WHY it failed is recorded — the reference's RecognizerErrors.
            fields, used = {}, set()
            status = ("failed", [f"{type(exc).__name__}: {exc}"])
        if doc_id in truncated:
            status[1].insert(0, truncated[doc_id])
        out_ns.append(_time.perf_counter_ns() - t0)
        out_ids.append(doc_id)
        out_fields.append(fields)
        out_status.append(status)
        out_flids.append(
            sorted({ln for i in used for ln in line_l[wstart[s + i] : wstart[s + i + 1]]})
        )
    # amortize everything outside the per-doc loop evenly
    n_docs = len(out_ids)
    overhead = max(_time.perf_counter_ns() - t_batch0 - sum(out_ns), 0)
    share = overhead / n_docs if n_docs else 0.0
    out_ms = [(ns + share) / 1e6 for ns in out_ns]
    return out_ids, out_fields, out_flids, out_status, out_ms


def _extract_batch_arrow(pdf: pd.DataFrame, configs: dict | None = None, engine=None):
    """One kernel chunk -> FIELDS_SCHEMA RecordBatch. The fields dicts
    cross to header_raw/lines_raw through the shredder's raw bridge
    (operators.shred.raw_arrays); the other columns straight from the
    kernel's per-document lists. With `engine` (an EngineSpec), the chunk
    is also shredded here, in the same worker (operators.shred.shred_batch)
    -> SHREDDED_SCHEMA RecordBatch."""
    import pyarrow as pa

    out_ids, out_fields, out_flids, out_status, out_ms = _extract_core(pdf, configs)
    header_arr, lines_arr = raw_arrays(out_fields)
    flid_arr = pa.array(out_flids, pa.list_(pa.int32()))
    status_arr = pa.array([s[0] for s in out_status], pa.string())
    rerr_arr = pa.array([s[1] for s in out_status], pa.list_(pa.string()))
    ms_arr = pa.array(out_ms, pa.float64())
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(out_ids, pa.string()),
            header_arr,
            lines_arr,
            flid_arr,
            status_arr,
            rerr_arr,
            ms_arr,
        ],
        schema=_arrow_fields_schema(),
    )
    return batch if engine is None else shred_batch(batch, engine)


# kernel chunk target: per-batch fixed costs amortize up to ~64k rows;
# beyond that pandas working sets fall out of cache (measured sweet spot)
_KERNEL_CHUNK_ROWS = 65536

# Arrow output schema mirroring FIELDS_SCHEMA (mapInArrow hands us raw
# RecordBatches both ways; doing our own pandas conversion with
# split_blocks/self_destruct costs ~5% of what the generic pandas-UDF
# serializer spends per column)
@functools.cache
def _arrow_fields_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(FIELDS_SCHEMA)


def _extract_iter_arrow_grouped(batches, configs: dict | None = None, engine=None):
    """mapInArrow kernel over the grouped boundary shape
    (doc_id, words:array<struct<page,line_id,word_id,text,x0,y0,x1,y1>>).

    Each input row is one whole document, so doc contiguity is free: no
    factorize/argsort/take over the word rows. The list column flattens
    zero-copy into per-word arrays; doc_id expands to a per-word column as
    an object-pointer repeat (pointers to the ~n_docs shared strings, not
    string copies). Chunking walks doc boundaries via the cumulative word
    counts: ~_KERNEL_CHUNK_ROWS-word chunks of whole documents (a doc
    larger than the target is a chunk of its own). `engine`:
    _extract_batch_arrow's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    del batches
    ids = tbl.column("doc_id").combine_chunks()
    words = tbl.column("words").combine_chunks()
    del tbl
    counts = pc.list_value_length(words).to_numpy().astype(np.int64)
    values = words.flatten()  # StructArray: one row per word, doc-contiguous
    del words
    doc_ids = np.repeat(ids.to_numpy(zero_copy_only=False), counts)
    pdf = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "page": values.field("page").to_numpy(zero_copy_only=False),
            "line_id": values.field("line_id").to_numpy(zero_copy_only=False),
            "word_id": values.field("word_id").to_numpy(zero_copy_only=False),
            "text": values.field("text").to_numpy(zero_copy_only=False),
            "x0": values.field("x0").to_numpy(zero_copy_only=False),
            "y0": values.field("y0").to_numpy(zero_copy_only=False),
            "x1": values.field("x1").to_numpy(zero_copy_only=False),
            "y1": values.field("y1").to_numpy(zero_copy_only=False),
        }
    )
    del values
    cum = np.concatenate([[0], np.cumsum(counts)])
    n_docs = len(counts)
    d = 0
    while d < n_docs:
        e = int(np.searchsorted(cum, cum[d] + _KERNEL_CHUNK_ROWS, side="right")) - 1
        e = min(max(e, d + 1), n_docs)  # >=1 doc of progress, <=n_docs
        yield _extract_batch_arrow(pdf.iloc[cum[d] : cum[e]], configs, engine)
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
    header_raw, lines_raw, field_line_ids, recognizer status/errors,
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
    extracted field value, else 'boilerplate' (form decoration);
    text span  -> 'boilerplate' per the L5 block scorer, else 'content'.
    Order (offset) is preserved — the north rule compares sequences."""
    return F.transform(
        F.col("spans"),
        lambda s: F.struct(
            F.when(
                s["kind"] == "media",
                F.when(
                    # media_ref ends '#p<page>L<line>': all text after the
                    # last 'L' is the line id (try_cast nulls anything else;
                    # the contains-'L' gate keeps a purely numeric ref from
                    # casting to a line id) — regexp_extract here cost ~1us
                    # x every media span in an interpreted projection
                    F.contains(s["media_ref"], F.lit("L"))
                    & F.array_contains(
                        F.coalesce(F.col("field_line_ids"), F.array().cast("array<int>")),
                        F.substring_index(s["media_ref"], "L", -1).try_cast("int"),
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
    model stamp join still applies).

    `registry` (optional): a model-registry frame (registry.REGISTRY_SCHEMA).
    Its latest per-format config version drives the layout kernel, and the
    winning (model_id, model_version) is stamped on every output row via a
    broadcast argmax join on the doc_id's format prefix — the reference's
    GetModelByDocumentFormat lookup (HorusSql.cs:77-81) done once per job
    instead of once per document.

    `heavy_words` (optional): weight-bucket threshold for heavy-tailed
    corpora — docs at >= heavy_words OCR words route to a round-robin
    count-balanced tier ahead of the extraction kernel instead of the
    doc_id hash (see _grouped_words; output values identical)."""
    configs = None
    model_dim = None
    if registry is not None:
        from horus_spark.registry import latest_configs, latest_models

        configs = latest_configs(registry)
        model_dim = latest_models(registry).select(
            F.col("document_format").alias("__fmt"),
            "model_id",
            F.col("model_version").cast("string").alias("model_version"),
        )
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
        }
    )
    if model_dim is not None:
        joined = (
            joined.withColumn("__fmt", F.substring_index(F.col("doc_id"), "-", 1))
            .join(F.broadcast(model_dim), "__fmt", "left")
            .drop("__fmt")
        )
    return finish(joined, carry=["spans_out"])
