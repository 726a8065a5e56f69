"""End-to-end golden tests: seeded corpus -> full pipeline -> exact
span-sequence equality (kind, text, media_ref, order) per BASELINE.json,
plus shredded-document reconciliation against the expected tables
(comparator semantics per reference Horus.Inspector/Inspector.cs:292-306:
decimals at 2dp, dates at day granularity, strings exact)."""

import pyspark.sql.functions as F
import pytest

from horus_spark.fixtures.generator import corpus_pandas, corpus_spark
from horus_spark.pipeline import run_extraction

N = 80


@pytest.fixture(scope="module")
def extracted(spark):
    c = corpus_spark(spark, N, partitions=4)
    out = run_extraction(c["documents"], c["ocr_words"]).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def golden():
    return corpus_pandas(N)


def test_span_sequence_equality(spark, extracted, golden):
    exp = spark.createDataFrame(
        [(r["doc_id"], r["spans_out"]) for _, r in golden["expected_spans"].iterrows()],
        "doc_id string, e_spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    j = extracted.select("doc_id", "spans_out").join(exp, "doc_id")
    assert j.count() == N
    assert j.filter(F.col("spans_out") != F.col("e_spans")).count() == 0


def test_header_fields_match_expected(spark, extracted, golden):
    exp = spark.createDataFrame(
        golden["expected_documents"][
            ["doc_id", "account", "postal_code", "pre_tax_total", "tax_total",
             "shipping_total", "grand_total", "document_number", "document_date"]
        ]
    ).select(
        "doc_id",
        F.col("account").alias("e_account"),
        F.col("postal_code").alias("e_pc"),
        F.col("pre_tax_total").alias("e_pre"),
        F.col("tax_total").alias("e_tax"),
        F.col("shipping_total").alias("e_ship"),
        F.col("grand_total").alias("e_grand"),
        F.col("document_number").alias("e_num"),
        F.col("document_date").alias("e_date"),
    )
    j = extracted.join(exp, "doc_id")
    bad = j.filter(
        (F.round("net_total", 2) != F.round("e_pre", 2))
        | (F.round("vat_amount", 2) != F.round("e_tax", 2))
        | (F.round("shipping_total", 2) != F.round("e_ship", 2))
        | (F.round("grand_total", 2) != F.round("e_grand", 2))
        | (F.col("account") != F.col("e_account"))
        | (F.col("post_code") != F.col("e_pc"))
        | (F.col("document_number") != F.col("e_num"))
        | (F.to_date("tax_date") != F.to_date("e_date"))  # day-granularity
    )
    assert bad.count() == 0


def test_line_items_match_expected(spark, extracted, golden):
    el = spark.createDataFrame(golden["expected_lines"]).withColumn(
        "line_no", F.lpad("line_number", 2, "0")
    )
    act = extracted.select("doc_id", F.explode("line_items").alias("li")).select(
        "doc_id",
        F.col("li.line_no").alias("line_no"),
        F.col("li.net_amount").alias("a_net"),
        F.col("li.item_description").alias("a_desc"),
        F.col("li.line_quantity").alias("a_qty"),
        F.col("li.taxable_indicator").alias("a_tax"),
    )
    j = act.join(el, ["doc_id", "line_no"], "full")
    bad = j.filter(
        F.col("a_net").isNull()
        | F.col("discounted_goods_value").isNull()
        | (F.round("a_net", 2) != F.round("discounted_goods_value", 2))
        | (F.col("a_desc") != F.concat_ws(" ", "isbn", "title"))
        | (F.col("a_qty").cast("double") != F.col("quantity"))
        | (F.col("a_tax").isNotNull() != F.col("taxable"))
    )
    assert bad.count() == 0


def test_recognizer_status_and_time_to_shred(extracted):
    """P-channel integration of the round-3 additions: per-doc measured
    TimeToShred (HorusProcessingEngine.cs:15-16,87-88), RecognizerStatus/
    RecognizerErrors (Models/Document.cs:20-105) and the run stamps
    (HorusSql.cs:244-249) on every header row."""
    rows = extracted.select(
        "recognizer_status", "recognizer_errors", "time_to_shred_ms",
        "shredding_utc_datetime", "unique_run_identifier",
    ).collect()
    assert all(r.recognizer_status == "succeeded" for r in rows)
    assert all(r.recognizer_errors == [] for r in rows)
    # measured, plausible per-doc wall time: nonzero, under 5 s/doc
    assert all(0 < r.time_to_shred_ms < 5000 for r in rows)
    assert all(r.shredding_utc_datetime is not None for r in rows)
    run_ids = {r.unique_run_identifier for r in rows}
    assert len(run_ids) == 1 and None not in run_ids


def test_output_schema_is_extracted_document(extracted):
    """run_extraction's output is schema.EXTRACTED_DOCUMENT: the same
    columns in the same order, each of the same type."""
    from horus_spark import schema as S

    assert [(f.name, f.dataType.simpleString()) for f in extracted.schema] == [
        (f.name, f.dataType.simpleString()) for f in S.EXTRACTED_DOCUMENT
    ]


def test_thumbprint_known_value(spark):
    """Pin the exact thumbprint byte layout: md5 over the span texts joined
    by ASCII RS (0x1E), space-separated uppercase hex pairs
    (reference DocumentProcessor.cs:217-223). The hardcoded value was
    computed independently with hashlib; if the separator in
    pipeline.thumbprint_expr ever changes (e.g. the escaped "\\x1e" being
    'normalized' to an empty string), this fails."""
    from horus_spark.pipeline import thumbprint_expr

    df = spark.createDataFrame(
        [("d1", [("text", "hello world", "", 0), ("text", "of forms", "", 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = df.select(thumbprint_expr().alias("t")).collect()[0].t
    assert got == "5A E4 D2 33 E0 0E 3E 1F 2C FA C9 0E 26 0F AC C7"


def test_unmatched_document_still_produces_row(spark):
    """A document with no OCR words must yield a row with error rows, not
    vanish (per-document isolation, DocumentProcessor.cs:101-106)."""
    docs = spark.createDataFrame(
        [("abc-INVOICE-99999.pdf", [("text", "hello world of forms", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    words = spark.createDataFrame(
        [],
        "doc_id string, page int, line_id int, word_id int, text string, bbox array<float>, confidence float",
    )
    out = run_extraction(docs, words).collect()
    assert len(out) == 1
    assert out[0].is_valid is True  # header errors are warnings only
    assert len(out[0].errors) == 10  # all header fields missing
    assert out[0].spans_out[0].kind == "content"
    assert out[0].recognizer_status == "notfound"  # recognizer never saw it


def test_heavy_doc_truncated_and_isolated(spark):
    """Skew guard + per-document isolation: a pathological megaword doc is
    word-capped inside the kernel, a doc with broken geometry degrades to
    the full error channel, and neither disturbs the other documents in
    the same batch."""
    import pandas as pd

    from horus_spark.fixtures.generator import corpus_pandas
    from horus_spark import pipeline as P
    from horus_spark import schema as S

    c = corpus_pandas(3)
    words = c["ocr_words"]
    # heavy doc: 30k words of noise (over the 20k cap)
    heavy = pd.DataFrame(
        {
            "doc_id": "abc-INVOICE-99999.pdf",
            "page": 1,
            "line_id": [i // 10 for i in range(30000)],
            "word_id": [i % 10 for i in range(30000)],
            "text": "x",
            "bbox": [[0.1, 0.1, 0.2, 0.1, 0.2, 0.2, 0.1, 0.2]] * 30000,
            "confidence": 0.9,
        }
    )
    # poison doc: NaN geometry
    poison = pd.DataFrame(
        {
            "doc_id": "abc-INVOICE-99998.pdf",
            "page": 1,
            "line_id": [0, 0],
            "word_id": [0, 1],
            "text": ["INVOICE", "nan-geom"],
            "bbox": [[float("nan")] * 8] * 2,
            "confidence": 0.9,
        }
    )
    all_words = pd.concat([words, heavy, poison], ignore_index=True)
    docs = pd.DataFrame(
        {
            "doc_id": list(c["documents"]["doc_id"])
            + ["abc-INVOICE-99999.pdf", "abc-INVOICE-99998.pdf"],
            "spans": list(c["documents"]["spans"]) + [[], []],
        }
    )
    sdocs = spark.createDataFrame(docs, S.DOCUMENTS)
    swords = spark.createDataFrame(all_words, S.OCR_WORDS)
    out = {r.doc_id: r for r in P.run_extraction(sdocs, swords).collect()}
    assert len(out) == 5
    # the three normal docs still extract fully
    for d in c["documents"]["doc_id"]:
        assert out[d].document_number is not None
    # poison doc degraded to the full error channel, not a task failure,
    # and the WHY is recorded on the recognizer outcome channel
    assert out["abc-INVOICE-99998.pdf"].warning_error_count >= 10
    assert out["abc-INVOICE-99998.pdf"].recognizer_status == "failed"
    assert len(out["abc-INVOICE-99998.pdf"].recognizer_errors) == 1
    for d in c["documents"]["doc_id"]:
        assert out[d].recognizer_status == "succeeded"


@pytest.mark.parametrize("seed,base", [(7, 40000), (77, 50000), (2026, 61000)])
def test_multi_seed_span_and_field_parity(spark, seed, base):
    """The seed-42 goldens could in principle be overfit; three unrelated
    seeds/number-ranges must ALSO produce exact span-sequence equality and
    mini-shredder field parity end-to-end."""
    from horus_spark.fixtures.generator import corpus_spark as cs
    from horus_spark.fixtures.oracle_shred import expected_shred

    n = 40
    c = cs(spark, n, base=base, seed=seed, partitions=4)
    out = run_extraction(c["documents"], c["ocr_words"]).cache()
    try:
        rows = {r.doc_id: r for r in out.collect()}
        assert len(rows) == n
        from horus_spark.fixtures.generator import generate_batch

        for d in generate_batch(range(base + 1, base + 1 + n), seed):
            r = rows[d["doc_id"]]
            # exact span-sequence equality (kind, text, media_ref, order)
            got_spans = [
                (s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out
            ]
            exp_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["expected_spans"]
            ]
            assert got_spans == exp_spans, d["doc_id"]
            # typed header/field parity via the independent mini-shredder
            exp = expected_shred(d["fields"])
            assert len(r.line_items) == exp["n_lines"], d["doc_id"]
            assert len(r.errors) == exp["n_errors"], d["doc_id"]
            assert r.is_valid == exp["is_valid"], d["doc_id"]
            assert r.account == exp["account"], d["doc_id"]
            assert round(r.grand_total, 2) == exp["grand_total"], d["doc_id"]
    finally:
        out.unpersist()


def test_grouped_kernel_empty_input(spark):
    """An empty grouped batch yields no rows, and recognize() over a
    zero-row ocr_words frame returns zero rows with FIELDS_SCHEMA's
    columns and types."""
    from horus_spark import pipeline as P
    from horus_spark import schema as S

    c = corpus_spark(spark, 2, partitions=1)
    empty = P._grouped_words(c["ocr_words"]).toArrow().to_batches()[0].slice(0, 0)
    out = list(P._extract_iter_arrow_grouped(iter([empty])))
    assert sum(b.num_rows for b in out) == 0

    rec = P.recognize(spark.createDataFrame([], S.OCR_WORDS))
    want = spark.createDataFrame([], P.FIELDS_SCHEMA).schema
    assert [(f.name, f.dataType.simpleString()) for f in rec.schema] == [
        (f.name, f.dataType.simpleString()) for f in want
    ]
    assert rec.collect() == []


def test_boundary_shapes_agree(spark):
    """The grouped Arrow boundary (collect_list per doc, streamed through
    mapInArrow) only changes HOW words cross the JVM<->Python stream, never
    what the kernel computes: recognize() over Spark must equal the kernel
    run directly on the same words as one flat, doc-contiguous table on the
    driver. Differential over a fresh corpus, all columns except the
    wall-clock timer."""
    import pyarrow as pa

    from horus_spark import pipeline as P

    c = corpus_spark(spark, 60, partitions=4)
    words = c["ocr_words"]

    spark_rows = [
        r.asDict(recursive=True)
        for r in P.recognize(words).drop("time_to_shred_ms").sort("doc_id").collect()
    ]
    flat = (
        words.toPandas()
        .sort_values(["doc_id", "page", "line_id", "word_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    direct = pa.Table.from_batches([P._extract_batch_arrow(flat)])
    direct_rows = sorted(
        direct.drop_columns(["time_to_shred_ms"]).to_pylist(),
        key=lambda r: r["doc_id"],
    )

    assert len(spark_rows) == len(direct_rows) == 60
    assert spark_rows == direct_rows


def test_grouped_kernel_chunking_doc_aligned(spark, monkeypatch):
    """Chunk boundaries in the grouped kernel walk whole documents, and the
    kernel's output does not depend on how documents are batched: with a
    tiny chunk target (every doc is a chunk of its own, each larger than
    the target) and with the default target (all docs in one chunk), the
    full output rows agree except the wall-clock timer, one per doc, none
    split or dropped. Row order is not part of the contract: a chunk's
    rows come out in the kernel's reading order, not input order."""
    import pyarrow as pa

    from horus_spark import pipeline as P

    c = corpus_spark(spark, 25, partitions=2)
    grouped = P._grouped_words(c["ocr_words"]).toArrow()
    batches = grouped.to_batches()

    def run():
        out = list(P._extract_iter_arrow_grouped(iter(batches)))
        rows = pa.Table.from_batches(out).drop_columns(["time_to_shred_ms"])
        return len(out), sorted(rows.to_pylist(), key=lambda r: r["doc_id"])

    n_default, default_rows = run()
    monkeypatch.setattr(P, "_KERNEL_CHUNK_ROWS", 8)  # far below any doc's words
    n_tiny, tiny_rows = run()
    assert (n_default, n_tiny) == (1, 25)
    assert tiny_rows == default_rows
    ids = [r["doc_id"] for r in tiny_rows]
    assert ids == sorted(grouped.column("doc_id").to_pylist())
    assert len(set(ids)) == 25
