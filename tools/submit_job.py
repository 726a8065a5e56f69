"""Deployment smoke job for the north rule's `spark-submit --py-files`
packaging requirement: the engine must run from a zip of the package with
no repo checkout on the workers.

Run via tools/package_check.sh — from a scratch cwd so `horus_spark` is
importable ONLY through the --py-files zip. Generates a small corpus on
executors, runs the full extraction pipeline, writes the output tables,
runs it again with the bootstrap model registry (every document stamped
with its format's v1 model), runs the HTML -> spans kernel and its
dom_extract projection over synthesized pages, probes that a warm
worker's per-task cache invalidation re-reads no zip archive (the package
itself is one of them here), and prints one JSON line."""

import json
import os
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    n_docs = int(os.environ.get("HORUS_SUBMIT_DOCS", "300"))
    spark = (
        SparkSession.builder.appName("horus_submit_check")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # imports AFTER the session exists: proves the zip on PYTHONPATH works
    # for the driver, and executor tasks resolve it via --py-files shipping
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.operators.html import dom_extract, html_to_spans, synthesize_html
    from horus_spark.pipeline import run_extraction
    from horus_spark.registry import bootstrap_registry
    from horus_spark.session import zip_cache_probe
    from horus_spark.sources.sink import write_extracted

    c = corpus_spark(spark, n_docs, partitions=4)
    extracted = run_extraction(c["documents"], c["ocr_words"])
    out_dir = tempfile.mkdtemp(prefix="horus_submit_")
    write_extracted(extracted, out_dir)
    docs = spark.read.parquet(os.path.join(out_dir, "documents_out"))
    spans = spark.read.parquet(os.path.join(out_dir, "spans_out"))
    n_out, n_valid = docs.count(), docs.filter("is_valid").count()
    stamped = run_extraction(
        c["documents"], c["ocr_words"], registry=bootstrap_registry(spark)
    ).where(F.col("model_version") == "1")
    n_stamped = stamped.count()
    # 41 tokens per page: the h1, 4 chunks and 1 media element = 6 spans
    pages = synthesize_html(
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "concat_ws(' ', transform(sequence(0, 40), i -> 'w' || i))"
            ).alias("text"),
        ),
        media=True,
    )
    n_html = html_to_spans(pages).where(F.size("spans") == 6).count()
    n_dom = dom_extract(pages).where(F.col("n_blocks") == 5).count()
    probe = zip_cache_probe(spark)
    result = {
        "submitted_docs": n_docs,
        "extracted_docs": n_out,
        "valid_docs": n_valid,
        "span_rows": spans.count(),
        "registry_stamped_docs": n_stamped,
        "html_pages": n_html,
        "dom_pages": n_dom,
        "zip_probe": probe,
        "ok": n_out == n_docs
        and n_valid == n_docs
        and n_stamped == n_docs
        and n_html == n_docs
        and n_dom == n_docs
        and probe["zip_paths"] >= 1
        and probe["wrapped"]
        and probe["reads"] == 0,
    }
    print("SUBMIT_RESULT " + json.dumps(result))
    spark.stop()
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
