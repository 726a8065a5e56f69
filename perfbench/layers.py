"""Per-layer probes for the traced run.

Each probe calls one ``horus_spark`` module's public functions from the
benchmark's own code, inside tracer spans named after the module, and
returns metrics as {name: (value, unit)}. Every probe runs on the
workload's own corpus, so a traced run of any workload reports every
layer:

- ``operators.layout`` / ``operators.fields``: single-thread, in-process
  pandas calls on a fixed sample (the first ``SAMPLE_DOCS`` documents), in
  the order the extraction kernel makes them.
- ``pipeline``: Spark ``recognize`` and a re-shred from its staged
  output, per-document kernel times, and exact per-partition loads.
- ``operators.html``: the three HTML tiers over the corpus's pages.
- ``sources.sink``: a checkpointed run with an injected crash and a
  resume, ``write_extracted`` and ``read_output`` over the sample.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from perfbench.check import is_injected_crash
from perfbench.stats import median, percentile

SAMPLE_DOCS = 500
SINK_CHUNKS = 2


def _timed(tracer, name: str, fn):
    t0 = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return out, time.perf_counter() - t0


def _sample_parts(corpus, table: str) -> list[str]:
    """Leading part files holding at least SAMPLE_DOCS documents (parts
    are contiguous, equal-sized document-number ranges)."""
    parts = sorted(glob.glob(os.path.join(corpus.table(table), "part-*.parquet")))
    per_part = corpus.n_docs / len(parts)
    return parts[: max(1, min(len(parts), -(-SAMPLE_DOCS // int(per_part))))]


def _sample_words(corpus):
    """The sample's OCR words as the kernel sees them: bbox flattened to
    x0/y0/x1/y1 exactly like the pipeline's JVM-side projection."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.concat_tables(pq.read_table(p) for p in _sample_parts(corpus, "ocr_words"))
    ids = t.column("doc_id").to_numpy(zero_copy_only=False)
    keep_ids = pd.unique(ids)[:SAMPLE_DOCS]
    mask = np.isin(ids, keep_ids)
    b = np.asarray(t.column("bbox").combine_chunks().flatten().to_numpy(), dtype=np.float64)
    b = b.reshape(-1, 8)[mask]
    return pd.DataFrame(
        {
            "doc_id": ids[mask],
            "page": t.column("page").to_numpy()[mask],
            "line_id": t.column("line_id").to_numpy()[mask],
            "word_id": t.column("word_id").to_numpy()[mask],
            "text": t.column("text").to_numpy(zero_copy_only=False)[mask],
            "x0": np.minimum(b[:, 0], b[:, 6]),
            "y0": np.minimum(b[:, 1], b[:, 3]),
            "x1": np.maximum(b[:, 2], b[:, 4]),
            "y1": np.maximum(b[:, 5], b[:, 7]),
        }
    )


def probe_kernel(corpus, tracer) -> dict:
    """operators.layout + operators.fields, single thread."""
    import numpy as np

    from horus_spark.config import format_of_doc_id
    from horus_spark.operators.fields import extract_fields_arrays
    from horus_spark.operators.layout import cluster_lines, fragments_view, infer_grid_arrays

    words = _sample_words(corpus)
    clustered, t_cluster = _timed(tracer, "operators.layout.cluster_lines", lambda: cluster_lines(words))
    frags, t_frags = _timed(tracer, "operators.layout.fragments_view", lambda: fragments_view(clustered))
    doc_ids = frags["doc_id"].to_numpy()
    texts = frags["text"].tolist()
    x0 = frags["x0"].to_numpy(dtype="float64")
    y0 = frags["y0"].to_numpy(dtype="float64")
    x1 = frags["x1"].to_numpy(dtype="float64")
    cuts = np.flatnonzero(doc_ids[1:] != doc_ids[:-1]) + 1
    starts, ends = np.concatenate([[0], cuts]), np.concatenate([cuts, [len(doc_ids)]])
    t_grid = t_fields = 0.0
    found = 0
    for s, e in zip(starts, ends):
        grid, dt = _timed(tracer, "operators.layout.infer_grid_arrays",
                          lambda: infer_grid_arrays(texts[s:e], x0[s:e], y0[s:e], x1[s:e]))
        t_grid += dt
        (fields, _used), dt = _timed(
            tracer, "operators.fields.extract_fields_arrays",
            lambda: extract_fields_arrays(texts[s:e], x0[s:e], y0[s:e], x1[s:e], grid,
                                          format_of_doc_id(doc_ids[s]), None))
        t_fields += dt
        found += len(fields)
    n_docs = len(starts)
    return {
        "layout.cluster_lines_s": (t_cluster, "s"),
        "layout.fragments_view_s": (t_frags, "s"),
        "layout.infer_grid_s": (t_grid, "s"),
        "layout.words": (len(words), "count"),
        "layout.fragments": (len(frags), "count"),
        "fields.extract_s": (t_fields, "s"),
        "fields.found": (found, "count"),
        "pipeline.kernel_docs_per_s_1t": (n_docs / (t_cluster + t_frags + t_grid + t_fields), "docs/s"),
    }


def probe_pipeline(spark, wl, tracer, work_dir: str) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from horus_spark.pipeline import recognize, run_extraction
    from perfbench.workloads import execute

    _, t_rec = _timed(tracer, "pipeline.recognize", lambda: recognize(wl.words).count())
    # stage the recognize output with the partition each document's kernel
    # call ran in (a projection: no extra exchange)
    staged = os.path.join(work_dir, "probe", "fields")
    recognize(wl.words).withColumn("__pid", F.spark_partition_id()).write.mode("overwrite").parquet(staged)
    fields_df = spark.read.parquet(staged).drop("__pid")
    _, t_reshred = _timed(tracer, "pipeline.run_extraction",
                          lambda: execute(run_extraction(wl.documents, None, fields_df=fields_df)))
    t = pq.read_table(staged, columns=["doc_id", "__pid", "time_to_shred_ms"])
    shred_ms = t.column("time_to_shred_ms").to_pylist()
    # exact load per kernel task: documents, and OCR words from the inputs
    counts = pc.value_counts(pq.read_table(wl.corpus.table("ocr_words"), columns=["doc_id"]).column(0))
    n_words = dict(zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist()))
    docs: dict[int, int] = {}
    words: dict[int, int] = {}
    for doc_id, pid in zip(t.column("doc_id").to_pylist(), t.column("__pid").to_pylist()):
        docs[pid] = docs.get(pid, 0) + 1
        words[pid] = words.get(pid, 0) + n_words[doc_id]
    return {
        "pipeline.recognize_s": (t_rec, "s"),
        "pipeline.reshred_s": (t_reshred, "s"),
        "pipeline.shred_ms_p50": (percentile(shred_ms, 50), "ms"),
        "pipeline.shred_ms_p99": (percentile(shred_ms, 99), "ms"),
        "pipeline.partition_docs_max": (max(docs.values()), "count"),
        "pipeline.partition_docs_median": (median(docs.values()), "count"),
        "pipeline.partition_words_max": (max(words.values()), "count"),
        "pipeline.partition_words_median": (median(words.values()), "count"),
    }


def probe_html(spark, wl, tracer) -> dict:
    from pyspark.sql import functions as F

    from horus_spark.operators.html import dom_extract, html_blocks, html_to_spans
    from perfbench.workloads import execute

    pages = spark.read.parquet(wl.corpus.table("pages"))
    _, t_spans = _timed(tracer, "operators.html.html_to_spans", lambda: execute(html_to_spans(pages)))
    _, t_dom = _timed(tracer, "operators.html.dom_extract", lambda: execute(dom_extract(pages)))
    _, t_blocks = _timed(tracer, "operators.html.html_blocks", lambda: execute(html_blocks(pages)))
    counts = html_to_spans(pages).agg(
        F.count("*").alias("pages"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(F.size(F.filter("spans", lambda s: s["kind"] != "text"))).alias("media"),
    ).first()
    return {
        "html.to_spans_s": (t_spans, "s"),
        "html.dom_extract_s": (t_dom, "s"),
        "html.blocks_s": (t_blocks, "s"),
        "html.pages": (counts["pages"], "count"),
        "html.spans": (counts["spans"], "count"),
        "html.media_spans": (counts["media"], "count"),
    }


def _tree_size(path: str) -> tuple[int, int]:
    """(files of any kind, encoded bytes of every parquet file) under
    ``path``. The byte count sums the footers' uncompressed column-chunk
    sizes: compressed sizes and the JSON markers shift by a byte or two
    run to run with the measured times they hold, these do not."""
    import pyarrow.parquet as pq

    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            if n.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(dirpath, n)).metadata
                size += sum(
                    meta.row_group(g).column(c).total_uncompressed_size
                    for g in range(meta.num_row_groups)
                    for c in range(meta.num_columns)
                )
    return files, size


def crash_and_resume(run, half: int, tracer) -> tuple[float, float]:
    """Call ``run(fail_after_chunk=half)``, which must end in the injected
    crash, then ``run()`` to resume, which must skip the ``half`` chunks
    already done. Returns (crash run seconds, resume seconds). Any other
    exception, or a crash run that does not crash, raises."""
    def crash():
        try:
            run(fail_after_chunk=half)
        except RuntimeError as exc:
            if not is_injected_crash(exc):
                raise
        else:
            raise RuntimeError("run_checkpointed ignored the injected crash")

    _, t_crash = _timed(tracer, "sources.sink.run_checkpointed", crash)
    res, t_resume = _timed(tracer, "sources.sink.run_checkpointed", run)
    if res["skipped"] != list(range(half)):
        raise RuntimeError(f"resume did not continue after the crash: {res}")
    return t_crash, t_resume


def probe_sink(spark, wl, tracer, work_dir: str) -> dict:
    from horus_spark.pipeline import run_extraction
    from horus_spark.sources.sink import list_snapshots, read_output, run_checkpointed, write_extracted
    from perfbench.workloads import execute

    docs = spark.read.parquet(*_sample_parts(wl.corpus, "documents"))
    words = spark.read.parquet(*_sample_parts(wl.corpus, "ocr_words"))
    out = os.path.join(work_dir, "probe", "checkpointed")
    shutil.rmtree(out, ignore_errors=True)

    def run(**kw):
        return run_checkpointed(docs, words, out, run_id="probe", n_chunks=SINK_CHUNKS, **kw)

    t_crash, t_resume = crash_and_resume(run, SINK_CHUNKS // 2, tracer)
    walls = []
    for marker in sorted(glob.glob(os.path.join(out, "_checkpoints", "chunk_*.done"))):
        with open(marker) as fh:
            walls.append(json.load(fh)["wall_ms"])
    files, size = _tree_size(out)
    snapshots = len(list_snapshots(out))
    _, t_read = _timed(tracer, "sources.sink.read_output",
                       lambda: execute(read_output(spark, out, "documents_full")))
    wide = os.path.join(work_dir, "probe", "write_extracted")
    shutil.rmtree(wide, ignore_errors=True)
    _, t_write = _timed(tracer, "sources.sink.write_extracted",
                        lambda: write_extracted(run_extraction(docs, words, run_id="probe"), wide))
    total = t_crash + t_resume
    return {
        "sink.run_checkpointed_s": (total, "s"),
        "sink.resume_s": (t_resume, "s"),
        "sink.write_extracted_s": (t_write, "s"),
        "sink.read_output_s": (t_read, "s"),
        "sink.chunk_wall_ms_max": (max(walls), "ms"),
        "sink.chunk_wall_ms_median": (median(walls), "ms"),
        "sink.staging_s": (total - sum(walls) / 1000.0, "s"),
        "sink.bytes_written": (size, "bytes"),
        "sink.files_written": (files, "count"),
        "sink.snapshots": (snapshots, "count"),
    }


def probe_layers(spark, wl, tracer, work_dir: str) -> dict:
    metrics = {}
    metrics.update(probe_kernel(wl.corpus, tracer))
    metrics.update(probe_pipeline(spark, wl, tracer, work_dir))
    metrics.update(probe_html(spark, wl, tracer))
    metrics.update(probe_sink(spark, wl, tracer, work_dir))
    return metrics
