"""Incremental (streaming) extraction.

The reference is event-driven per document: a blob lands, a queue message
triggers one orchestration (reference Horus.Functions/JobMonitor.cs:28-49).
The Spark-native equivalent is a Structured Streaming file source with
`trigger(availableNow=True)` catch-up semantics: new document files are
discovered, each micro-batch runs the SAME batch pipeline via foreachBatch,
and the checkpoint directory replaces the queue's at-least-once state.

OCR words ride as a static side (stream-static pattern): the per-batch
doc_id set prunes the static scan. Late/duplicate files are handled by the
sink's idempotent per-chunk overwrite (sources/sink.py).

Also here: watermarked windowed aggregation over an event stream — the
streaming-analog of the reference's 5-minute scoring cadence
(Horus.Inspector/TimedInspector.cs:13).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from horus_spark import schema as S


def stream_extraction(
    spark: SparkSession,
    documents_dir: str,
    ocr_words: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    registry: DataFrame | None = None,
    engine: str | None = None,
    sink: str = "tables",
):
    """Incremental extraction over a growing directory of document parquet
    files. Returns the started StreamingQuery. `registry`/`engine` pass
    through to run_extraction — each micro-batch re-resolves the latest
    registered model configs, so a version registered mid-stream takes
    effect on the next batch (the reference's 'train a new model, pipeline
    picks it up' behavior, without restarting the stream).

    `sink` selects the persistence engine (sources/sink.py registry):
    - 'tables' (default): full multi-table output per batch directory
      (idempotent via batch-keyed overwrite).
    - 'versioned': the reference's event-driven re-upload semantics — a
      document file landing AGAIN in a later micro-batch appends
      document_version+1 for its file_name (HorusSql.cs:221-233); the
      foreachBatch batch_id keys the upload directory, so replayed
      batches overwrite themselves and versions stay exactly-once."""
    from horus_spark.pipeline import run_extraction
    from horus_spark.sources.sink import (
        get_persistence_engine,
        write_documents_versioned,
    )

    get_persistence_engine(sink)  # fail fast on unknown engines
    stream = spark.readStream.schema(S.DOCUMENTS).parquet(documents_dir)

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        # prune the static OCR side to this batch's documents (broadcast
        # semi-join on doc_id keeps the static scan proportional to the batch)
        batch_words = ocr_words.join(
            F.broadcast(batch_df.select("doc_id").distinct()), "doc_id", "left_semi"
        )
        extracted = run_extraction(
            batch_df, batch_words, registry=registry, engine=engine
        )
        if sink == "versioned":
            write_documents_versioned(extracted, out_dir, batch_id=batch_id)
        else:
            get_persistence_engine(sink)(
                extracted, os.path.join(out_dir, f"batch={batch_id:06d}")
            )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_sessionize(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    state_timeout_ms: int = 30_000,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: gap-
    based sessionization per user (the streaming analog of the reference's
    per-orchestration running state, DocumentProcessor.cs:52-111 — state
    survives across micro-batches, bounded by an explicit timeout instead
    of durable-function replay).

    Semantics: events for a user belong to one session while consecutive
    event times are within `gap_seconds`. CLOSED sessions are emitted as
    soon as a later event proves the gap (append semantics); the open
    session is held in state and emitted when the state times out after
    `state_timeout_ms` of no new data. Late events beyond a closed session
    start a new session (at-scale choice: no unbounded reopen state). A
    cross-batch straggler landing INSIDE the open session's envelope
    [start - gap, end + gap] merges into it (extending either end); one
    landing more than a gap BEFORE the open session is emitted as its own
    closed single-event session rather than silently absorbed.

    Output: (user_id, session_start, session_end, n_events, total_value).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id string, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    # open-session state: epoch-second bounds + running count/sum
    state_schema = "start long, end long, n long, total double"

    def fn(key, pdf_iter, state: GroupState):
        user_id = key[0]
        closed: list[tuple] = []
        if state.hasTimedOut:
            start, end, n, total = state.get
            closed.append((user_id, start, end, n, total))
            state.remove()
        else:
            if state.exists:
                start, end, n, total = state.get
            else:
                start = end = None
                n, total = 0, 0.0
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                pdf = pdf.sort_values("ts")
                ts = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
                vals = pdf["value"].tolist()
                for t, v in zip(ts, vals):
                    if start is None:
                        start, end, n, total = t, t, 1, float(v)
                    elif t < start - gap_seconds:
                        # a cross-batch straggler from BEFORE the open
                        # session, separated by more than the gap: it is
                        # its own (already provably closed) session — a
                        # negative t-end would otherwise absorb it into
                        # a session it does not belong to (review
                        # finding)
                        closed.append((user_id, t, t, 1, float(v)))
                    elif t - end <= gap_seconds:
                        # within the session envelope: extend BOTH ends
                        # (an out-of-order event inside [start-gap, end]
                        # can stretch session_start backward)
                        start, end, n, total = (
                            min(start, t), max(end, t), n + 1, total + float(v)
                        )
                    else:
                        closed.append((user_id, start, end, n, total))
                        start, end, n, total = t, t, 1, float(v)
            if start is not None:
                state.update((start, end, n, total))
                state.setTimeoutDuration(state_timeout_ms)
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="s")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="s")
            yield out

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_event_metrics(
    events_stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a (ts, event_type,
    value) stream — late data beyond the watermark is dropped, state is
    bounded (the scale-safe default for 100 TB event streams)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: emit the first row seen
    per key; duplicates arriving within the watermark horizon are
    dropped, and key state is evicted once the watermark passes it
    (dropDuplicatesWithinWatermark — without the watermark variant,
    dedup state grows forever, which no 10^12-document stream survives).
    Keys may recur after eviction: the contract is "no duplicates within
    the horizon", the same guarantee the versioned sink's replay-
    idempotent batches rely on; cross-horizon dedup belongs to the batch
    exact_dedup pass downstream."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


SPANS_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)

_MM_INDEX_SCHEMA = "id string, content_md5 string, sig array<bigint>"


def _read_multimodal_index(
    spark: SparkSession, index_dir: str, exclude: str | None = None
) -> DataFrame:
    """Union of all persisted index slices (index_dir/batch=*/), or an
    empty typed frame when none exist yet (a brand-new stream).

    `exclude` skips one slice by name: a REPLAYED micro-batch must not
    see its own previous slice — every doc would self-match as
    exact_existing, zero docs would be 'unique', and the overwrite
    would erase the slice, silently deleting those docs from dedup
    memory. Underscore/dot entries (the _staging area) are never read.

    The empty case is decided by an explicit directory probe, NOT by
    swallowing read errors: a corrupt or unreadable index must FAIL the
    batch — treating it as empty would silently reset the stream's
    dedup memory and admit every duplicate as 'unique'. (The probe is
    driver-local-FS, matching the sink module's manifest handling;
    object stores need the slice listing adapted.)"""
    slices = (
        [
            e
            for e in sorted(os.listdir(index_dir))
            if not e.startswith(("_", ".")) and e != exclude
        ]
        if os.path.isdir(index_dir)
        else []
    )
    if not slices:
        return spark.createDataFrame([], _MM_INDEX_SCHEMA)
    return spark.read.parquet(
        *[os.path.join(index_dir, s) for s in slices]
    ).select("id", "content_md5", "sig")


def stream_multimodal_ingest(
    spark: SparkSession,
    spans_dir: str,
    media: DataFrame | str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    available_now: bool = True,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 1337,
):
    """Continuous ingestion of interleaved documents with CROSS-BATCH
    exact + near multimodal dedup: every micro-batch is judged against
    the rolling persisted fingerprint index, verdicts land in a
    batch-keyed directory under `out_dir`, and the batch's unique docs
    extend the index under `index_dir` before the next batch fires.

    `media` is the asset store — pass a PATH (str) when the store grows
    with the stream: it is re-read at every micro-batch so assets
    uploaded alongside later batches resolve to content hashes. A
    DataFrame is accepted too, but its file listing is FROZEN at stream
    start — refs to assets added later degrade to dangling 'M!' tokens,
    and a renamed re-upload of an old asset would be admitted as
    unique. Use the path form unless the store is truly immutable.

    vs stream_dedup: that operator's state is watermark-bounded — a
    duplicate arriving after the horizon passes undetected. Here the
    state is the durable index (~0.6 KB/doc), so a re-crawl of a
    document seen a billion batches ago is still caught, and NEAR
    duplicates (one swapped image) are caught too, which no
    dropDuplicates variant can do.

    Replay idempotence: a replayed micro-batch reads the index WITHOUT
    its own previous slice (see _read_multimodal_index — including it
    would self-match every doc and erase the slice), recomputes the
    same verdicts, and overwrites its own batch-keyed outputs. The
    batch's full index rows are staged ONCE under index_dir/_staging
    and feed both the verdict tiers and the unique-slice write — the
    fingerprint + signature pipeline runs once per batch. Pre-seed an
    existing corpus by writing build_multimodal_index output to
    `index_dir/batch=seed/`. Returns the started StreamingQuery."""
    stream = spark.readStream.schema(SPANS_SCHEMA).parquet(spans_dir)

    def process_batch(batch_df: DataFrame, batch_id: int):
        _ingest_spans_batch(
            spark, batch_df, batch_id, media, out_dir, index_dir,
            k=k, bands=bands, threshold=threshold, seed=seed,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ingest_spans_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    media: DataFrame | str,
    out_dir: str,
    index_dir: str,
    k: int,
    bands: int,
    threshold: float,
    seed: int,
) -> None:
    """One micro-batch of the rolling-index ingest (shared by the span
    and HTML fronts): judge the batch against the index-minus-own-slice,
    write batch-keyed verdicts, extend the index with the uniques."""
    from horus_spark.operators.dedup import incremental_verdicts
    from horus_spark.operators.interleave import build_multimodal_index

    if batch_df.isEmpty():
        return
    mdf = spark.read.parquet(media) if isinstance(media, str) else media
    slice_name = f"batch={batch_id:06d}"
    index = _read_multimodal_index(spark, index_dir, exclude=slice_name)
    bdir = os.path.join(index_dir, "_staging", slice_name)
    build_multimodal_index(batch_df, mdf, k=k, seed=seed).write.mode(
        "overwrite"
    ).parquet(bdir)
    bidx = spark.read.parquet(bdir)
    verdicts = incremental_verdicts(
        bidx, index, k=k, bands=bands, threshold=threshold
    )
    vdir = os.path.join(out_dir, slice_name)
    verdicts.write.mode("overwrite").parquet(vdir)
    uniq = (
        spark.read.parquet(vdir)
        .filter(F.col("verdict") == "unique")
        .select(F.col("doc_id").alias("id"))
    )
    bidx.join(uniq, "id").write.mode("overwrite").parquet(
        os.path.join(index_dir, slice_name)
    )


def stream_html_ingest(
    spark: SparkSession,
    pages_dir: str,
    media: DataFrame | str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    available_now: bool = True,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 1337,
):
    """Continuous CRAWL ingestion: micro-batches of raw pages
    (doc_id, html) are converted to the interleaved span schema with
    html_to_spans (DOM-tree main-content extraction — boilerplate and
    nav/footer media stripped before spans exist) and then run through
    the same rolling-index exact+near dedup as stream_multimodal_ingest:
    verdicts batch-keyed under `out_dir`, unique docs extend the
    persisted index before the next batch. A re-crawl of a page seen
    any number of batches ago — byte-identical, asset-renamed, or
    one-image-swapped — is caught against the durable index; replayed
    micro-batches recompute identical verdicts and overwrite their own
    batch-keyed outputs (exactly-once downstream semantics). `media`
    as a PATH is re-read per batch so assets uploaded alongside later
    crawl batches resolve; see stream_multimodal_ingest for the frozen
    DataFrame caveat. Returns the started StreamingQuery."""
    from horus_spark.operators.html import html_to_spans

    stream = spark.readStream.schema(
        "doc_id string, html string"
    ).parquet(pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        _ingest_spans_batch(
            spark, html_to_spans(batch_df), batch_id, media, out_dir,
            index_dir, k=k, bands=bands, threshold=threshold, seed=seed,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_DOCS_SCHEMA = "doc_id string, text string"


def _sketch_batch(
    batch_df: DataFrame, batch_id: int, sketch_dir: str, d: int, w: int
) -> None:
    """One micro-batch of stream_sketch_maintenance: sketch the batch's
    tokens and overwrite the batch-keyed slice. Module-level so replay
    can be exercised directly in tests."""
    from pyspark.sql import functions as F

    from horus_spark.operators.sketches import cms_sketch

    toks = batch_df.select(
        F.explode(
            F.filter(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                    r"\s+",
                ),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    cms_sketch(toks, "tok", d=d, w=w).write.mode("overwrite").parquet(
        f"{sketch_dir}/batch={batch_id}"
    )


def stream_sketch_maintenance(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 1024,
    available_now: bool = True,
):
    """Continuously maintain a corpus token-frequency count-min sketch
    over a document stream — the streaming face of cms_sketch, built
    entirely on the sketch's ADDITIVITY: each micro-batch writes its
    own d*w-bounded partial-cell slice under sketch_dir/batch=<id>/
    (batch-keyed OVERWRITE, so a replayed batch rewrites identical
    cells instead of double-counting — the same idempotence contract
    as the versioned sink), and the live sketch at any moment is
    read_sketch's sum over slices. No read-modify-write of shared
    state, no stateful-operator memory: the only state is bounded
    parquet slices that merge by addition, so the stream can run for
    years and the sketch read stays O(batches * d * w) -> compact
    slices periodically by re-summing old batches into one (same
    additivity). Returns the started StreamingQuery."""
    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _sketch_batch(df, bid, sketch_dir, d, w)
        ).option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The live merged CMS from a stream_sketch_maintenance directory:
    sum the batch slices cell-wise (exact by additivity — bit-identical
    to sketching the whole corpus at once, pinned by pytest). Feed the
    result to cms_estimate."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row_i", "col_j")
        .agg(F.sum("c").alias("c"))
    )


_FEEDS_SCHEMA = "src string, feed_xml string"


def _feed_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    seen_dir: str,
) -> None:
    """One micro-batch of stream_feed_ingest: parse the batch's feed
    bodies, canonicalize entry links, drop URLs the durable seen set
    already holds, write the batch-keyed discovery slice AND the
    batch-keyed seen extension (both overwrite on replay — idempotent).
    Module-level so replay is exercised directly in tests."""
    from horus_spark.operators.feeds import parse_feeds
    from horus_spark.operators.urls import canonicalize_url_expr

    entries = parse_feeds(batch_df).select(
        canonicalize_url_expr(F.col("link")).alias("url"),
        "src", "entry_pos", "title", "published",
    )
    # within-batch dedup: deterministic winner per canonical URL
    batch_urls = (
        entries.groupBy("url")
        .agg(
            F.min(
                F.struct("src", "entry_pos", "title", "published")
            ).alias("m")
        )
        .select(
            "url", F.col("m.src").alias("src"),
            F.col("m.title").alias("title"),
            F.col("m.published").alias("published"),
        )
    )
    # read every seen slice EXCEPT this batch's own: on replay the
    # first run's batch=N slice must not veto its own URLs, or the
    # replayed slice would come out empty instead of identical
    slices = (
        [
            os.path.join(seen_dir, name)
            for name in sorted(os.listdir(seen_dir))
            if name.startswith("batch=") and name != f"batch={batch_id}"
        ]
        if os.path.isdir(seen_dir)
        else []
    )
    seen = (
        spark.read.parquet(*slices).select("url") if slices else None
    )
    new = (
        batch_urls.join(seen, "url", "left_anti")
        if seen is not None
        else batch_urls
    )
    new = new.localCheckpoint(eager=False)  # two consumers, one compute
    new.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch={batch_id}")
    )
    new.select("url").write.mode("overwrite").parquet(
        os.path.join(seen_dir, f"batch={batch_id}")
    )


def stream_feed_ingest(
    spark: SparkSession,
    feeds_dir: str,
    out_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous FEED polling — the discovery stream next to the crawl
    ingest (stream_html_ingest): micro-batches of raw syndication
    bodies (src, feed_xml) parquet files are parsed (RSS <item> + Atom
    <entry>, operators/feeds.py), entry links are fully canonicalized
    (tracking params stripped, params sorted — urls.py, so a
    utm-tagged re-announcement of a known URL can never re-enter the
    frontier), and only URLs absent from the durable SEEN set survive
    into the batch-keyed discovery slice under `out_dir` — the queue a
    frontier builder consumes. The seen set itself is extended with
    batch-keyed slices, so a REPLAYED micro-batch overwrites its own
    slices and recomputes identical verdicts (exactly-once downstream
    semantics, the stream_sketch_maintenance pattern; the seen set is
    read whole per batch — compact old slices periodically). Returns
    the started StreamingQuery."""
    stream = spark.readStream.schema(_FEEDS_SCHEMA).parquet(feeds_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _feed_batch(spark, df, bid, out_dir, seen_dir)
        ).option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
