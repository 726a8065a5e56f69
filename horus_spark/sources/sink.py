"""Output sinks + checkpoint-resumable runner.

The reference persists each document transactionally with versioning and
keeps replayable orchestration state (reference Horus.Functions/HorusSql.cs:210-311,
DocumentProcessor.cs:52-111 durable replay, job-state blobs at 351-362).
The Spark-native equivalent:

- output tables: documents_out, line_items (exploded), errors (exploded),
  spans_out — parquet directories (Iceberg-ready: swap `.parquet` for
  `.writeTo(...).append()` when a catalog is configured)
- _metrics: one row per task partition (doc/span/error counts, wall ms)
- _lineage: (run_id, chunk, doc_id, stage, ts)
- checkpoint-resume: the corpus is split into deterministic chunks by
  xxhash64(doc_id), staged ONCE as parquet physically partitioned by the
  chunk value (so each chunk job prunes to its own directory instead of
  re-scanning the full input), and each chunk writes ALL its tables into a
  private tmp directory that one atomic rename promotes to `chunk=NNNN`,
  then drops a `chunk_NNN.done` marker. A resumed run reuses the staging,
  skips completed chunks, and discards stale tmp directories — idempotent
  restart with exactly-once, never-partially-visible output, no read-side
  dedup needed.

At 10^12-document scale each chunk is an independent job over a hash slice
of the corpus; a driver loss costs at most one chunk of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from horus_spark import schema as S


def write_extracted(extracted: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """Write the output tables from an EXTRACTED_DOCUMENT frame.

    Scale shape: the pipeline runs ONCE, into the wide nested table
    `documents_full` (the reference's serialized Document graph, like its
    Cosmos JSON — full PostCode, nested arrays). The four relational views
    are then DERIVED by re-reading that parquet: each derived scan prunes
    to exactly the columns it needs (header read skips the array blobs on
    disk), so the fan-out costs column-pruned I/O instead of pinning the
    whole extracted frame in executor storage memory (an unbounded .cache()
    at 10^12 docs was the previous design's scale-killer)."""
    wide_dir = os.path.join(out_dir, "documents_full")
    # append mode: the derived views must come from THIS batch's rows
    # only — re-reading the whole wide table would append every PRIOR
    # shred's children again (quadratic duplication across appends; a
    # review finding). Snapshot the part files before the write and read
    # only the new ones; cheap (one listing) and exact.
    local_wide = wide_dir.removeprefix("file:")
    pre_files: set[str] = set()
    if mode == "append" and os.path.isdir(local_wide):
        pre_files = {
            f for f in os.listdir(local_wide) if not f.startswith(("_", "."))
        }
    extracted.write.mode(mode).parquet(wide_dir)
    if pre_files:
        new_files = [
            os.path.join(wide_dir, f)
            for f in os.listdir(local_wide)
            if not f.startswith(("_", ".")) and f not in pre_files
        ]
        full = (
            extracted.sparkSession.read.parquet(*new_files)
            if new_files
            else extracted.sparkSession.read.parquet(wide_dir).limit(0)
        )
    else:
        full = extracted.sparkSession.read.parquet(wide_dir)
    # persist-time-only PostCode truncation inside _header_frame, exactly
    # like the reference (Horus.Functions/HorusSql.cs:235-241 trims to 10
    # chars at the SQL INSERT; the document graph keeps the full value,
    # like the reference's Cosmos persistence of the Document object)
    _header_frame(full).write.mode(mode).parquet(os.path.join(out_dir, "documents_out"))
    # child rows carry the shred identity (doc_id, unique_run_identifier):
    # a re-shredded file appends a SECOND set of children per doc_id, and
    # load_documents must reassemble only the children of the latest header
    # row (reference LoadDocument reads children of the one selected row,
    # HorusSql.cs:312-407) — doc_id alone cannot distinguish the shreds
    child_keys = ["doc_id"] + (
        ["unique_run_identifier"] if "unique_run_identifier" in full.columns else []
    )
    full.select(
        *child_keys, F.explode("line_items").alias("li")
    ).select(*child_keys, "li.*").write.mode(mode).parquet(
        os.path.join(out_dir, "line_items")
    )
    full.select(
        *child_keys, F.posexplode("errors").alias("error_seq", "e")
    ).select(*child_keys, "error_seq", "e.*").write.mode(mode).parquet(
        os.path.join(out_dir, "errors")
    )
    full.select("doc_id", "spans_out").write.mode(mode).parquet(
        os.path.join(out_dir, "spans_out")
    )


def write_documents_by_account(extracted: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """S8: alternative persistence partitioned by account — the analog of
    the reference's Cosmos engine with partition key '/Account'
    (reference Horus.Functions/Engines/Persistence/CosmosPersistenceEngine.cs:27-50).
    Header rows only (the Cosmos document is the serialized header graph);
    null accounts land in a sentinel partition rather than Hive's default."""
    (
        _header_frame(extracted)
        .withColumn("account_pk", F.coalesce(F.col("account"), F.lit("__UNKNOWN__")))
        .write.mode(mode)
        .partitionBy("account_pk")
        .parquet(os.path.join(out_dir, "documents_by_account"))
    )


def _header_frame(extracted: DataFrame) -> DataFrame:
    header_cols = [
        c for c in extracted.columns if c not in ("line_items", "errors", "spans_out")
    ]
    header = extracted.select(*header_cols)
    if "post_code" in header_cols:
        header = header.withColumn("post_code", F.substring("post_code", 1, 10))
    return header


def _upload_ids(vdir: str) -> list[int]:
    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(d.split("_")[-1]) for d in os.listdir(vdir) if d.startswith("upload_")
    )


def _version_manifest_dir(vdir: str, upto: int) -> str:
    return os.path.join(vdir, "_version_base", f"upto_{upto:06d}")


def _version_base_frame(spark, vdir: str, prior: list[int]) -> DataFrame | None:
    """Per-file high-water versions across the `prior` uploads, from the
    compacted `_version_base/upto_NNNNNN` manifest when available.

    Without the manifest, finding MAX(document_version) per file_name
    means scanning EVERY prior upload directory per append — O(n_uploads)
    parquet reads per batch, linear metadata growth at streaming cadence
    (the r3-flagged scale flaw). The manifest is one small table (one row
    per file_name), updated atomically per batch with the same tmp+rename
    pattern as the chunk sink; falls back to the full scan for legacy
    stores written before the manifest existed."""
    if not prior:
        return None
    mdir = _version_manifest_dir(vdir, prior[-1])
    if os.path.exists(os.path.join(mdir, "_SUCCESS")):
        return spark.read.parquet(mdir)
    return (
        spark.read.parquet(*[os.path.join(vdir, f"upload_{i:06d}") for i in prior])
        .groupBy("file_name")
        .agg(F.max("document_version").alias("__base"))
    )


def write_documents_versioned(
    extracted: DataFrame, out_dir: str, batch_id: int | None = None
) -> None:
    """W1+S4 end-to-end: version-stamped, append-only header persistence —
    the reference's document-versioning semantics
    (Horus.Functions/HorusSql.cs:221-249; SQL Patch/Add document
    versioning.sql:4-26) on the engine's own sink output.

    Each upload batch lands in its own `upload_NNNNNN` subdirectory with
    rows stamped document_version = (max version persisted by EARLIER
    uploads for the file_name) + rank within the batch (shredding ts,
    doc_id) — the reference's "SELECT MAX(DocumentVersion)+1 ... WHERE
    FileName = @x" done once per batch as a join + window instead of once
    per document.

    `batch_id` (streaming foreachBatch id) makes replay IDEMPOTENT: a
    replayed batch recomputes its versions against strictly-earlier
    uploads only and OVERWRITES its own directory, so at-least-once
    delivery still yields exactly-once versions. Default (None) = next
    free upload index (sequential batch API).

    The reference then UPDATEs LatestVersionIndicator=0 on all prior
    rows. Rewriting history per upload is O(total history) per batch —
    the scale-killer at 10^12 docs — and the flag is a pure function of
    the version column, so the store stays APPEND-ONLY and the flag is
    derived at read time by read_documents_versioned (one window,
    computed on exactly the rows being read).

    Base versions come from the compacted `_version_base` manifest (one
    small table per batch, see _version_base_frame) — NOT a scan of all
    prior upload directories; each batch also writes the next manifest
    snapshot `upto_{batch}` (base ∪ this batch, max per file) with the
    same tmp-dir + atomic-rename pattern as the chunk sink. A replayed
    batch reads the manifest of the last strictly-earlier upload, so
    replay idempotency is preserved."""
    vdir = os.path.join(out_dir, "documents_versioned")
    prior = _upload_ids(vdir)
    if batch_id is None:
        batch_id = (prior[-1] + 1) if prior else 0
    prior = [i for i in prior if i < batch_id]
    header = _header_frame(extracted)
    order_cols = [c for c in ("shredding_utc_datetime", "doc_id") if c in header.columns]
    spark = extracted.sparkSession
    base = _version_base_frame(spark, vdir, prior)
    if base is not None:
        header = header.join(base, "file_name", "left").withColumn(
            "__base", F.coalesce(F.col("__base"), F.lit(0))
        )
    else:
        header = header.withColumn("__base", F.lit(0))
    w = Window.partitionBy("file_name").orderBy(*order_cols)
    header = header.withColumn(
        "document_version", (F.col("__base") + F.row_number().over(w)).cast("int")
    ).drop("__base")
    udir = os.path.join(vdir, f"upload_{batch_id:06d}")
    header.write.mode("overwrite").parquet(udir)
    # compact the new high-water manifest: previous base ∪ this upload's
    # versions, max per file_name — one row per file ever seen, written
    # atomically so a crash mid-write leaves the previous snapshot valid
    # (the next batch then falls back to the prior-manifest-or-scan path)
    this_upload = (
        spark.read.parquet(udir)
        .groupBy("file_name")
        .agg(F.max("document_version").alias("__base"))
    )
    if base is not None:
        manifest = (
            base.unionByName(this_upload)
            .groupBy("file_name")
            .agg(F.max("__base").alias("__base"))
        )
    else:
        manifest = this_upload
    mdir = _version_manifest_dir(vdir, batch_id)
    tmp_mdir = _stage(mdir)
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp_mdir)
    if os.path.exists(mdir):
        shutil.rmtree(mdir)
    os.rename(tmp_mdir, mdir)


def read_documents_versioned(spark, out_dir: str) -> DataFrame:
    """Versioned header rows across all uploads + the derived latest flag
    (the reference's LatestVersionIndicator, materialized by UPDATE there,
    computed by a window here — see write_documents_versioned for why)."""
    v = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(out_dir, "documents_versioned")
    )
    wall = Window.partitionBy("file_name")
    return v.withColumn(
        "latest_version_indicator",
        F.col("document_version") == F.max("document_version").over(wall),
    )


# The reference selects its persistence engine by reflection config
# (IPersistenceEngine: SqlPersistenceEngine | CosmosPersistenceEngine,
# Engines/Persistence/*.cs). Ours is a sink-strategy registry.
PERSISTENCE_ENGINES = {
    "tables": write_extracted,           # SQL analog: normalized multi-table
    "by_account": write_documents_by_account,  # Cosmos analog
    "versioned": write_documents_versioned,    # SQL analog + versioning patch
}


def get_persistence_engine(name: str):
    try:
        return PERSISTENCE_ENGINES[name]
    except KeyError:
        raise ValueError(f"Specified Engine does not exist: {name!r}") from None


def _metrics_frame(extracted: DataFrame, run_id: str, chunk: int) -> DataFrame:
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.size("spans_out")).alias("n_spans"),
        F.sum(F.size("errors")).alias("n_errors"),
    ]
    if "time_to_shred_ms" in extracted.columns:
        # per-doc measured extraction latency (P15), rolled up per task
        # partition — the reference persists TimeToShred per document
        # (HorusProcessingEngine.cs:15-16); the partition rollup is what a
        # 1000-executor operator actually monitors
        aggs += [
            F.round(F.avg("time_to_shred_ms"), 3).alias("avg_shred_ms"),
            F.round(F.max("time_to_shred_ms"), 3).alias("max_shred_ms"),
        ]
    if "recognizer_status" in extracted.columns:
        aggs.append(
            F.sum((F.col("recognizer_status") != "succeeded").cast("int")).alias(
                "n_recognizer_failures"
            )
        )
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*aggs)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("chunk", F.lit(chunk))
    )


def run_checkpointed(
    documents: DataFrame,
    ocr_words: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_chunks: int = 8,
    fail_after_chunk: int | None = None,
    fail_before_promote: int | None = None,
    fail_before_manifest: int | None = None,
) -> dict:
    """Checkpoint-resumable extraction over hash chunks of the corpus.

    Returns {"completed": [...], "skipped": [...]}. `fail_after_chunk`
    injects a crash after N newly-completed chunks; `fail_before_promote`
    crashes the Nth new chunk after its tables are written but BEFORE the
    atomic promote; `fail_before_manifest` crashes the Nth new chunk
    after the directory promote but BEFORE the snapshot-manifest commit
    (readers must stay on the previous snapshot; resume redoes the chunk).

    Atomic chunk commit: all of a chunk's tables (4 views + _metrics +
    _lineage) are written into a private `_tmp_chunk_NNNN` directory —
    invisible to read_output, which reads only manifest-listed chunks —
    and promoted with ONE os.rename once complete (an Iceberg-style
    snapshot swap without the catalog; swap in `.writeTo(...).append()`
    under a real catalog). A crash at ANY point during the chunk's writes
    leaves the published output exactly at the previous chunk state;
    resume discards the stale tmp directory and redoes the chunk."""
    from horus_spark.pipeline import run_extraction

    run_id = run_id or dt.datetime.now(dt.timezone.utc).strftime("run%Y%m%d%H%M%S")
    ckpt_dir = os.path.join(out_dir, "_checkpoints")
    os.makedirs(ckpt_dir, exist_ok=True)

    completed, skipped = [], []
    spark = documents.sparkSession
    chunk_of_doc = F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)).cast("int")

    # Stage the corpus ONCE, physically partitioned by the chunk hash: each
    # chunk job then reads exactly its partition DIRECTORY (true
    # directory-level pruning). A filter on a computed hash column over the
    # raw input cannot prune parquet, so without staging every chunk was a
    # full input scan — n_chunks x read volume at 10^12 docs. Staging costs
    # one scan+write per input table, amortized across all chunks and kept
    # across resumes.
    staging = os.path.join(out_dir, "_staging")
    # the staged layout is physically keyed by pmod(hash, n_chunks): a
    # resume with a DIFFERENT n_chunks would read only __chunk 0..n-1 of
    # an older, wider layout and silently drop the rest (review
    # finding). Pin the modulus in a staging meta file and refuse a
    # mismatched resume; legacy stagings without the meta are checked
    # against their partition directories.
    meta_path = os.path.join(staging, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            staged_n = json.load(fh).get("n_chunks")
        if staged_n != n_chunks:
            raise ValueError(
                f"staged input under {staging} was partitioned with "
                f"n_chunks={staged_n}; resume with the same n_chunks or "
                "delete the staging directory to re-stage"
            )
    elif os.path.isdir(os.path.join(staging, "documents")):
        # legacy staging without the meta: partition dirs exist only for
        # non-empty chunks, so only the strict data-loss direction (a
        # staged value the loop would never read) can be detected
        vals = [
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(staging, "documents"))
            if d.startswith("__chunk=")
        ]
        if vals and max(vals) + 1 > n_chunks:
            raise ValueError(
                f"staged input under {staging} holds chunk ids up to "
                f"{max(vals)} but the resume asked for n_chunks="
                f"{n_chunks}; resume with the original n_chunks or "
                "delete the staging directory to re-stage"
            )
    for name, df in (("documents", documents), ("ocr_words", ocr_words)):
        sdir = os.path.join(staging, name)
        if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
            df.withColumn("__chunk", chunk_of_doc).write.mode(
                "overwrite"
            ).partitionBy("__chunk").parquet(sdir)
    if not os.path.exists(meta_path):
        os.makedirs(staging, exist_ok=True)
        with open(meta_path, "w") as fh:
            json.dump({"n_chunks": n_chunks}, fh)
    docs_c = spark.read.parquet(os.path.join(staging, "documents"))
    words_c = spark.read.parquet(os.path.join(staging, "ocr_words"))

    n_done = 0
    for chunk in range(n_chunks):
        marker = os.path.join(ckpt_dir, f"chunk_{chunk:04d}.done")
        if os.path.exists(marker):
            skipped.append(chunk)
            continue
        t0 = time.perf_counter()
        # __chunk is a real partition column of the staged layout -> the
        # scan's PartitionFilters prune to one directory per chunk
        d = docs_c.filter(F.col("__chunk") == chunk).drop("__chunk")
        w = words_c.filter(F.col("__chunk") == chunk).drop("__chunk")
        extracted = run_extraction(d, w, run_id=run_id)
        name = f"chunk={chunk:04d}"
        chunk_dir = os.path.join(out_dir, name)
        if os.path.exists(chunk_dir):
            # crashed between promote and marker write: retract the chunk
            # from the snapshot BEFORE deleting its directory, so
            # concurrent readers never hold a manifest pointing at a
            # removed path (they fall back to the previous snapshot)
            _retract_from_table_manifest(out_dir, name)
            shutil.rmtree(chunk_dir)
        tmp_dir = _stage(chunk_dir)
        write_extracted(extracted, tmp_dir, mode="overwrite")
        wall_ms = int((time.perf_counter() - t0) * 1000)
        # metrics/lineage derive from the written wide table (column-pruned
        # re-read) — nothing stays pinned in executor storage memory
        full = spark.read.parquet(os.path.join(tmp_dir, "documents_full"))
        _metrics_frame(full, run_id, chunk).withColumn(
            "wall_ms", F.lit(wall_ms)
        ).write.mode("overwrite").parquet(os.path.join(tmp_dir, "_metrics"))
        full.select(
            "doc_id",
            F.lit(run_id).alias("run_id"),
            F.lit(chunk).alias("chunk"),
            F.lit("extracted").alias("stage"),
            F.current_timestamp().alias("ts"),
        ).write.mode("overwrite").parquet(os.path.join(tmp_dir, "_lineage"))
        if fail_before_promote is not None and n_done + 1 >= fail_before_promote:
            raise RuntimeError(f"injected failure before promoting chunk {chunk}")
        os.rename(tmp_dir, chunk_dir)  # atomic publish of the whole chunk
        if fail_before_manifest is not None and n_done + 1 >= fail_before_manifest:
            raise RuntimeError(
                f"injected failure before manifest commit of chunk {chunk}"
            )
        # snapshot commit: the chunk becomes reader-visible only now —
        # read_output reads the manifest, so a crash between the rename
        # above and this line leaves readers on the previous snapshot
        _update_table_manifest(out_dir, name, run_id)
        # marker LAST: a crash before this point leaves the chunk incomplete
        # and the resume overwrites it
        with open(marker, "w") as fh:
            json.dump({"run_id": run_id, "chunk": chunk, "wall_ms": wall_ms}, fh)
        completed.append(chunk)
        n_done += 1
        if fail_after_chunk is not None and n_done >= fail_after_chunk:
            raise RuntimeError(f"injected failure after chunk {chunk}")
    return {"completed": completed, "skipped": skipped, "run_id": run_id}


_TABLE_MANIFEST = "_table_manifest.json"


def _commit_table_manifest(out_dir: str, mutate, run_id: str | None = None) -> dict:
    """Optimistic-concurrency snapshot commit (the concurrent-WRITER
    contract; readers already had snapshot isolation via the pointer).

    Protocol — the same shape as an Iceberg catalog's compare-and-swap:
    read the current manifest, apply `mutate(m)` (return the new dict,
    or None for a no-op), then CLAIM snapshot id current+1 by
    hard-linking a tmp file to `_snapshots/snapshot_{N}.json`. os.link
    fails with FileExistsError iff another writer claimed N first — the
    loser re-reads the winner's manifest and replays its mutation on
    top, so concurrent commits serialize and no update is ever lost
    (the old read-modify-write + os.replace could silently drop a
    racing writer's chunk). Snapshot ids are therefore unique, gapless,
    and totally ordered; the `_table_manifest.json` pointer is only a
    cache, published after the claim — readers prefer the max archived
    snapshot, so a stale/crashed pointer can never roll a reader back."""
    for attempt in range(1000):
        cur = _read_table_manifest(out_dir) or {"chunks": [], "snapshot": 0}
        new = mutate({**cur, "chunks": list(cur.get("chunks", []))})
        if new is None:
            return cur
        new["snapshot"] = int(cur.get("snapshot", 0)) + 1
        if run_id is not None:
            new["run_id"] = run_id
        snap = _snapshot_path(out_dir, new["snapshot"])
        os.makedirs(os.path.dirname(snap), exist_ok=True)
        tmp = f"{snap}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w") as fh:
            json.dump(new, fh)
        try:
            os.link(tmp, snap)  # the CAS: EEXIST = lost the race, retry
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        ptmp = os.path.join(
            out_dir, f"{_TABLE_MANIFEST}.tmp.{os.getpid()}.{threading.get_ident()}"
        )
        with open(ptmp, "w") as fh:
            json.dump(new, fh)
        os.replace(ptmp, os.path.join(out_dir, _TABLE_MANIFEST))
        return new
    raise RuntimeError(f"manifest commit contention in {out_dir}: 1000 CAS retries")


def _snapshot_path(out_dir: str, snapshot: int) -> str:
    return os.path.join(out_dir, "_snapshots", f"snapshot_{int(snapshot):06d}.json")


def _stage(final_dir: str) -> str:
    """Private staging directory `_tmp_<name>` beside `final_dir`, which
    the writer fills and then promotes with ONE os.rename; a crashed
    writer's leftover of the same name is removed first."""
    parent, name = os.path.split(final_dir)
    tmp_dir = os.path.join(parent, "_tmp_" + name.replace("=", "_"))
    if os.path.exists(tmp_dir):
        shutil.rmtree(tmp_dir)
    return tmp_dir


def _fresh_chunk_name(op: str, base_snap: int) -> str:
    """A chunk directory name no other writer can take: two writers at
    one snapshot must not share a staging directory, or one's leftover
    cleanup deletes the other's in-flight tables."""
    return f"chunk={op}-{base_snap:06d}-{uuid.uuid4().hex}"


def _table_paths(out_dir: str, chunks, table: str) -> list[str]:
    """`table`'s directory in each of `chunks` that holds it."""
    return [
        p for c in chunks if os.path.isdir(p := os.path.join(out_dir, c, table))
    ]


def _chunk_tables(out_dir: str, chunks) -> set[str]:
    """Every table any of `chunks` holds."""
    return {
        t
        for c in chunks
        for t in os.listdir(os.path.join(out_dir, c))
        if os.path.isdir(os.path.join(out_dir, c, t))
    }


def _retract_from_table_manifest(out_dir: str, chunk_dirname: str) -> None:
    def mutate(m: dict) -> dict | None:
        if chunk_dirname not in m["chunks"]:
            return None
        m["chunks"] = [c for c in m["chunks"] if c != chunk_dirname]
        return m

    _commit_table_manifest(out_dir, mutate)


def _read_table_manifest(out_dir: str) -> dict | None:
    """Current manifest = the highest archived snapshot (source of
    truth under the CAS protocol); the `_table_manifest.json` pointer
    is consulted first as a cache and trusted only when it is at least
    as new as the newest archive entry."""
    path = os.path.join(out_dir, _TABLE_MANIFEST)
    m = None
    if os.path.exists(path):
        with open(path) as fh:
            m = json.load(fh)
    snaps = list_snapshots(out_dir)
    if snaps and (m is None or int(m.get("snapshot", 0)) < snaps[-1]):
        with open(_snapshot_path(out_dir, snaps[-1])) as fh:
            m = json.load(fh)
    return m


def _update_table_manifest(out_dir: str, chunk_dirname: str, run_id: str) -> dict:
    """Append a committed chunk dir to the snapshot manifest via the CAS
    commit — a reader always sees either the previous or the next
    complete snapshot, and a concurrent writer's chunks survive the
    race. This is the minimal Iceberg-style catalog over the chunk
    layout: swap the CAS for a real catalog's snapshot commit when one
    is configured."""

    def mutate(m: dict) -> dict:
        if chunk_dirname not in m["chunks"]:
            m["chunks"] = sorted([*m["chunks"], chunk_dirname])
        return m

    return _commit_table_manifest(out_dir, mutate, run_id=run_id)


def append_chunk(
    out_dir: str, tables: dict[str, DataFrame], run_id: str = "append"
) -> dict:
    """Append ONE committed chunk of arbitrary tables to the snapshot
    catalog — the generic INSERT of the DML triad (merge_upsert /
    delete_rows are the other two), making the chunk layout a
    general-purpose table store rather than an extraction-only sink.

    Same atomicity contract as run_checkpointed's chunks: every table
    is written under a staged `_tmp_*` dir, the whole chunk is promoted
    with a single os.rename, and the CAS manifest commit publishes it —
    a reader racing the append sees the previous or the next complete
    snapshot, never a partial chunk, and a crash before the commit
    leaves only an invisible directory for vacuum to reclaim.

    Returns {"chunk": dirname, "snapshot": id}."""
    if not tables:
        raise ValueError("tables must be non-empty")
    m = _read_table_manifest(out_dir) or {}
    name = _fresh_chunk_name("append", int(m.get("snapshot", 0)))
    chunk_dir = os.path.join(out_dir, name)
    tmp_dir = _stage(chunk_dir)
    for table, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(tmp_dir, table))
    os.rename(tmp_dir, chunk_dir)
    committed = _update_table_manifest(out_dir, name, run_id)
    return {"chunk": name, "snapshot": int(committed["snapshot"])}


def list_snapshots(out_dir: str) -> list[int]:
    """Snapshot ids retained under _snapshots/, ascending."""
    snap_dir = os.path.join(out_dir, "_snapshots")
    if not os.path.isdir(snap_dir):
        return []
    out = []
    for name in os.listdir(snap_dir):
        if name.startswith("snapshot_") and name.endswith(".json"):
            out.append(int(name[len("snapshot_"):-len(".json")]))
    return sorted(out)


def read_output(
    spark, out_dir: str, table: str, snapshot: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a table across all committed chunk directories.

    `merge_schema=True` enables ADD-COLUMN evolution across chunks
    (parquet mergeSchema): chunks appended after a column was added
    union with older chunks, which read the new column as NULL — the
    Iceberg add-column contract. Off by default because it reads every
    file's footer; schema-stable stores (the extraction sink) skip it.

    Reads the chunks the `_table_manifest.json` snapshot lists (the
    consistent-reader contract: a chunk becomes visible only after its
    manifest commit, so a reader racing a writer sees the previous
    complete snapshot, never a half-promoted directory). A store with no
    manifest has no committed chunk and raises, as an empty one does.

    `snapshot=N` time-travels: reads the chunk list as of snapshot N
    (every manifest commit archives its content under _snapshots/).
    Retracted chunk DIRECTORIES may have been deleted by the writer, so
    a historical snapshot is readable as long as its chunks still exist
    — same contract as an expired Iceberg snapshot.

    Chunks may be HETEROGENEOUS (append_chunk accepts any table set per
    chunk; a merge/delete chunk carries only the tables its members
    held), so chunks without this table are skipped; a table no chunk
    holds is a loud error."""
    if snapshot is not None:
        chunks, what = _snapshot_chunks(out_dir, snapshot), f"snapshot {snapshot}"
        if not chunks:
            raise ValueError(f"snapshot {snapshot} is empty")
    else:
        # chunk dirs on disk but not in the manifest are retracted or
        # promoted-but-uncommitted: exactly what the manifest commit hides
        m = _read_table_manifest(out_dir) or {"chunks": []}
        chunks, what = m["chunks"], "the current snapshot"
        if not chunks:
            raise ValueError(
                f"{out_dir} has no committed chunks at snapshot {m.get('snapshot', 0)}"
            )
    paths = _table_paths(out_dir, chunks, table)
    if not paths:
        raise ValueError(
            f"table {table!r} exists in no chunk of {what} (chunks: {chunks})"
        )
    reader = spark.read.option("basePath", out_dir)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def _snapshot_chunks(out_dir: str, snapshot: int) -> list[str]:
    """Chunk list archived by snapshot N (loud error if expired)."""
    path = _snapshot_path(out_dir, snapshot)
    if not os.path.exists(path):
        raise ValueError(
            f"snapshot {snapshot} not found; available: {list_snapshots(out_dir)}"
        )
    with open(path) as fh:
        return list(json.load(fh)["chunks"])


def snapshot_diff(
    spark,
    out_dir: str,
    table: str,
    from_snapshot: int,
    to_snapshot: int,
    change_col: str = "change_type",
) -> DataFrame:
    """Net row-level changes of `table` between two snapshots — the
    Iceberg incremental/changelog read, generalized to copy-on-write
    rewrites.

    Only chunks that DIFFER between the two manifests are read: chunks
    present in both snapshots cannot contribute net changes and are
    never scanned, so an incremental consumer pays O(changed data), not
    O(table) — the property that makes CDC off a 100 TB table viable.

    Copy-on-write correctness: a merge/delete/compaction rewrites whole
    chunks, carrying untouched rows into the replacement chunk. Those
    carried rows appear in BOTH legs (removed chunk and added chunk)
    and cancel under MULTISET difference (exceptAll), leaving exactly
    the net changes: an update surfaces as its delete+insert pair, a
    pure compaction diffs to ZERO rows (pinned by pytest). exceptAll
    (not except) so duplicate identical rows keep their multiplicity.

    Returns the table's columns plus `change_col` in
    {'insert', 'delete'}. from_snapshot must be <= to_snapshot and both
    retained (expired snapshots raise, same contract as read_output
    time travel)."""
    if from_snapshot > to_snapshot:
        raise ValueError(
            f"from_snapshot {from_snapshot} > to_snapshot {to_snapshot}"
        )
    old = set(_snapshot_chunks(out_dir, from_snapshot))
    new = set(_snapshot_chunks(out_dir, to_snapshot))

    def _read_leg(chunks: set) -> DataFrame | None:
        paths = _table_paths(out_dir, sorted(chunks), table)
        if not paths:
            return None
        # no basePath option: the chunk partition column must NOT be
        # part of the row identity or carried rows would never cancel
        return spark.read.parquet(*paths)

    added = _read_leg(new - old)
    removed = _read_leg(old - new)
    if added is None and removed is None:
        # identical manifests (or table absent from every changed
        # chunk): diff is empty on the table's current schema
        base = read_output(spark, out_dir, table, snapshot=to_snapshot)
        if "chunk" in base.columns:
            base = base.drop("chunk")
        return base.limit(0).withColumn(change_col, F.lit(""))
    if added is None:
        added = removed.limit(0)
    if removed is None:
        removed = added.limit(0)
    inserts = added.exceptAll(removed).withColumn(
        change_col, F.lit("insert")
    )
    deletes = removed.exceptAll(added).withColumn(
        change_col, F.lit("delete")
    )
    return inserts.unionByName(deletes)


def load_documents(
    spark, out_dir: str, file_names: list[str] | None = None, chunked: bool = False
) -> DataFrame:
    """The reference's LoadDocument read-back
    (Horus.Functions/HorusSql.cs:312-407): reconstruct the FULL document
    graph — header plus ordered line_items[] and errors[] — from the
    persisted relational tables, returning only the LATEST shred per
    file_name (the reference scans `ORDER BY ShreddingUtcDateTime DESC`
    and takes the first row).

    Set-oriented where the reference is per-document: one call
    reassembles every requested file in three scans + two aggregations,
    instead of three queries per file. `chunked=True` reads the committed
    chunks of a checkpointed store (read_output); default reads a
    write_extracted dir.
    Pass `file_names` to prune (predicate reaches the parquet scan)."""
    if chunked:
        rd = lambda t: read_output(spark, out_dir, t)  # noqa: E731
    else:
        rd = lambda t: spark.read.parquet(os.path.join(out_dir, t))  # noqa: E731
    docs = rd("documents_out")
    if file_names is not None:
        docs = docs.filter(F.col("file_name").isin(list(file_names)))
    order = [
        c for c in ("shredding_utc_datetime", "unique_run_identifier", "doc_id")
        if c in docs.columns
    ]
    w = Window.partitionBy("file_name").orderBy(*[F.desc(c) for c in order])
    docs = docs.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")

    def _latest_children(child: DataFrame) -> DataFrame:
        # keep only children of the SURVIVING latest header rows: after a
        # re-upload (mode='append') each doc_id has one child set per
        # shred, keyed by unique_run_identifier — without this semi-join
        # every reconstructed array would concatenate all shreds' children.
        # Legacy layouts without the key column fall back to doc_id-only
        # (single-shred stores, where the semi-join is a no-op anyway).
        keys = ["doc_id"] + (
            ["unique_run_identifier"]
            if "unique_run_identifier" in child.columns
            and "unique_run_identifier" in docs.columns
            else []
        )
        latest = docs.select(*keys)
        cond = None
        for k in keys:  # null-safe: a NULL run id still matches its header
            eq = child[k].eqNullSafe(latest[k])
            cond = eq if cond is None else cond & eq
        return child.join(latest, cond, "left_semi")

    # reassemble ordered child arrays: line_no / error_seq are the
    # persisted order keys, so sort_array over (key, struct) then strip
    li = _latest_children(rd("line_items")).groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("line_no").alias("k"),
                        F.struct(*S.LINE_ITEM.fieldNames()).alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("line_items")
    )
    err = _latest_children(rd("errors")).groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("error_seq").alias("k"),
                        F.struct(*S.DOC_ERROR.fieldNames()).alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("errors")
    )
    empty = {
        c: F.array().cast(f"array<{t.simpleString()}>")
        for c, t in (("line_items", S.LINE_ITEM), ("errors", S.DOC_ERROR))
    }
    return (
        docs.join(li, "doc_id", "left")
        .join(err, "doc_id", "left")
        .withColumns({c: F.coalesce(F.col(c), e) for c, e in empty.items()})
    )


# ------------------------------------------------------- table maintenance


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def compact_chunks(
    spark,
    out_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_group: int = 2,
) -> dict:
    """Small-file compaction over the snapshot catalog — the
    `rewrite_data_files` half of a table format's maintenance story.

    Committed chunk directories smaller than `target_bytes` are grouped
    greedily (in manifest order, groups capped at `target_bytes`) and
    each group is rewritten as ONE new chunk directory, then swapped
    into the manifest with a single CAS snapshot commit: readers racing
    the compaction see either the pre-compact or the post-compact
    snapshot, never a mixture, and a concurrent writer's freshly
    committed chunks survive the race (the CAS loser replays its
    mutation). If any group member was retracted by another process
    between planning and commit, that group's commit aborts cleanly and
    its rewritten directory is removed — compaction never resurrects a
    retracted chunk.

    OLD chunk directories are NOT deleted: historical snapshots keep
    time-traveling until `expire_snapshots` + `vacuum_chunks` reclaim
    them (the Iceberg expire/remove-orphans split). Returns
    {"groups": [...], "snapshot": latest-id-or-None}.

    Why this matters at 100 TB: a streaming/checkpointed writer lands
    many small chunks; every read then pays per-file open cost and the
    scan's split planning degrades. Compaction is one column-pruned
    read + write per group — no shuffle (coalesce only narrows
    partitions) — and the catalog swap is O(1).
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    if min_group < 2:
        raise ValueError(f"min_group must be >= 2, got {min_group}")
    m = _read_table_manifest(out_dir)
    if not m or not m.get("chunks"):
        return {"groups": [], "snapshot": (m or {}).get("snapshot")}
    sizes = {
        c: _dir_bytes(os.path.join(out_dir, c)) for c in m["chunks"]
    }
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for c in m["chunks"]:
        if sizes[c] >= target_bytes:
            if len(cur) >= min_group:
                groups.append(cur)
            cur, cur_bytes = [], 0
            continue
        if cur and cur_bytes + sizes[c] > target_bytes:
            if len(cur) >= min_group:
                groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(c)
        cur_bytes += sizes[c]
    if len(cur) >= min_group:
        groups.append(cur)

    done = []
    base_snap = int(m.get("snapshot", 0))
    for group in groups:
        new_name = _fresh_chunk_name("compact", base_snap)
        new_dir = os.path.join(out_dir, new_name)
        tmp_dir = _stage(new_dir)
        # every table present in any member chunk, merged column-for-column
        for t in sorted(_chunk_tables(out_dir, group)):
            # members are < target_bytes each by selection; one output
            # file per table keeps the open-cost win that motivated the
            # compaction (raise for multi-file outputs at bigger targets)
            paths = _table_paths(out_dir, group, t)
            spark.read.parquet(*paths).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(tmp_dir, t))
        os.rename(tmp_dir, new_dir)
        try:
            _swap_chunks_commit(out_dir, new_name, group, "compaction")
        except _SwapConflict:
            continue  # a member was retracted under us: never resurrect it
        done.append({"members": group, "new": new_name})
    latest = _read_table_manifest(out_dir)
    return {
        "groups": done,
        "snapshot": (latest or {}).get("snapshot"),
    }


def _carry_table_files(out_dir: str, members: list[str], table: str, dest: str) -> None:
    """Carry a table's data files from member chunk dirs into `dest`
    unchanged — hard links (fallback: copy) with a member prefix so
    part-file names from different chunks cannot collide. On an object
    store this is the manifest-reference step of a real table format
    (new snapshot points at the old data files); on a filesystem a link
    is the exact analog: zero data movement, and vacuuming the old
    chunk dir later cannot strand the new one (inode refcount)."""
    os.makedirs(dest, exist_ok=True)
    for mi, member in enumerate(members):
        src = os.path.join(out_dir, member, table)
        if not os.path.isdir(src):
            continue
        for name in sorted(os.listdir(src)):
            if not name.endswith(".parquet"):
                continue
            target = os.path.join(dest, f"m{mi:03d}-{name}")
            try:
                os.link(os.path.join(src, name), target)
            except OSError:
                shutil.copy2(os.path.join(src, name), target)


# footer-pruning collect cap: the DML key set is broadcast-small by
# contract, but guard the driver anyway — above this many distinct keys
# the probe skips stats pruning and scans (still column-pruned).
_STATS_PRUNE_MAX_KEYS = 100_000


def _collect_prune_keys(keys) -> list | None:
    """Bounded one-shot collect of the probe key set, shared by the
    footer-stats and bloom pruning tiers (one Spark job, not one per
    tier). A DataFrame is collected; a pre-collected list passes
    through. Returns None when the set exceeds the cap (callers skip
    pruning) and [] when no non-NULL keys exist."""
    if isinstance(keys, list):
        vals = keys
    else:
        rows = keys.limit(_STATS_PRUNE_MAX_KEYS + 1).collect()
        if len(rows) > _STATS_PRUNE_MAX_KEYS:
            return None
        vals = [r[0] for r in rows]
    out = [v for v in vals if v is not None]
    if len(out) > _STATS_PRUNE_MAX_KEYS:
        return None
    return out


def _stats_candidate_chunks(
    out_dir: str, table: str, chunks: list[str], key_cols: list[str],
    keys,
) -> list[str]:
    """Parquet-footer min/max pruning of the DML probe — the local
    analog of a table format's column-bounds manifest (Iceberg prunes
    data files by exactly these stats; here they live in the files'
    own footers, read driver-side without launching a job).

    A chunk can be skipped iff EVERY part file of the table proves no
    key value falls inside its [min, max]. Conservative by design:
    multi-column keys, missing stats, unreadable footers, or an
    oversized key set keep the chunk (correctness never depends on
    pruning — the scan probe over candidates gives identical answers,
    which is what the equivalence pytest pins)."""
    if len(key_cols) != 1:
        return chunks
    try:
        import pyarrow.parquet as pq
    except Exception:
        return chunks
    vals = _collect_prune_keys(keys)
    if not vals:  # oversized (None) or empty: no pruning
        return chunks
    try:
        lo, hi = min(vals), max(vals)
        vset = set(vals)
    except TypeError:  # unorderable key type
        return chunks

    kept: list[str] = []
    for c in chunks:
        tdir = os.path.join(out_dir, c, table)
        if not os.path.isdir(tdir):
            continue  # no table here — nothing to rewrite either
        may_hold = False
        for name in os.listdir(tdir):
            if not name.endswith(".parquet"):
                continue
            try:
                md = pq.ParquetFile(os.path.join(tdir, name)).metadata
                idx = {
                    md.row_group(0).column(j).path_in_schema: j
                    for j in range(md.num_columns)
                }
                j = idx[key_cols[0]]
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if st is None or not st.has_min_max:
                        may_hold = True
                        break
                    if st.max < lo or st.min > hi:
                        continue  # disjoint range: this group is clean
                    # range overlaps — for scattered keys, check membership
                    if any(st.min <= v <= st.max for v in vset):
                        may_hold = True
                        break
            except Exception:  # stats are best-effort; keep the chunk
                may_hold = True
            if may_hold:
                break
        if may_hold:
            kept.append(c)
    return kept


_BLOOM_VERSION = 1


def _bloom_path(out_dir: str, chunk: str, table: str, col: str) -> str:
    return os.path.join(out_dir, chunk, f"_bloom_{table}_{col}.json")


# key-column Spark types whose CAST(... AS STRING) form round-trips
# through the probe's Python str(v); everything else is rejected at
# index-build time and distrusted at probe time
_BLOOM_INT_DTYPES = frozenset({"tinyint", "smallint", "int", "bigint"})
_BLOOM_KEY_DTYPES = _BLOOM_INT_DTYPES | {"string"}


def _bloom_positions_py(s: str, n_bits: int, n_hashes: int) -> list[int]:
    """Driver-side twin of the Spark bit-position expression in
    add_bloom_index: md5 double hashing (Kirsch–Mitzenmacher), h2
    forced odd-ish into [1, n_bits-1] so positions never degenerate."""
    import hashlib

    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    h1 = int(h[0:15], 16)
    h2 = (int(h[16:31], 16) % (n_bits - 1)) + 1
    return [(h1 + i * h2) % n_bits for i in range(n_hashes)]


def add_bloom_index(
    spark,
    out_dir: str,
    table: str,
    key_col: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    chunks: list[str] | None = None,
) -> list[str]:
    """Build per-chunk Bloom-filter sidecars for point-lookup data
    skipping — the secondary-index tier ABOVE the parquet-footer
    min/max pruning the DML probe already does. Footer stats prune by
    RANGE; interleaved key layouts (round-robin ingest, hash-bucketed
    writers) make every chunk's [min, max] span the whole key domain,
    so stats keep everything. The bloom answers MEMBERSHIP: a chunk
    whose filter rejects every probe key is provably key-free (no
    false negatives by construction) and is skipped before any scan.

    For each committed chunk holding `table`, the chunk's distinct
    key strings are hashed executor-side (md5 double hashing — the
    same expression `_bloom_positions_py` mirrors on the driver), the
    bit positions fold into 64-bit words via one slim bit_or
    aggregation (<= n_bits/64 rows ever reach the driver — never the
    keys), and the word map is written as a JSON sidecar inside the
    chunk dir with tmp+os.replace atomicity. Chunk dirs are immutable
    by the catalog's copy-on-write contract (merge/delete/compact
    rewrite into NEW dirs), so a sidecar can never go stale; rewritten
    chunks simply lack one until re-indexed and are kept conservatively
    by the probe. Sidecars ride along on vacuum (whole-dir delete) and
    are invisible to parquet readers.

    Returns the chunk dirnames indexed. Keys are matched via their
    Spark CAST(... AS STRING) form, which only round-trips through the
    probe's Python str(v) for INTEGRAL and STRING columns (a double
    column CASTs as '5.0' while str(5) is '5' — silent wrong pruning),
    so add_bloom_index REJECTS other key-column types up front and
    records the column dtype in the sidecar; the probe additionally
    requires the probe values' Python type to match the recorded dtype
    (falling back to unpruned on any mismatch)."""
    if n_bits < 64 or n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two >= 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    m = _read_table_manifest(out_dir)
    if m is None:
        raise ValueError(f"no committed catalog under {out_dir}")
    todo = list(chunks) if chunks is not None else list(m.get("chunks", []))
    md5b = "md5(cast(s as binary))"
    h1 = f"cast(conv(substring({md5b},1,15),16,10) as bigint)"
    h2 = (
        f"(pmod(cast(conv(substring({md5b},17,15),16,10) as bigint),"
        f" {n_bits - 1}) + 1)"
    )
    pos_expr = (
        f"transform(sequence(0, {n_hashes - 1}),"
        f" i -> pmod({h1} + cast(i as bigint) * {h2}, {n_bits}))"
    )
    written: list[str] = []
    for c in todo:
        tdir = os.path.join(out_dir, c, table)
        if not os.path.isdir(tdir):
            continue
        raw = spark.read.parquet(tdir)
        dtype = raw.schema[key_col].dataType.simpleString()
        if dtype not in _BLOOM_KEY_DTYPES:
            raise ValueError(
                f"add_bloom_index: key column {key_col!r} has type"
                f" {dtype}; only integral/string key columns are"
                " indexable (CAST AS STRING must round-trip through"
                " the probe's str(v) — e.g. a double CASTs as '5.0'"
                " while str(5) is '5', silently mispruning)"
            )
        sdf = (
            raw
            .select(F.col(key_col).cast("string").alias("s"))
            .where(F.col("s").isNotNull())
            .distinct()
        )
        words = (
            sdf.select(F.explode(F.expr(pos_expr)).alias("pos"))
            .groupBy(F.expr("cast(pos div 64 as bigint)").alias("w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(cast(1 as bigint),"
                    " cast(pmod(pos, 64) as int)))"
                ).alias("bits")
            )
        )
        word_map = {
            str(int(r["w"])): format(
                int(r["bits"]) & 0xFFFFFFFFFFFFFFFF, "016x"
            )
            for r in words.collect()
        }
        sidecar = {
            "version": _BLOOM_VERSION,
            "table": table,
            "col": key_col,
            "dtype": dtype,
            "n_bits": n_bits,
            "n_hashes": n_hashes,
            "words": word_map,
        }
        path = _bloom_path(out_dir, c, table, key_col)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sidecar, f)
        os.replace(tmp, path)
        written.append(c)
    return written


def _bloom_candidate_chunks(
    out_dir: str, table: str, chunks: list[str], key_cols: list[str],
    keys,
) -> list[str]:
    """Bloom-sidecar membership pruning of the DML probe, applied after
    footer-stats pruning. Conservative everywhere: multi-column keys,
    oversized key sets, non-int/string values, missing/unreadable/
    mismatched sidecars all keep the chunk — correctness never depends
    on pruning (the scan probe over candidates is the authority)."""
    if len(key_cols) != 1:
        return chunks
    vals = _collect_prune_keys(keys)
    if not vals:  # oversized (None) or empty: no pruning
        return chunks
    if all(
        isinstance(v, int) and not isinstance(v, bool) for v in vals
    ):
        vals_kind = "int"
    elif all(isinstance(v, str) for v in vals):
        vals_kind = "str"
    else:
        return chunks  # str(v) must match Spark's CAST AS STRING
    kept: list[str] = []
    for c in chunks:
        try:
            with open(_bloom_path(out_dir, c, table, key_cols[0])) as f:
                sc = json.load(f)
            if (
                sc.get("version") != _BLOOM_VERSION
                or sc.get("col") != key_cols[0]
            ):
                kept.append(c)
                continue
            # the indexed COLUMN's type must agree with the probe
            # values' Python type: int values on an integral column,
            # str values on a string column. A missing/other dtype
            # (pre-guard sidecar, non-indexable column) keeps the
            # chunk — pruning never trusts an ambiguous hash form.
            dt = sc.get("dtype")
            if not (
                (vals_kind == "int" and dt in _BLOOM_INT_DTYPES)
                or (vals_kind == "str" and dt == "string")
            ):
                kept.append(c)
                continue
            nb, nh = int(sc["n_bits"]), int(sc["n_hashes"])
            words = {int(i): int(w, 16) for i, w in sc["words"].items()}
            hit = any(
                all(
                    (words.get(p // 64, 0) >> (p % 64)) & 1
                    for p in _bloom_positions_py(str(v), nb, nh)
                )
                for v in vals
            )
        except Exception:  # sidecars are best-effort; keep the chunk
            kept.append(c)
            continue
        if hit:
            kept.append(c)
    return kept


def _probe_affected(
    spark, out_dir: str, table: str, keys: DataFrame, key_cols: list[str],
    chunks: list[str],
) -> tuple[list[str], int, int]:
    """Which baseline chunks hold any of `keys`? Footer-stats pruning
    first (no job), then bloom-sidecar membership pruning where
    indexed, then one column-pruned scan over the surviving
    candidates, pinned to the baseline snapshot. Returns (affected
    chunk dirnames, n distinct keys matched, n rows matched)."""
    kvals = _collect_prune_keys(keys) if len(key_cols) == 1 else None
    probe_keys = keys if kvals is None else kvals
    candidates = _stats_candidate_chunks(
        out_dir, table, chunks, key_cols, probe_keys
    )
    candidates = _bloom_candidate_chunks(
        out_dir, table, candidates, key_cols, probe_keys
    )
    paths = _table_paths(out_dir, candidates, table)
    if not paths:
        return [], 0, 0
    probe = (
        spark.read.option("basePath", out_dir)
        .parquet(*paths)
        .select("chunk", *key_cols)
        .join(F.broadcast(keys), key_cols)
    ).localCheckpoint(eager=False)  # three consumers, one computed copy
    hit_vals = {str(r["chunk"]) for r in probe.select("chunk").distinct().collect()}

    def _hit(name: str) -> bool:
        # partition-value inference may strip leading zeros
        # ("chunk=0000" reads back as 0); match on either spelling
        v = name.split("=", 1)[1]
        if v in hit_vals:
            return True
        return v.lstrip("0") in hit_vals or (v.strip("0") == "" and "0" in hit_vals)

    affected = [c for c in chunks if _hit(c)]
    matched = int(probe.select(*key_cols).distinct().count())
    n_rows = int(probe.count())
    return affected, matched, n_rows


class _SwapConflict(RuntimeError):
    """A copy-on-write swap lost to a concurrent writer (retryable)."""


def _swap_chunks_commit(
    out_dir: str, new_name: str, members: list[str], op: str,
    baseline: set[str] | None = None,
) -> dict:
    """CAS-commit a copy-on-write swap: `members` out, the promoted
    `new_name` in. A member retracted since planning is a conflict;
    with a `baseline` (merge/delete), so is any chunk appended since
    the baseline probe — it may carry rows for the touched keys, so
    the rewrite would not cover it (Iceberg's validation semantics).
    Compaction passes none: rows appended meanwhile are simply kept.
    On conflict the promoted dir is removed and a retryable
    _SwapConflict raised; the CAS replay re-validates on every attempt."""
    gone = set(members)
    why: list[str] = []

    def mutate(mm: dict) -> dict | None:
        have = set(mm["chunks"])
        why.clear()
        if not gone <= have:
            why.append(f"chunks {sorted(gone - have)} were retracted concurrently")
        elif baseline is not None and have - baseline:
            why.append(
                f"chunks {sorted(have - baseline)} were appended concurrently "
                f"and may hold {op}-touched keys"
            )
        else:
            mm["chunks"] = sorted((have - gone) | {new_name})
            return mm
        return None

    committed = _commit_table_manifest(out_dir, mutate)
    if why:
        shutil.rmtree(os.path.join(out_dir, new_name))
        raise _SwapConflict(
            f"{op} aborted ({why[0]}): retry — the fresh probe will cover "
            "the current snapshot"
        )
    return committed


def _dml_baseline(
    spark, out_dir: str, table: str, key_cols: list[str], op: str
) -> tuple[list[str], int, list[str] | None]:
    """The snapshot a merge/delete probes and validates against: its
    chunk list, its id, and `table`'s columns read at it (None when the
    catalog holds no chunk), with `key_cols` checked against them."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    m = _read_table_manifest(out_dir)
    if m is None:
        raise ValueError(
            f"{out_dir} has no snapshot catalog — {op} requires the manifest "
            "layout (legacy chunk stores have no snapshot to swap atomically)"
        )
    chunks = list(m.get("chunks", []))
    base_snap = int(m.get("snapshot", 0))
    if not chunks:
        return chunks, base_snap, None
    # every read is pinned to the BASELINE snapshot so the probed chunk
    # set is exactly `chunks` — the commit-time conflict check compares
    # against this set, and an unpinned read racing a concurrent append
    # would probe chunks outside it
    cols = (
        read_output(spark, out_dir, table, snapshot=base_snap).drop("chunk").columns
    )
    missing = [c for c in key_cols if c not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in table {table}")
    return chunks, base_snap, cols


def _rewrite_chunks(
    spark, out_dir: str, table: str, op: str, chunks: list[str],
    base_snap: int, affected: list[str], keys: DataFrame,
    key_cols: list[str], updates: DataFrame | None = None,
) -> tuple[str, int]:
    """The copy-on-write rewrite of merge_upsert and delete_rows:
    `table`'s rows in the `affected` chunks without `keys`, plus any
    `updates`, become ONE new chunk; the affected chunks' other tables
    are carried over by hard link (zero data movement); the chunk is
    promoted and swapped in against the baseline `chunks`. Returns
    (new chunk name, committed snapshot id)."""
    new_name = _fresh_chunk_name(op, base_snap)
    new_dir = os.path.join(out_dir, new_name)
    tmp_dir = _stage(new_dir)
    rows = updates
    if affected:
        rows = (
            spark.read.option("basePath", out_dir)
            .parquet(*_table_paths(out_dir, affected, table))
            .drop("chunk")
            .join(F.broadcast(keys), key_cols, "left_anti")
        )
        if updates is not None:
            rows = rows.select(*updates.columns).unionByName(updates)
    rows.write.mode("overwrite").parquet(os.path.join(tmp_dir, table))
    for t in sorted(_chunk_tables(out_dir, affected) - {table}):
        _carry_table_files(out_dir, affected, t, os.path.join(tmp_dir, t))
    os.rename(tmp_dir, new_dir)
    committed = _swap_chunks_commit(
        out_dir, new_name, affected, op, baseline=set(chunks)
    )
    return new_name, int(committed.get("snapshot", 0))


def merge_upsert(
    spark,
    out_dir: str,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict:
    """Row-level MERGE (upsert) on one table of the chunk catalog —
    copy-on-write, the `MERGE INTO` half of the table-format contract
    (matched keys are replaced by the update row, unmatched keys are
    inserted). The reference's per-document upsert is HorusSql.cs's
    transactional delete+insert per DocumentNumber (HorusSql.cs:210-311);
    this is the set-oriented equivalent: ONE scan finds the affected
    chunk directories, only those are rewritten, and a single CAS
    snapshot commit swaps them for the rewritten chunk — readers racing
    the merge see the pre- or post-merge snapshot, never a mixture, and
    time travel to the pre-merge snapshot keeps working until
    expire+vacuum reclaim it. Concurrent WRITERS get serializable
    isolation: the commit validates that no chunk was appended or
    retracted since the baseline probe (an appended chunk may carry
    merged keys the rewrite did not cover) and aborts with a retryable
    error otherwise — Iceberg's MERGE validation semantics.

    Scale shape: the touched-chunk probe runs parquet-footer min/max
    pruning first (driver-side, no job — the Iceberg column-bounds
    manifest analog; chunks whose key ranges cannot hold any update key
    are skipped without a scan), then a column-pruned scan of
    (key_cols, chunk) joined to the broadcast update keys over the
    surviving candidates — chunks without matches are NEVER rewritten.
    OTHER tables living in the affected chunk dirs are
    carried over by hard link (object-store analog: the new snapshot
    references the old data files) — zero data movement for tables the
    merge does not touch; their rows are intentionally untouched, so
    child tables keyed to replaced rows must be merged separately.

    `updates` must carry exactly the target table's columns and at most
    one row per key (ambiguous merges are an error, same as Iceberg's
    MERGE cardinality check). Returns {"matched": n, "inserted": n,
    "affected": [...], "new": name-or-None, "snapshot": id}.
    """
    chunks, base_snap, target_cols = _dml_baseline(
        spark, out_dir, table, key_cols, "merge_upsert"
    )
    if target_cols is not None and sorted(updates.columns) != sorted(target_cols):
        raise ValueError(
            f"updates columns {sorted(updates.columns)} != table "
            f"columns {sorted(target_cols)}"
        )
    dup = (
        updates.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"updates carry multiple rows for key {tuple(dup[0][k] for k in key_cols)}"
            " — MERGE cardinality violation"
        )
    n_updates = updates.count()
    if n_updates == 0:
        return {
            "matched": 0, "inserted": 0, "affected": [], "new": None,
            "snapshot": base_snap,
        }

    keys = updates.select(*key_cols)
    affected: list[str] = []
    matched = 0
    if chunks:
        affected, matched, _ = _probe_affected(
            spark, out_dir, table, keys, key_cols, chunks
        )
    new_name, snap = _rewrite_chunks(
        spark, out_dir, table, "merge", chunks, base_snap, affected, keys,
        key_cols, updates,
    )
    return {
        "matched": matched,
        "inserted": int(n_updates - matched),
        "affected": affected,
        "new": new_name,
        "snapshot": snap,
    }


def delete_rows(
    spark,
    out_dir: str,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
) -> dict:
    """Row-level DELETE on one table of the chunk catalog — the third
    of the DML triad next to the append sink and merge_upsert, with the
    same copy-on-write + CAS contract: one baseline-pinned probe finds
    the chunks holding any key, only those are rewritten without the
    matching rows, and the snapshot commit swaps them in atomically
    with serializable validation (concurrent append/retract aborts with
    a retryable error). Readers see pre- or post-delete, never a
    mixture; time travel to the pre-delete snapshot keeps working until
    expire+vacuum. The reference's analog is the per-document DELETE
    half of HorusSql.cs's transactional delete+insert
    (HorusSql.cs:210-311).

    `keys` carries exactly `key_cols` (extra columns are projected
    away; duplicate key rows are harmless — deletion is idempotent).
    If every row of an affected chunk matches, the rewritten chunk is
    an empty-but-valid parquet table, preserving the swap's atomicity.
    Returns {"matched": distinct keys found, "deleted": rows removed,
    "affected": [...], "new": name-or-None, "snapshot": id}.
    """
    chunks, base_snap, _ = _dml_baseline(
        spark, out_dir, table, key_cols, "delete_rows"
    )
    missing = [c for c in key_cols if c not in keys.columns]
    if missing:
        raise ValueError(f"keys frame lacks key columns {missing}")
    kdf = keys.select(*key_cols).distinct()
    nothing = {
        "matched": 0, "deleted": 0, "affected": [], "new": None,
        "snapshot": base_snap,
    }
    if not chunks or kdf.limit(1).count() == 0:
        return nothing
    affected, matched, n_rows = _probe_affected(
        spark, out_dir, table, kdf, key_cols, chunks
    )
    if not affected:
        return nothing
    new_name, snap = _rewrite_chunks(
        spark, out_dir, table, "delete", chunks, base_snap, affected, kdf,
        key_cols,
    )
    return {
        "matched": matched,
        "deleted": n_rows,
        "affected": affected,
        "new": new_name,
        "snapshot": snap,
    }


def expire_snapshots(out_dir: str, keep_last: int = 2) -> list[int]:
    """Drop archived snapshot manifests older than the newest
    `keep_last` (the current snapshot is always retained). Time travel
    to an expired snapshot stops working — by contract, exactly like
    Iceberg's expireSnapshots. Returns the expired ids."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = list_snapshots(out_dir)
    expired = snaps[:-keep_last]
    for sid in expired:
        os.unlink(_snapshot_path(out_dir, sid))
    return expired


def vacuum_chunks(out_dir: str, grace_s: float = 86400.0) -> list[str]:
    """Delete chunk directories referenced by NO retained snapshot, and
    the `_tmp_*` staging directories crashed writers left — the
    remove-orphan-files half of maintenance, run AFTER expire_snapshots:
    every retained snapshot (and therefore every reader holding one)
    keeps all of its directories. Returns the removed directory names.

    Two safety rails (both were review findings, not theory):

    - A LEGACY store (pre-manifest layout: chunk dirs, no _snapshots/)
      has an empty referenced set, so a naive sweep would delete the
      ENTIRE dataset. Vacuuming a store with no snapshot catalog is
      refused with an error.
    - A writer promotes a chunk directory (os.rename) BEFORE its
      manifest commit, so a concurrent vacuum could see the new dir as
      unreferenced, delete it, and leave the writer committing a
      snapshot that points at nothing. Directories modified within
      `grace_s` seconds are skipped (Iceberg's remove-orphan-files
      `older_than` contract); the promote->commit window is
      milliseconds, so the default 24h grace is conservative. The same
      grace covers a staging directory a live writer is still filling.
    """
    snaps = list_snapshots(out_dir)
    if not snaps:
        raise ValueError(
            f"{out_dir} has no snapshot catalog — refusing to vacuum a "
            "legacy chunk store (every chunk dir would count as an orphan)"
        )
    referenced: set[str] = set()
    for sid in snaps:
        referenced.update(_snapshot_chunks(out_dir, sid))
    m = _read_table_manifest(out_dir)
    if m:
        referenced.update(m.get("chunks", []))
    now = time.time()
    removed = []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if name.startswith("chunk="):
            if name in referenced:
                continue
        elif not (name.startswith("_tmp_") and os.path.isdir(path)):
            continue
        try:
            age = now - os.path.getmtime(path)
        except OSError:
            continue  # concurrently removed
        if age < grace_s:
            continue  # possibly a promote awaiting its manifest commit
        shutil.rmtree(path)
        removed.append(name)
    return removed


def catalog_fsck(out_dir: str, grace_s: float = 86400.0) -> dict:
    """Consistency audit of a snapshot-catalog store — the read-only
    fsck an operator runs before trusting (or repairing) a dataset.
    Pure driver-side filesystem walk; launches no Spark job, mutates
    nothing. Returns a report dict:

      ok                 every check clean
      has_catalog        _snapshots/ exists (False = legacy bare store)
      snapshot           the pointer manifest's snapshot id (None if
                         unreadable)
      max_archived       highest archived snapshot id
      stale_pointer      pointer lags the archive (readers already
                         treat max-archived as truth; flags a crashed
                         commit's leftover)
      snapshot_gaps      missing ids inside [1, max_archived] — CAS
                         claims make ids gapless, so a gap means
                         someone deleted archive files by hand
      corrupt_files      present-but-unreadable catalog JSON (a
                         truncated archive entry or pointer): report
                         it as CORRUPTION, never as a gap, and
                         suppress orphan detection — the referenced
                         set is incomplete, so 'orphan' would slander
                         live data into vacuum's path
      missing_chunks     referenced by a retained snapshot or the
                         pointer but the directory is gone (data loss —
                         the one state fsck cannot repair)
      orphan_chunks      directories no retained snapshot references
                         and older than `grace_s` (vacuum reclaims;
                         empty whenever corrupt_files is non-empty)
      stale_tmp          _tmp_* staging leftovers older than `grace_s`
                         (a crashed writer before promote; safe to
                         delete)

    Never raises on damaged catalog state — a report, not a stack
    trace, is the contract. The grace window mirrors vacuum_chunks'
    so fsck never flags a concurrent writer's in-flight promote as
    damage."""
    report: dict = {
        "has_catalog": False,
        "snapshot": None,
        "max_archived": 0,
        "stale_pointer": False,
        "snapshot_gaps": [],
        "corrupt_files": [],
        "missing_chunks": [],
        "orphan_chunks": [],
        "stale_tmp": [],
    }
    snaps = list_snapshots(out_dir)
    report["has_catalog"] = bool(snaps)
    referenced: set[str] = set()
    for sid in snaps:
        try:
            referenced.update(_snapshot_chunks(out_dir, sid))
        except Exception:
            report["corrupt_files"].append(
                os.path.relpath(_snapshot_path(out_dir, sid), out_dir)
            )
    # the RAW pointer file, not _read_table_manifest: that helper
    # already self-heals to the max archived snapshot, which is exactly
    # the condition fsck must surface rather than paper over (and it
    # would also re-raise on the corrupt pointer this guard absorbs)
    ptr_path = os.path.join(out_dir, _TABLE_MANIFEST)
    if os.path.exists(ptr_path):
        try:
            with open(ptr_path) as fh:
                ptr = json.load(fh)
            report["snapshot"] = int(ptr.get("snapshot", 0))
            referenced.update(ptr.get("chunks", []))
        except Exception:
            report["corrupt_files"].append(_TABLE_MANIFEST)
    if snaps:
        report["max_archived"] = snaps[-1]
        report["snapshot_gaps"].extend(
            i for i in range(1, snaps[-1] + 1) if i not in set(snaps)
        )
        if report["snapshot"] is not None:
            report["stale_pointer"] = report["snapshot"] < snaps[-1]
    report["missing_chunks"] = sorted(
        c for c in referenced
        if not os.path.isdir(os.path.join(out_dir, c))
    )
    now = time.time()
    if os.path.isdir(out_dir):
        for name in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, name)
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if name.startswith("chunk=") and name not in referenced:
                # incomplete referenced set -> cannot prove orphanhood
                if age > grace_s and not report["corrupt_files"]:
                    report["orphan_chunks"].append(name)
            elif name.startswith("_tmp_") and age > grace_s:
                report["stale_tmp"].append(name)
    report["ok"] = (
        report["has_catalog"]
        and not report["stale_pointer"]
        and not report["snapshot_gaps"]
        and not report["corrupt_files"]
        and not report["missing_chunks"]
        and not report["orphan_chunks"]
        and not report["stale_tmp"]
    )
    return report


def read_lookup(
    spark,
    out_dir: str,
    table: str,
    key_col: str,
    values: list,
    snapshot: int | None = None,
) -> DataFrame:
    """Point-lookup read over the snapshot catalog: `read_output`
    filtered to `key_col IN values`, but with chunk-level pruning
    BEFORE the scan — parquet-footer min/max first, then bloom
    sidecars where `add_bloom_index` built them. On an interleaved
    layout the footer tier keeps everything and the bloom tier does
    the work (test_bloom_skip pins both); either way the answer is
    identical to the unpruned filter, because pruning only ever drops
    chunks that provably hold no key.

    The pruned scan also keeps the IN-filter, so parquet row-group
    stats and dictionary filters still apply inside surviving chunks.
    Returns the same shape as read_output (chunk column included)."""
    values = [v for v in values if v is not None]
    if not values:
        raise ValueError("values must contain at least one non-NULL key")
    m = _read_table_manifest(out_dir)
    if m is None:
        raise ValueError(f"no committed catalog under {out_dir}")
    if snapshot is None:
        chunks = [str(c) for c in m.get("chunks", [])]
    else:
        chunks = _snapshot_chunks(out_dir, snapshot)
    # the pruning tiers take the python list directly — no Spark job
    # ever runs for the key set on this path
    candidates = _stats_candidate_chunks(
        out_dir, table, chunks, [key_col], list(values)
    )
    candidates = _bloom_candidate_chunks(
        out_dir, table, candidates, [key_col], list(values)
    )
    paths = _table_paths(out_dir, candidates, table)
    base = spark.read.option("basePath", out_dir)
    if not paths:
        # provably no chunk holds any key: empty frame, correct schema
        all_paths = _table_paths(out_dir, chunks, table)
        if not all_paths:
            raise ValueError(f"table {table} absent from every chunk")
        return (
            base.parquet(*all_paths)
            .where(F.lit(False))
        )
    return base.parquet(*paths).where(F.col(key_col).isin(values))
