"""Checkpoint-resume: kill-and-resume yields complete, duplicate-free
output (the Spark-native equivalent of the reference's durable-function
replay, DocumentProcessor.cs:52-111)."""

import pytest
from pyspark.sql import functions as F

from horus_spark.fixtures.generator import corpus_spark
from horus_spark.sources.sink import read_output, run_checkpointed


def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    c = corpus_spark(spark, 40, partitions=4)
    docs = c["documents"].cache()
    words = c["ocr_words"].cache()
    n_total = docs.count()
    words.count()

    # first run crashes after 2 completed chunks
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(docs, words, out, run_id="r1", n_chunks=4, fail_after_chunk=2)

    # resume completes only the remaining chunks
    res = run_checkpointed(docs, words, out, run_id="r2", n_chunks=4)
    assert sorted(res["completed"] + res["skipped"]) == [0, 1, 2, 3]
    assert len(res["skipped"]) == 2

    got = read_output(spark, out, "documents_out")
    assert got.count() == n_total
    assert got.select("doc_id").distinct().count() == n_total  # no duplicates

    spans = read_output(spark, out, "spans_out")
    assert spans.count() == n_total
    metrics = read_output(spark, out, "_metrics")
    assert metrics.groupBy().sum("n_docs").collect()[0][0] == n_total
    # round-3: measured shred latency + recognizer outcomes roll up into
    # the metrics sink (nonzero avg, zero failures on the clean corpus)
    m = metrics.agg(
        F.min("avg_shred_ms").alias("mn"),
        F.sum("n_recognizer_failures").alias("nf"),
    ).collect()[0]
    assert m.mn > 0 and m.nf == 0
    lineage = read_output(spark, out, "_lineage")
    assert lineage.select("doc_id").distinct().count() == n_total

    # second resume is a no-op (idempotent)
    res2 = run_checkpointed(docs, words, out, run_id="r3", n_chunks=4)
    assert res2["completed"] == [] and len(res2["skipped"]) == 4

    # P10: PostCode truncated to 10 chars at persist time only
    # (reference HorusSql.cs:235-241)
    assert got.filter(F.length("post_code") > 10).count() == 0


def test_atomic_chunk_commit(spark, tmp_path):
    """A crash at ANY point during a chunk's table writes must leave the
    published output exactly at the previous chunk state (all-or-nothing
    per chunk): tables land in a tmp dir invisible to read_output and are
    promoted by one atomic rename."""
    import os

    out = str(tmp_path / "out3")
    c = corpus_spark(spark, 30, partitions=4)
    docs = c["documents"].cache()
    words = c["ocr_words"].cache()
    n_total = docs.count()
    words.count()

    # crash while chunk #2's tables are written but not yet promoted
    with pytest.raises(RuntimeError, match="before promoting"):
        run_checkpointed(docs, words, out, run_id="r1", n_chunks=4, fail_before_promote=2)

    published = sorted(p for p in os.listdir(out) if p.startswith("chunk="))
    assert len(published) == 1  # only the fully-committed chunk is visible
    stale = [p for p in os.listdir(out) if p.startswith("_tmp_chunk_")]
    assert len(stale) == 1  # the crashed chunk's partial tables, unpublished
    # every published chunk has its complete table set (no partial views)
    for p in published:
        for t in ("documents_full", "documents_out", "line_items", "errors",
                  "spans_out", "_metrics", "_lineage"):
            assert os.path.exists(os.path.join(out, p, t, "_SUCCESS")), (p, t)
    before = read_output(spark, out, "documents_out").count()
    assert 0 < before < n_total

    # resume: stale tmp discarded, all chunks complete, no duplicates
    res = run_checkpointed(docs, words, out, run_id="r2", n_chunks=4)
    assert sorted(res["completed"] + res["skipped"]) == [0, 1, 2, 3]
    assert not [p for p in os.listdir(out) if p.startswith("_tmp_chunk_")]
    got = read_output(spark, out, "documents_out")
    assert got.count() == n_total
    assert got.select("doc_id").distinct().count() == n_total


def test_chunk_scan_prunes_staged_partitions(spark, tmp_path):
    """The per-chunk read must hit only its staged partition directory
    (PartitionFilters on __chunk), not re-scan the full corpus."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "out2")
    c = corpus_spark(spark, 20, partitions=2)
    run_checkpointed(c["documents"], c["ocr_words"], out, run_id="r1", n_chunks=4)

    staged = spark.read.parquet(os.path.join(out, "_staging", "documents"))
    pruned = staged.filter(F.col("__chunk") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__chunk" in plan
    # the pruned scan reads strictly fewer files than the full staged scan
    n_all = staged.inputFiles()
    n_pruned = pruned.withColumn("__f", F.input_file_name()).select("__f").distinct().count()
    assert n_pruned < len(n_all)
    # staging is reused (not rewritten) on resume
    mtime = os.path.getmtime(os.path.join(out, "_staging", "documents", "_SUCCESS"))
    run_checkpointed(c["documents"], c["ocr_words"], out, run_id="r2", n_chunks=4)
    assert os.path.getmtime(os.path.join(out, "_staging", "documents", "_SUCCESS")) == mtime


def test_manifest_snapshot_isolation(spark, tmp_path):
    """Snapshot-catalog contract: a chunk becomes reader-visible only at
    its _table_manifest.json commit. A crash AFTER the directory promote
    but BEFORE the manifest commit leaves readers on the previous
    consistent snapshot (even though the directory exists on disk); the
    resume retracts-then-redoes the chunk with no duplicates."""
    import json
    import os

    from horus_spark.sources.sink import _read_table_manifest

    out = str(tmp_path / "out4")
    c = corpus_spark(spark, 30, partitions=4)
    docs = c["documents"].cache()
    words = c["ocr_words"].cache()
    n_total = docs.count()
    words.count()

    # crash chunk #2 after its os.rename but before the manifest commit
    with pytest.raises(RuntimeError, match="before manifest"):
        run_checkpointed(
            docs, words, out, run_id="r1", n_chunks=4, fail_before_manifest=2
        )
    on_disk = sorted(p for p in os.listdir(out) if p.startswith("chunk="))
    assert len(on_disk) == 2  # the promoted-but-uncommitted dir exists...
    m = _read_table_manifest(out)
    assert len(m["chunks"]) == 1  # ...but the snapshot doesn't list it
    # readers see exactly the previous snapshot
    seen = read_output(spark, out, "documents_out")
    committed_docs = seen.count()
    assert 0 < committed_docs < n_total
    chunk_col = {os.path.dirname(os.path.dirname(f)) for f in seen.inputFiles()}
    assert len(chunk_col) == 1  # one committed chunk dir read, not two

    # resume: the orphaned chunk is retracted, redone, and committed
    res = run_checkpointed(docs, words, out, run_id="r2", n_chunks=4)
    assert sorted(res["completed"] + res["skipped"]) == [0, 1, 2, 3]
    m2 = _read_table_manifest(out)
    assert len(m2["chunks"]) == 4
    assert m2["snapshot"] > m["snapshot"]
    got = read_output(spark, out, "documents_out")
    assert got.count() == n_total
    assert got.select("doc_id").distinct().count() == n_total
    docs.unpersist(); words.unpersist()


def test_no_manifest_means_nothing_committed(spark, tmp_path):
    """A crash after the FIRST chunk's directory promote but before its
    manifest commit leaves a chunk dir on disk and no manifest at all.
    Nothing is committed, so read_output raises rather than reading that
    dir; the resume then yields every doc once."""
    import os

    out = str(tmp_path / "out5")
    c = corpus_spark(spark, 30, partitions=4)
    docs = c["documents"].cache()
    words = c["ocr_words"].cache()
    n_total = docs.count()
    words.count()

    with pytest.raises(RuntimeError, match="before manifest"):
        run_checkpointed(
            docs, words, out, run_id="r1", n_chunks=4, fail_before_manifest=1
        )
    assert [p for p in os.listdir(out) if p.startswith("chunk=")]
    with pytest.raises(ValueError, match="no committed chunks"):
        read_output(spark, out, "documents_out")

    run_checkpointed(docs, words, out, run_id="r2", n_chunks=4)
    got = read_output(spark, out, "documents_out")
    assert got.count() == n_total
    assert got.select("doc_id").distinct().count() == n_total
    docs.unpersist(); words.unpersist()


def test_snapshot_time_travel(spark, tmp_path):
    # round-4: every manifest commit archives its content; read_output
    # (snapshot=N) reconstructs the table as of that commit.
    from horus_spark.sources.sink import list_snapshots

    out = str(tmp_path / "tt")
    c = corpus_spark(spark, 24, partitions=4)
    docs, words = c["documents"].cache(), c["ocr_words"].cache()
    n_total = docs.count()
    words.count()

    run_checkpointed(docs, words, out, run_id="tt1", n_chunks=3)
    snaps = list_snapshots(out)
    assert snaps == [1, 2, 3]  # one snapshot per committed chunk

    latest = read_output(spark, out, "documents_out").count()
    assert latest == n_total
    s1 = read_output(spark, out, "documents_out", snapshot=1)
    s2 = read_output(spark, out, "documents_out", snapshot=2)
    assert 0 < s1.count() < s2.count() < n_total
    # snapshots compose: chunk sets are strict prefixes
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 < ids2

    with pytest.raises(ValueError, match="snapshot 99 not found"):
        read_output(spark, out, "documents_out", snapshot=99)


def test_manifest_cas_concurrent_writers(tmp_path):
    """The commit protocol is a compare-and-swap on the snapshot id:
    N racing writers each appending a distinct chunk must all survive —
    the pre-CAS read-modify-write would silently drop losers' chunks.
    No Spark needed; the catalog layer is pure-python by design."""
    from concurrent.futures import ThreadPoolExecutor

    from horus_spark.sources.sink import (
        _read_table_manifest,
        _update_table_manifest,
        list_snapshots,
    )

    out = str(tmp_path / "out")
    import os

    os.makedirs(out)
    chunks = [f"chunk={i:04d}" for i in range(24)]
    with ThreadPoolExecutor(max_workers=12) as ex:
        list(ex.map(lambda c: _update_table_manifest(out, c, "run-x"), chunks))

    m = _read_table_manifest(out)
    assert sorted(m["chunks"]) == sorted(chunks)  # no lost update
    snaps = list_snapshots(out)
    # snapshot ids are unique AND gapless: one claim per commit
    assert snaps == list(range(1, len(chunks) + 1))
    assert m["snapshot"] == len(chunks)
    # no leaked tmp files from lost CAS rounds
    leaked = [
        f
        for f in os.listdir(os.path.join(out, "_snapshots"))
        if ".tmp." in f
    ]
    assert leaked == []


def test_manifest_reader_prefers_newest_snapshot_over_stale_pointer(tmp_path):
    """A crash between the snapshot claim and the pointer publish (or a
    stale pointer overwrite by a slow writer) must not roll readers
    back: the max archived snapshot is the source of truth."""
    import json
    import os

    from horus_spark.sources.sink import (
        _TABLE_MANIFEST,
        _read_table_manifest,
        _update_table_manifest,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    _update_table_manifest(out, "chunk=0000", "r1")
    _update_table_manifest(out, "chunk=0001", "r1")
    # regress the pointer to snapshot 1 (simulated stale publish)
    with open(os.path.join(out, "_snapshots", "snapshot_000001.json")) as fh:
        old = json.load(fh)
    with open(os.path.join(out, _TABLE_MANIFEST), "w") as fh:
        json.dump(old, fh)
    m = _read_table_manifest(out)
    assert m["snapshot"] == 2 and "chunk=0001" in m["chunks"]
    # pointer missing entirely: still reads the newest archive
    os.unlink(os.path.join(out, _TABLE_MANIFEST))
    m = _read_table_manifest(out)
    assert m["snapshot"] == 2 and sorted(m["chunks"]) == [
        "chunk=0000",
        "chunk=0001",
    ]


def test_manifest_noop_retract_does_not_bump(tmp_path):
    import os

    from horus_spark.sources.sink import (
        _read_table_manifest,
        _retract_from_table_manifest,
        _update_table_manifest,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    _update_table_manifest(out, "chunk=0000", "r1")
    _retract_from_table_manifest(out, "chunk=9999")  # not present: no-op
    assert _read_table_manifest(out)["snapshot"] == 1
    _retract_from_table_manifest(out, "chunk=0000")
    m = _read_table_manifest(out)
    assert m["snapshot"] == 2 and m["chunks"] == []


def test_resume_rejects_changed_n_chunks(spark, tmp_path):
    """Review finding: a resume with a smaller n_chunks than the staged
    layout silently read only a prefix of the chunks — half the corpus
    vanished with no error. It must raise instead."""
    import pytest as _pytest

    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources.sink import run_checkpointed

    out = str(tmp_path / "o")
    c = corpus_spark(spark, 30, partitions=2)
    with _pytest.raises(RuntimeError):
        run_checkpointed(
            c["documents"], c["ocr_words"], out, n_chunks=4,
            run_id="runN", fail_after_chunk=1,
        )
    with _pytest.raises(ValueError) as exc:
        run_checkpointed(
            c["documents"], c["ocr_words"], out, n_chunks=2, run_id="runN"
        )
    assert "n_chunks" in str(exc.value)
    # same n_chunks resumes cleanly and completes the remaining chunks
    res = run_checkpointed(
        c["documents"], c["ocr_words"], out, n_chunks=4, run_id="runN"
    )
    assert sorted(res["completed"] + res["skipped"]) == [0, 1, 2, 3]


def test_append_writes_only_the_new_batch_children(spark, tmp_path):
    """Review finding: append mode re-derived the child views from the
    WHOLE wide table, duplicating every prior batch's children on each
    append (quadratic growth). Three appends must give exactly three
    sets of children."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction
    from horus_spark.sources.sink import write_extracted

    out = str(tmp_path / "o")
    c = corpus_spark(spark, 10, partitions=2)
    extracted = run_extraction(c["documents"], c["ocr_words"])
    one_docs = extracted.count()
    one_lines = extracted.selectExpr("explode(line_items)").count()
    for i in range(3):
        write_extracted(extracted, out, mode="append")
    got_full = spark.read.parquet(f"{out}/documents_full").count()
    got_docs = spark.read.parquet(f"{out}/documents_out").count()
    got_lines = spark.read.parquet(f"{out}/line_items").count()
    assert got_full == 3 * one_docs
    assert got_docs == 3 * one_docs  # was 6x under the defect (1+2+3)
    assert got_lines == 3 * one_lines
