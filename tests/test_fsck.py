"""Catalog fsck (sink.py:catalog_fsck): read-only consistency audit."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from horus_spark.sources.sink import append_chunk, catalog_fsck, vacuum_chunks


def _store(spark, tmp_path, n_chunks=3):
    out = str(tmp_path)
    df = spark.range(0, 30).select(F.col("id").alias("k"))
    for i in range(n_chunks):
        append_chunk(out, {"t": df.filter(F.col("k") % n_chunks == i)}, run_id=f"s{i}")
    return out


def test_healthy_store_is_clean(spark, tmp_path):
    out = _store(spark, tmp_path)
    r = catalog_fsck(out)
    assert r["ok"] is True
    assert r["has_catalog"] and r["snapshot"] == 3 and r["max_archived"] == 3
    assert not (
        r["missing_chunks"] or r["orphan_chunks"] or r["stale_tmp"]
        or r["snapshot_gaps"] or r["stale_pointer"]
    )


def test_missing_chunk_detected(spark, tmp_path):
    out = _store(spark, tmp_path)
    victim = next(n for n in os.listdir(out) if n.startswith("chunk="))
    shutil.rmtree(os.path.join(out, victim))
    r = catalog_fsck(out)
    assert r["ok"] is False and r["missing_chunks"] == [victim]


def test_orphan_and_tmp_respect_grace(spark, tmp_path):
    out = _store(spark, tmp_path)
    os.makedirs(os.path.join(out, "chunk=orphan-999999"))
    os.makedirs(os.path.join(out, "_tmp_crashed"))
    # inside the grace window: a concurrent writer, not damage
    assert catalog_fsck(out)["ok"] is True
    # past the grace window: flagged
    r = catalog_fsck(out, grace_s=0.0)
    assert r["orphan_chunks"] == ["chunk=orphan-999999"]
    assert r["stale_tmp"] == ["_tmp_crashed"]
    assert r["ok"] is False


def test_vacuum_removes_a_crashed_writers_staging(spark, tmp_path):
    """An append whose second table fails leaves its private staging
    directory `_tmp_chunk_append-<snapshot>-<uuid>`, which no later writer
    reuses. vacuum_chunks keeps it inside the grace window, then removes
    it and names it, and fsck comes back clean."""
    out = _store(spark, tmp_path, n_chunks=1)
    bad = spark.range(3).select(F.raise_error(F.lit("injected failure")).alias("k"))
    with pytest.raises(Exception, match="injected failure"):
        append_chunk(out, {"t": spark.range(3), "u": bad})
    leftover = [n for n in os.listdir(out) if n.startswith("_tmp_")]
    assert len(leftover) == 1 and leftover[0].startswith("_tmp_chunk_append-")
    append_chunk(out, {"t": spark.range(3)})
    assert catalog_fsck(out, grace_s=0.0)["stale_tmp"] == leftover
    assert vacuum_chunks(out) == []
    assert vacuum_chunks(out, grace_s=0.0) == leftover
    assert catalog_fsck(out, grace_s=0.0)["ok"] is True


def test_stale_pointer_and_gap(spark, tmp_path):
    out = _store(spark, tmp_path)
    # simulate a crashed commit: archive advanced, pointer lags
    with open(os.path.join(out, "_table_manifest.json")) as f:
        m = json.load(f)
    m["snapshot"] = 1
    with open(os.path.join(out, "_table_manifest.json"), "w") as f:
        json.dump(m, f)
    r = catalog_fsck(out)
    assert r["stale_pointer"] is True and r["ok"] is False
    # hand-deleted archive file -> gap
    os.remove(os.path.join(out, "_snapshots", "snapshot_000002.json"))
    r2 = catalog_fsck(out)
    assert 2 in r2["snapshot_gaps"]


def test_legacy_store_flagged(spark, tmp_path):
    out = str(tmp_path)
    os.makedirs(os.path.join(out, "chunk=legacy-000000"))
    r = catalog_fsck(out, grace_s=0.0)
    assert r["has_catalog"] is False and r["ok"] is False


def test_corrupt_catalog_reported_not_raised(spark, tmp_path):
    out = _store(spark, tmp_path)
    # corrupt pointer: fsck must return a report, never raise
    with open(os.path.join(out, "_table_manifest.json"), "w") as f:
        f.write("{truncated")
    r = catalog_fsck(out)
    assert r["ok"] is False
    assert "_table_manifest.json" in r["corrupt_files"]
    # corrupt archive entry: CORRUPTION, not a gap — and orphan
    # detection is suppressed (the referenced set is incomplete)
    with open(
        os.path.join(out, "_snapshots", "snapshot_000001.json"), "w"
    ) as f:
        f.write("garbage")
    os.makedirs(os.path.join(out, "chunk=maybe-live-999999"))
    r2 = catalog_fsck(out, grace_s=0.0)
    assert "_snapshots/snapshot_000001.json" in r2["corrupt_files"]
    assert 1 not in r2["snapshot_gaps"]
    assert r2["orphan_chunks"] == []  # never slander live data


@pytest.mark.parametrize(
    "writer", ["append_chunk", "merge_upsert", "delete_rows", "compact_chunks"]
)
def test_crash_between_promote_and_commit(spark, tmp_path, monkeypatch, writer):
    """Every chunk writer promotes its chunk dir before the snapshot
    commit. A crash in between leaves readers on the previous snapshot
    and the promoted dir as the one orphan, which vacuum reclaims."""
    from horus_spark.sources import sink

    out = _store(spark, tmp_path)
    rows = sorted(r["k"] for r in sink.read_output(spark, out, "t").collect())
    snap = sink._read_table_manifest(out)["snapshot"]
    before = set(os.listdir(out))

    def crash(*a, **kw):
        raise RuntimeError("injected crash before the snapshot commit")

    monkeypatch.setattr(sink, "_commit_table_manifest", crash)
    keys = spark.createDataFrame([(1,), (100,)], "k long")
    with pytest.raises(RuntimeError, match="injected crash"):
        if writer == "append_chunk":
            sink.append_chunk(out, {"t": keys})
        elif writer == "compact_chunks":
            sink.compact_chunks(spark, out, target_bytes=1 << 30)
        else:
            getattr(sink, writer)(spark, out, "t", keys, ["k"])
    monkeypatch.undo()

    promoted = sorted(set(os.listdir(out)) - before)
    assert len(promoted) == 1 and promoted[0].startswith("chunk=")
    assert sorted(r["k"] for r in sink.read_output(spark, out, "t").collect()) == rows
    assert sink._read_table_manifest(out)["snapshot"] == snap
    assert catalog_fsck(out, grace_s=0)["orphan_chunks"] == promoted
    assert sink.vacuum_chunks(out, grace_s=0) == promoted
    assert catalog_fsck(out, grace_s=0)["ok"]
