"""Chunk compaction + snapshot expiry + vacuum (table maintenance)."""

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def checkpointed_output(spark, tmp_path_factory):
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources.sink import run_checkpointed

    out = str(tmp_path_factory.mktemp("compact_out"))
    c = corpus_spark(spark, 60, partitions=4)
    res = run_checkpointed(
        c["documents"], c["ocr_words"], out, n_chunks=4, run_id="runC"
    )
    assert len(res["completed"]) == 4
    return out


def _doc_ids(spark, out_dir, **kw):
    from horus_spark.sources.sink import read_output

    return sorted(
        r["doc_id"] for r in read_output(spark, out_dir, "documents_out", **kw).collect()
    )


def test_compaction_preserves_rows_and_swaps_snapshot(spark, checkpointed_output):
    from horus_spark.sources.sink import (
        _read_table_manifest,
        compact_chunks,
        list_snapshots,
    )

    out = checkpointed_output
    before_ids = _doc_ids(spark, out)
    before_m = _read_table_manifest(out)
    assert len(before_m["chunks"]) == 4
    pre_snap = before_m["snapshot"]

    res = compact_chunks(spark, out, target_bytes=1 << 30)
    assert len(res["groups"]) == 1
    after_m = _read_table_manifest(out)
    assert len(after_m["chunks"]) == 1
    assert after_m["chunks"][0].startswith("chunk=compact-")
    assert after_m["snapshot"] == pre_snap + 1

    # the row SET is exactly preserved, across every table
    assert _doc_ids(spark, out) == before_ids
    from horus_spark.sources.sink import read_output

    li_before = read_output(
        spark, out, "line_items", snapshot=pre_snap
    ).count()
    assert read_output(spark, out, "line_items").count() == li_before

    # time travel to the pre-compact snapshot still reads the 4 old dirs
    assert _doc_ids(spark, out, snapshot=pre_snap) == before_ids
    assert pre_snap in list_snapshots(out)


def test_compaction_is_idempotent_noop_when_nothing_small(spark, checkpointed_output):
    from horus_spark.sources.sink import _read_table_manifest, compact_chunks

    out = checkpointed_output
    snap = _read_table_manifest(out)["snapshot"]
    # a single compacted chunk remains; min_group=2 finds nothing to do
    res = compact_chunks(spark, out, target_bytes=1 << 30)
    assert res["groups"] == []
    assert _read_table_manifest(out)["snapshot"] == snap


def test_compaction_aborts_on_retracted_member(spark, tmp_path, monkeypatch):
    """A member retracted between the compaction's plan and its snapshot
    commit aborts that group: the promoted compact dir is removed and
    the retracted chunk is not resurrected. The retraction is injected
    by wrapping the commit, as test_merge_aborts_on_concurrent_append
    does for a racing append."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources import sink

    out = str(tmp_path / "o")
    c = corpus_spark(spark, 40, partitions=4)
    sink.run_checkpointed(
        c["documents"], c["ocr_words"], out, n_chunks=3, run_id="runR"
    )
    m0 = sink._read_table_manifest(out)
    victim = m0["chunks"][0]
    remaining = sorted(
        r["doc_id"]
        for r in spark.read.parquet(
            *[os.path.join(out, c, "documents_out") for c in m0["chunks"][1:]]
        ).collect()
    )
    real_commit = sink._commit_table_manifest

    def retracting_commit(out_dir, mutate, run_id=None):
        def retract(mm):
            mm["chunks"] = [c for c in mm["chunks"] if c != victim]
            return mm

        real_commit(out_dir, retract)
        monkeypatch.setattr(sink, "_commit_table_manifest", real_commit)
        return real_commit(out_dir, mutate, run_id=run_id)

    monkeypatch.setattr(sink, "_commit_table_manifest", retracting_commit)
    res = sink.compact_chunks(spark, out, target_bytes=1 << 30)
    assert res["groups"] == []
    assert not [d for d in os.listdir(out) if d.startswith("chunk=compact-")]
    m1 = sink._read_table_manifest(out)
    assert victim not in m1["chunks"]
    assert m1["chunks"] == m0["chunks"][1:]
    assert _doc_ids(spark, out) == remaining


def test_expire_and_vacuum_reclaim_old_chunk_dirs(spark, tmp_path):
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources.sink import (
        _read_table_manifest,
        compact_chunks,
        expire_snapshots,
        list_snapshots,
        read_output,
        run_checkpointed,
        vacuum_chunks,
    )

    out = str(tmp_path / "o")
    c = corpus_spark(spark, 40, partitions=4)
    run_checkpointed(c["documents"], c["ocr_words"], out, n_chunks=3, run_id="runV")
    before_ids = _doc_ids(spark, out)
    compact_chunks(spark, out, target_bytes=1 << 30)

    # vacuum BEFORE expiry removes nothing: old snapshots still reference
    # the original dirs
    assert vacuum_chunks(out, grace_s=0) == []
    old_dirs = [
        n for n in os.listdir(out)
        if n.startswith("chunk=") and not n.startswith("chunk=compact-")
    ]
    assert len(old_dirs) == 3

    expired = expire_snapshots(out, keep_last=1)
    assert expired and list_snapshots(out)[-1] not in expired
    removed = vacuum_chunks(out, grace_s=0)
    assert sorted(removed) == sorted(old_dirs)
    # the live snapshot still reads perfectly
    assert _doc_ids(spark, out) == before_ids
    # time travel to an expired snapshot now fails loudly
    with pytest.raises(ValueError):
        read_output(spark, out, "documents_out", snapshot=expired[0])


def test_expire_rejects_bad_keep(spark, tmp_path):
    from horus_spark.sources.sink import expire_snapshots

    with pytest.raises(ValueError):
        expire_snapshots(str(tmp_path), keep_last=0)


def test_compact_rejects_bad_params(spark, tmp_path):
    from horus_spark.sources.sink import compact_chunks

    with pytest.raises(ValueError):
        compact_chunks(spark, str(tmp_path), target_bytes=0)
    with pytest.raises(ValueError):
        compact_chunks(spark, str(tmp_path), min_group=1)


def test_vacuum_refuses_legacy_store(spark, tmp_path):
    # a pre-manifest layout has no snapshot catalog: every chunk dir
    # would count as an orphan and the WHOLE dataset would be deleted
    from horus_spark.sources.sink import vacuum_chunks

    legacy = tmp_path / "legacy"
    (legacy / "chunk=0000").mkdir(parents=True)
    (legacy / "chunk=0000" / "part-0.parquet").write_bytes(b"x")
    with pytest.raises(ValueError) as exc:
        vacuum_chunks(str(legacy), grace_s=0)
    assert "legacy" in str(exc.value)
    assert (legacy / "chunk=0000").exists()


def test_vacuum_grace_skips_fresh_dirs(spark, tmp_path):
    # the promote->manifest-commit window: a just-renamed chunk dir is
    # not yet referenced; the grace period must protect it
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources.sink import (
        compact_chunks,
        expire_snapshots,
        run_checkpointed,
        vacuum_chunks,
    )

    out = str(tmp_path / "o")
    c = corpus_spark(spark, 30, partitions=2)
    run_checkpointed(c["documents"], c["ocr_words"], out, n_chunks=2, run_id="runG")
    compact_chunks(spark, out, target_bytes=1 << 30)
    expire_snapshots(out, keep_last=1)
    # default grace: the old dirs were modified seconds ago -> untouched
    assert vacuum_chunks(out) == []
    # grace elapsed (simulated) -> reclaimed
    assert len(vacuum_chunks(out, grace_s=0)) == 2
