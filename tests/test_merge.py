"""merge_upsert: copy-on-write row-level MERGE over the chunk catalog."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def merge_store(spark, tmp_path):
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.sources.sink import run_checkpointed

    out = str(tmp_path / "merge_out")
    c = corpus_spark(spark, 40, partitions=4)
    res = run_checkpointed(
        c["documents"], c["ocr_words"], out, n_chunks=4, run_id="runM"
    )
    assert len(res["completed"]) == 4
    return out


def _docs(spark, out, **kw):
    from horus_spark.sources.sink import read_output

    return read_output(spark, out, "documents_out", **kw)


def test_merge_replaces_matched_and_inserts_new(spark, merge_store):
    from horus_spark.sources.sink import _read_table_manifest, merge_upsert

    out = merge_store
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    two = [r.asDict() for r in before.select(*cols).orderBy("doc_id").limit(2).collect()]
    pre_snap = _read_table_manifest(out)["snapshot"]
    pre_ids = sorted(r["doc_id"] for r in before.select("doc_id").collect())

    upd = spark.createDataFrame(
        [
            {**two[0], "account": "MERGED-A"},
            {**two[1], "account": "MERGED-B"},
            {**two[0], "doc_id": "brand-new-doc", "file_name": "brand-new.pdf",
             "account": "NEW"},
        ],
        schema=before.select(*cols).schema,
    )
    res = merge_upsert(spark, out, "documents_out", upd, ["doc_id"])
    assert res["matched"] == 2
    assert res["inserted"] == 1
    assert res["snapshot"] == pre_snap + 1
    assert res["new"].startswith("chunk=merge-")

    after = _docs(spark, out)
    got = {
        r["doc_id"]: r["account"]
        for r in after.filter(
            F.col("doc_id").isin(two[0]["doc_id"], two[1]["doc_id"], "brand-new-doc")
        ).collect()
    }
    assert got == {
        two[0]["doc_id"]: "MERGED-A",
        two[1]["doc_id"]: "MERGED-B",
        "brand-new-doc": "NEW",
    }
    # row SET: every pre-merge id survives exactly once, plus the insert
    ids = sorted(r["doc_id"] for r in after.select("doc_id").collect())
    assert ids == sorted(pre_ids + ["brand-new-doc"])
    # time travel: the pre-merge snapshot still reads the old rows
    old = _docs(spark, out, snapshot=pre_snap)
    assert sorted(r["doc_id"] for r in old.select("doc_id").collect()) == pre_ids


def test_merge_rewrites_only_affected_chunks(spark, merge_store):
    from horus_spark.sources.sink import (
        _read_table_manifest,
        merge_upsert,
        read_output,
    )

    out = merge_store
    before_m = _read_table_manifest(out)
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    one = before.select(*cols).orderBy("doc_id").limit(1).collect()[0].asDict()
    upd = spark.createDataFrame([{**one, "account": "X"}],
                                schema=before.select(*cols).schema)
    res = merge_upsert(spark, out, "documents_out", upd, ["doc_id"])
    # one doc lives in exactly one hash chunk: only that chunk is swapped
    assert len(res["affected"]) == 1
    after_m = _read_table_manifest(out)
    untouched = set(before_m["chunks"]) - set(res["affected"])
    assert untouched.issubset(set(after_m["chunks"]))
    # carried tables keep their full row sets (line_items was not merged)
    li_before = read_output(spark, out, "line_items", snapshot=before_m["snapshot"])
    assert read_output(spark, out, "line_items").count() == li_before.count()


def test_merge_insert_only_and_validation(spark, merge_store):
    from horus_spark.sources.sink import merge_upsert

    out = merge_store
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    one = before.select(*cols).orderBy("doc_id").limit(1).collect()[0].asDict()
    schema = before.select(*cols).schema

    # insert-only: no chunk is rewritten, a new chunk carries the row
    ins = spark.createDataFrame(
        [{**one, "doc_id": "only-insert", "file_name": "oi.pdf"}], schema=schema
    )
    res = merge_upsert(spark, out, "documents_out", ins, ["doc_id"])
    assert res["matched"] == 0 and res["inserted"] == 1 and res["affected"] == []
    assert _docs(spark, out).filter(F.col("doc_id") == "only-insert").count() == 1

    # MERGE cardinality: two update rows for one key is an error
    dup = spark.createDataFrame([{**one, "account": "A"}, {**one, "account": "B"}],
                                schema=schema)
    with pytest.raises(ValueError, match="multiple rows"):
        merge_upsert(spark, out, "documents_out", dup, ["doc_id"])

    # schema drift is an error, not silent column loss
    with pytest.raises(ValueError, match="columns"):
        merge_upsert(spark, out, "documents_out", ins.drop("account"), ["doc_id"])

    # empty updates: no-op, snapshot unchanged
    from horus_spark.sources.sink import _read_table_manifest

    snap = _read_table_manifest(out)["snapshot"]
    res = merge_upsert(spark, out, "documents_out", ins.limit(0), ["doc_id"])
    assert res["new"] is None
    assert _read_table_manifest(out)["snapshot"] == snap


def test_merge_legacy_store_refused(spark, tmp_path):
    from horus_spark.sources.sink import merge_upsert

    out = str(tmp_path / "legacy")
    os.makedirs(out)
    df = spark.range(1).select(F.col("id").cast("string").alias("doc_id"))
    with pytest.raises(ValueError, match="snapshot catalog"):
        merge_upsert(spark, out, "documents_out", df, ["doc_id"])


def test_merge_survives_vacuum_of_old_chunks(spark, merge_store):
    """Hard-linked carried tables must outlive vacuuming the replaced
    chunk dirs (inode refcount — the object-store manifest-reference
    analog)."""
    from horus_spark.sources.sink import (
        expire_snapshots,
        merge_upsert,
        read_output,
        vacuum_chunks,
    )

    out = merge_store
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    one = before.select(*cols).orderBy("doc_id").limit(1).collect()[0].asDict()
    upd = spark.createDataFrame([{**one, "account": "V"}],
                                schema=before.select(*cols).schema)
    merge_upsert(spark, out, "documents_out", upd, ["doc_id"])
    li_count = read_output(spark, out, "line_items").count()
    expire_snapshots(out, keep_last=1)
    removed = vacuum_chunks(out, grace_s=0.0)
    assert removed, "vacuum should reclaim the replaced chunk dir"
    # the carried line_items files still read back in full
    assert read_output(spark, out, "line_items").count() == li_count


def test_merge_aborts_on_concurrent_append(spark, merge_store, monkeypatch):
    """Serializable-isolation validation: a chunk APPENDED between the
    merge's baseline probe and its snapshot commit may hold merged keys,
    so the commit must abort (retryable) instead of leaving two rows for
    one key. Injected by wrapping the commit to land a racing append
    first; a retry of the merge then succeeds over the new snapshot."""
    import shutil

    from horus_spark.sources import sink

    out = merge_store
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    schema = before.select(*cols).schema
    one = before.select(*cols).orderBy("doc_id").limit(1).collect()[0].asDict()
    target = one["doc_id"]

    # the racing writer's chunk: carries the SAME key the merge updates
    racer = "chunk=racer"
    spark.createDataFrame([{**one, "account": "RACER"}], schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(out, racer, "documents_out"))

    real_commit = sink._commit_table_manifest
    state = {"injected": False}

    def racing_commit(out_dir, mutate, run_id=None):
        if not state["injected"]:
            state["injected"] = True

            def add_racer(mm):
                mm["chunks"] = sorted(mm["chunks"] + [racer])
                return mm

            real_commit(out_dir, add_racer)
        return real_commit(out_dir, mutate, run_id=run_id)

    monkeypatch.setattr(sink, "_commit_table_manifest", racing_commit)
    upd = spark.createDataFrame([{**one, "account": "MERGED"}], schema=schema)
    with pytest.raises(RuntimeError, match="appended concurrently"):
        sink.merge_upsert(spark, out, "documents_out", upd, ["doc_id"])
    # the aborted merge cleaned up its staged chunk dir
    assert not [d for d in os.listdir(out) if d.startswith("chunk=merge-")]
    # both the racer's row and the original row are visible (no merge ran)
    assert _docs(spark, out).filter(F.col("doc_id") == target).count() == 2
    # retry over the current snapshot: probe now covers the racer chunk
    monkeypatch.setattr(sink, "_commit_table_manifest", real_commit)
    res = sink.merge_upsert(spark, out, "documents_out", upd, ["doc_id"])
    assert racer in res["affected"]
    rows = _docs(spark, out).filter(F.col("doc_id") == target).collect()
    assert [r["account"] for r in rows] == ["MERGED"]


def test_interleaved_appends_both_survive(spark, tmp_path):
    """Two appends at one snapshot must not share a staging directory:
    a second append that runs to completion between the first one's two
    table writes used to delete the first one's staged table and then
    make its promote fail with "Directory not empty". The interleaving
    is driven by a table dict whose iteration runs the second append."""
    from horus_spark.sources.sink import append_chunk, catalog_fsck, read_output

    out = str(tmp_path / "interleaved")
    second = {}

    class Interleaved(dict):
        def items(self):
            it = iter(super().items())
            yield next(it)
            second["res"] = append_chunk(
                out, {"t": spark.createDataFrame([(2,)], "k long")}, "second"
            )
            yield from it

    first = append_chunk(
        out,
        Interleaved(
            t=spark.createDataFrame([(1,)], "k long"),
            u=spark.createDataFrame([("x",)], "s string"),
        ),
        "first",
    )
    assert first["chunk"] != second["res"]["chunk"]
    assert sorted(r["k"] for r in read_output(spark, out, "t").collect()) == [1, 2]
    assert [r["s"] for r in read_output(spark, out, "u").collect()] == ["x"]
    assert catalog_fsck(out, grace_s=0)["ok"]


def test_delete_rows_rewrites_only_affected_and_time_travels(spark, merge_store):
    from horus_spark.sources.sink import _read_table_manifest, delete_rows

    out = merge_store
    before = _docs(spark, out)
    pre_snap = _read_table_manifest(out)["snapshot"]
    pre_chunks = set(_read_table_manifest(out)["chunks"])
    pre_ids = sorted(r["doc_id"] for r in before.select("doc_id").collect())
    # two victims from ONE chunk so exactly one chunk is affected
    victims = [
        r["doc_id"]
        for r in before.filter(F.col("chunk") == before.select("chunk").first()[0])
        .select("doc_id").limit(2).collect()
    ]
    keys = spark.createDataFrame(
        [(v,) for v in victims] + [("no-such-doc",)] + [(victims[0],)],  # dup + miss
        "doc_id string",
    )
    res = delete_rows(spark, out, "documents_out", keys, ["doc_id"])
    assert res["matched"] == 2
    assert res["deleted"] == 2
    assert len(res["affected"]) == 1
    assert res["new"].startswith("chunk=delete-")
    assert res["snapshot"] == pre_snap + 1

    after = _docs(spark, out)
    ids = sorted(r["doc_id"] for r in after.select("doc_id").collect())
    assert ids == sorted(set(pre_ids) - set(victims))
    # untouched chunks survive verbatim
    post_chunks = set(_read_table_manifest(out)["chunks"])
    assert pre_chunks - set(res["affected"]) <= post_chunks
    # time travel: the pre-delete snapshot still shows the victims
    old = _docs(spark, out, snapshot=pre_snap)
    assert sorted(r["doc_id"] for r in old.select("doc_id").collect()) == pre_ids
    # no-op delete: nothing matches, snapshot unchanged
    res2 = delete_rows(
        spark, out, "documents_out",
        spark.createDataFrame([("nope",)], "doc_id string"), ["doc_id"],
    )
    assert res2 == {
        "matched": 0, "deleted": 0, "affected": [], "new": None,
        "snapshot": res["snapshot"],
    }


def test_delete_all_rows_of_a_chunk_keeps_snapshot_valid(spark, merge_store):
    """Deleting every row an affected chunk holds must leave a readable
    (possibly empty) rewritten chunk — the swap's atomicity does not
    depend on survivors existing."""
    from horus_spark.sources.sink import delete_rows, read_output

    out = merge_store
    before = _docs(spark, out)
    chunk0 = before.select("chunk").first()[0]
    victims = before.filter(F.col("chunk") == chunk0).select("doc_id")
    n = victims.count()
    res = delete_rows(spark, out, "documents_out", victims, ["doc_id"])
    assert res["deleted"] == n
    remaining = read_output(spark, out, "documents_out")
    assert remaining.filter(F.col("doc_id").isin(
        [r["doc_id"] for r in victims.collect()]
    )).count() == 0


def test_append_chunk_generic_store_and_heterogeneous_reads(spark, tmp_path):
    """append_chunk makes the catalog a general-purpose table store:
    chunks may carry different table sets; read_output skips chunks
    without the table and errors loudly when no chunk has it. Also the
    insert-only-merge shape: a chunk holding only one table must not
    break reads of the others."""
    from horus_spark.sources.sink import append_chunk, read_output

    out = str(tmp_path / "generic")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(10.5,), (11.5,)], "x double")
    r1 = append_chunk(out, {"ta": a, "tb": b}, run_id="r1")
    r2 = append_chunk(out, {"ta": a.withColumn("k", F.col("k") + 2)}, run_id="r2")
    assert r2["snapshot"] == r1["snapshot"] + 1

    got_a = read_output(spark, out, "ta")
    assert sorted(r["k"] for r in got_a.collect()) == [1, 2, 3, 4]
    # tb lives only in chunk 1 — the chunk-2 miss must be skipped
    assert sorted(r["x"] for r in read_output(spark, out, "tb").collect()) == [
        10.5, 11.5,
    ]
    with pytest.raises(ValueError, match="exists in no chunk"):
        read_output(spark, out, "nope")
    # time travel to snapshot 1: only the first append visible
    old = read_output(spark, out, "ta", snapshot=r1["snapshot"])
    assert sorted(r["k"] for r in old.collect()) == [1, 2]


def test_merge_insert_only_keeps_other_tables_readable(spark, merge_store):
    """An insert-only merge creates a chunk holding just the merged
    table; reading a sibling table must skip it instead of failing on
    the missing path."""
    from horus_spark.sources.sink import merge_upsert, read_output

    out = merge_store
    before = _docs(spark, out)
    cols = [c for c in before.columns if c != "chunk"]
    one = before.select(*cols).orderBy("doc_id").limit(1).collect()[0].asDict()
    ins = spark.createDataFrame(
        [{**one, "doc_id": "fresh-insert", "file_name": "fi.pdf"}],
        schema=before.select(*cols).schema,
    )
    pre_li = read_output(spark, out, "line_items").count()
    res = merge_upsert(spark, out, "documents_out", ins, ["doc_id"])
    assert res["affected"] == []
    assert read_output(spark, out, "line_items").count() == pre_li


def test_read_output_merge_schema_add_column(spark, tmp_path):
    """ADD-COLUMN evolution: a chunk appended with an extra column unions
    with older chunks under merge_schema=True; old rows read the new
    column as NULL (the Iceberg add-column contract)."""
    from horus_spark.sources.sink import append_chunk, read_output

    out = str(tmp_path / "evolve")
    append_chunk(
        out, {"t": spark.createDataFrame([(1, "a")], "k long, v string")}, "r1"
    )
    append_chunk(
        out,
        {"t": spark.createDataFrame([(2, "b", 9.5)], "k long, v string, w double")},
        "r2",
    )
    got = read_output(spark, out, "t", merge_schema=True)
    assert sorted(got.columns) == ["chunk", "k", "v", "w"]
    rows = {r["k"]: r["w"] for r in got.collect()}
    assert rows == {1: None, 2: 9.5}


def test_footer_stats_pruning_equivalence_and_prune(spark, tmp_path):
    """The parquet-footer min/max probe tier: chunks whose key ranges
    cannot hold any DML key are skipped WITHOUT a scan, and the pruned
    probe's answers are identical to the unpruned scan's (pruning is a
    plan property, never an answer property)."""
    from horus_spark.sources import sink
    from horus_spark.sources.sink import (
        _stats_candidate_chunks,
        append_chunk,
        delete_rows,
        merge_upsert,
        read_output,
    )

    out = str(tmp_path / "pruned")
    # four chunks with DISJOINT key ranges (one part file each)
    for i in range(4):
        df = spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ).coalesce(1)
        append_chunk(out, {"t": df}, f"r{i}")
    chunks = sink._read_table_manifest(out)["chunks"]

    # keys 150, 160 live only in chunk 2's range [100, 200)
    keys = spark.createDataFrame([(150,), (160,)], "k long")
    cands = _stats_candidate_chunks(out, "t", chunks, ["k"], keys)
    assert len(cands) == 1, cands
    # a key inside the hull but absent from every range still prunes
    # correctly per-chunk (scattered-key membership, not just min/max)
    wide = spark.createDataFrame([(50,), (350,)], "k long")
    assert len(_stats_candidate_chunks(out, "t", chunks, ["k"], wide)) == 2

    # end-to-end: merge + delete through the pruned probe give exactly
    # the unpruned algebra's answer
    upd = spark.createDataFrame([(150, -1.0), (160, -2.0)], "k long, v double")
    res = merge_upsert(spark, out, "t", upd, ["k"])
    assert res["matched"] == 2 and len(res["affected"]) == 1
    res = delete_rows(
        spark, out, "t", spark.createDataFrame([(50,), (350,)], "k long"), ["k"]
    )
    assert res["deleted"] == 2 and len(res["affected"]) == 2
    got = {r["k"]: r["v"] for r in read_output(spark, out, "t").collect()}
    assert len(got) == 398 and got[150] == -1.0 and got[160] == -2.0
    assert 50 not in got and 350 not in got
    # multi-column keys fall back to scanning every chunk (conservative)
    assert _stats_candidate_chunks(out, "t", chunks, ["k", "v"], keys) == chunks
