"""The unchanged-archive check on zipimport's cache invalidation
(horus_spark/_zipimport.py): reads counted by patching
``zipimport._read_directory``, then the check inside a Spark worker."""

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

import horus_spark._zipimport


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module `zmod_a`, imported once, and a
    list of the archive directories read since."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(path)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").VALUE == "a"
    importlib.invalidate_caches()  # records the archive as read
    read, reads = zipimport._read_directory, []

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod_a.py", "VALUE = 'a'\n")
        zf.writestr("zmod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("zmod_b").VALUE == "b"
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_deleted_archive_empties_importer(archive):
    path, reads = archive
    importer = sys.path_importer_cache[path]
    os.rename(path, path + ".away")
    importlib.invalidate_caches()  # the stdlib swallows the failed read
    assert importer._files == {}
    assert path in reads
    os.rename(path + ".away", path)  # back with the same inode and mtime
    importlib.invalidate_caches()
    assert importer.find_spec("zmod_a") is not None


def test_second_import_does_not_wrap_again(archive):
    path, reads = archive
    installed = zipimport.zipimporter.invalidate_caches
    spec = importlib.util.find_spec("horus_spark._zipimport")
    again = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(again)
    importlib.reload(horus_spark._zipimport)
    assert zipimport.zipimporter.invalidate_caches is installed
    stdlib = installed.stdlib
    assert not hasattr(stdlib, "stdlib")
    assert stdlib.__qualname__ == "zipimporter.invalidate_caches"
    importlib.invalidate_caches()
    assert path not in reads


def test_warm_worker_rereads_no_archive(spark):
    from pyspark.sql import functions as F

    from horus_spark.operators.html import html_to_spans, synthesize_html
    from horus_spark.session import zip_cache_probe

    pages = synthesize_html(
        spark.range(8).select(
            F.col("id").alias("doc_id"), F.lit("w0 w1 w2").alias("text")
        )
    )
    assert html_to_spans(pages).count() == 8
    probe = zip_cache_probe(spark)
    # pyspark.zip, py4j and the spark-core jar sit on every worker's path;
    # the stdlib would re-read each of their importers on every task
    assert probe["zip_paths"] >= 1 and probe["zip_importers"] >= 1
    assert probe["wrapped"]
    assert probe["reads"] == 0
