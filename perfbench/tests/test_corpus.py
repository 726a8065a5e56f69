"""Seeded load generation: determinism, manifest reuse, planted pages."""

import json
import os

from perfbench.corpus import heavy_doc_numbers, materialize, web_expected_spans, web_page
from perfbench.tests.conftest import ROOT


def test_heavy_docs_are_seeded():
    assert heavy_doc_numbers(3, 1000) == heavy_doc_numbers(3, 1000)
    assert heavy_doc_numbers(3, 1000) != heavy_doc_numbers(4, 1000)
    assert len(heavy_doc_numbers(3, 1000)) == 10
    assert len(heavy_doc_numbers(3, 20)) == 1


def test_web_reference_follows_the_page():
    text = " ".join(f"t{i}" for i in range(30))  # 3 chunks: 12 + 12 + 6
    page = web_page("8", text)
    assert "<h1>Report 8</h1>" in page
    assert page.count("<p>") == 3 + 2  # chunks + footer paragraphs
    assert '<img src="asset-8-2"/>' in page  # (8 + 2) even -> image
    spans = web_expected_spans("8", text)
    assert [s["kind"] for s in spans] == ["text", "text", "text", "text", "image"]
    assert spans[-1]["media_ref"] == "asset-8-2"
    assert [s["offset"] for s in spans] == list(range(5))
    assert web_expected_spans("9", text)[-1]["kind"] == "video"


def test_manifest_keys_the_cache(tmp_path):
    work = str(tmp_path)
    a = materialize(ROOT, work, "forms", 5, 6, 2)
    again = materialize(ROOT, work, "forms", 5, 6, 2)
    assert again.path == a.path and again.manifest == a.manifest
    other_seed = materialize(ROOT, work, "forms", 6, 6, 2)
    other_size = materialize(ROOT, work, "forms", 5, 7, 2)
    assert len({a.path, other_seed.path, other_size.path}) == 3
    assert a.reference() != other_seed.reference()
    assert len(other_size.reference()) == 7
    # a corpus whose manifest no longer matches is regenerated, not reused
    path = os.path.join(a.path, "manifest.json")
    with open(path) as fh:
        m = json.load(fh)
    m["sources"] = "stale"
    with open(path, "w") as fh:
        json.dump(m, fh)
    regen = materialize(ROOT, work, "forms", 5, 6, 2)
    assert regen.manifest["sources"] != "stale"
    assert regen.reference() == a.reference()


def test_skewed_corpus_inflates_only_heavy_docs(tmp_path):
    import pyarrow.parquet as pq

    plain = materialize(ROOT, str(tmp_path), "forms", 5, 100, 2)
    skewed = materialize(ROOT, str(tmp_path), "skewed", 5, 100, 2)
    assert len(skewed.heavy_ids) == 1
    (heavy,) = skewed.heavy_ids
    count = lambda c, d: sum(1 for x in pq.read_table(c.table("ocr_words")).column("doc_id").to_pylist() if x == d)
    assert count(skewed, heavy) == 60 * count(plain, heavy)
    assert skewed.n_words - plain.n_words == 59 * count(plain, heavy)
    assert skewed.reference() == plain.reference()
