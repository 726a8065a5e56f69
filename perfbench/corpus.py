"""Seeded load generation: the benchmark's inputs and their references.

Each corpus is materialized once per (kind, seed, size) under the work
directory as parquet, next to a manifest naming everything it depends on
(generator source hashes included). A corpus whose manifest differs in any
field is regenerated, so a stale corpus for another seed or size is never
reused. Generation runs in a spawn process pool before Spark starts, and
none of it is timed or touches the program: it is the load generator.

Kinds:
- ``forms``: invoice documents and their OCR words from
  ``horus_spark.fixtures.generator``; the reference is the generator's
  ``expected_spans``.
- ``skewed``: ``forms`` plus a planted heavy tail -- about 1% of the
  documents get their OCR words replicated ``INFLATE`` times (line ids
  shifted by ``rep * 1000``, y geometry by ``rep * 50``), the planting
  ``tools/bench_skew.py`` uses.
- ``web``: ``forms`` documents whose span texts become one HTML page each,
  numbered by document number and built as ``synthesize_html(media=True)``
  builds them (``web_page``); the reference is the planted construction
  (``web_expected_spans``).

Every kind keeps its documents, OCR words and pages, so the traced run can
probe every layer on any workload's corpus.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import shutil

CORPUS_VERSION = 1
BASE = 30000  # first document number is BASE + 1 (the generator default)
HEAVY_PCT = 1.0
INFLATE = 60
KINDS = ("forms", "skewed", "web")

# hashed into every manifest: a change to any of these regenerates
_SOURCES = (
    "horus_spark/fixtures/generator.py",
    "horus_spark/fixtures/pools.py",
    "perfbench/corpus.py",
)


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for rel in _SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read())
    return h.hexdigest()


def heavy_doc_numbers(seed: int, n_docs: int) -> list[int]:
    """Seeded choice of the inflated documents (at least one)."""
    import numpy as np

    k = max(1, round(n_docs * HEAVY_PCT / 100.0))
    rng = np.random.RandomState(seed % (2**31 - 1))
    picks = rng.choice(n_docs, size=k, replace=False)
    return sorted(BASE + 1 + int(i) for i in picks)


def _is_plain(text: str) -> bool:
    return not any(c in text for c in "<>&")


def web_text(spans: list[dict]) -> str:
    """A document's page text: its span texts in offset order, skipping
    spans that carry markup (the generator's nav/footer boilerplate) so the
    planted page structure stays exact."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    return " ".join(s["text"] for s in ordered if s["text"] and _is_plain(s["text"]))


def web_expected_spans(page_id: str, text: str) -> list[dict]:
    """The span sequence ``synthesize_html(media=True)`` plants: the h1,
    then the 12-token chunks, each chunk i with i % 3 == 2 followed by an
    image (even page_id + i) or video span referencing asset-<id>-<i>."""
    toks = text.split()
    n = max(math.ceil(len(toks) / 12), 1)
    out = [("text", f"Report {page_id}", "")]
    for i in range(n):
        out.append(("text", " ".join(toks[i * 12 : (i + 1) * 12]), ""))
        if i % 3 == 2:
            kind = "image" if (int(page_id) + i) % 2 == 0 else "video"
            out.append((kind, "", f"asset-{page_id}-{i}"))
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for o, (k, t, m) in enumerate(out)
    ]


_PAGE_HEAD = (
    "</title><script>var nav = 1;</script>"
    "<style>.nav{color:#333}</style></head><body>"
    '<div class="nav"><ul><li><a href="/home">Home</a></li>'
    '<li><a href="/about">About us</a></li><li><a href="/doc/'
)
_PAGE_FOOT = (
    '</div><div class="footer"><p><a href="/terms">Terms of '
    'service</a> | <a href="/privacy">Privacy policy</a> | '
    '<a href="/contact">Contact</a></p>'
    "<p>Copyright 2026 Example Corp</p></div></body></html>"
)


def web_page(page_id: str, text: str) -> str:
    """The page ``synthesize_html(media=True)`` builds for one text row,
    built here without Spark so that generating inputs never runs (and
    warms) the program; perfbench/tests checks the two agree."""
    toks = text.split()
    n = max(math.ceil(len(toks) / 12), 1)
    parts = []
    for i in range(n):
        parts.append("<p>" + " ".join(toks[i * 12 : (i + 1) * 12]) + "</p>")
        if i % 3 == 2:
            ref = f'src="asset-{page_id}-{i}"'
            parts.append(f"<img {ref}/>" if (int(page_id) + i) % 2 == 0 else f"<video {ref}></video>")
    return (
        f"<html><head><title>Doc {page_id}{_PAGE_HEAD}{page_id}"
        f'">Doc {page_id}</a></li></ul></div><div class="main"><h1>Report {page_id}</h1>'
        + "".join(parts)
        + _PAGE_FOOT
    )


def _inflate(words: list[dict]) -> list[dict]:
    out = []
    for rep in range(1, INFLATE):
        for w in words:
            b = list(w["bbox"])
            out.append(
                {
                    **w,
                    "line_id": w["line_id"] + rep * 1000,
                    "bbox": [v + rep * 50.0 if i % 2 == 1 else v for i, v in enumerate(b)],
                }
            )
    return out


def _arrow_schemas():
    import pyarrow as pa

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    return {
        "documents": pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))]),
        "ocr_words": pa.schema(
            [("doc_id", pa.string()), ("page", pa.int32()), ("line_id", pa.int32()),
             ("word_id", pa.int32()), ("text", pa.string()),
             ("bbox", pa.list_(pa.float32())), ("confidence", pa.float32())]
        ),
        "expected": pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))]),
        "pages": pa.schema([("doc_id", pa.string()), ("html", pa.string())]),
    }


def _generate_part(task: tuple) -> tuple[int, list[str]]:
    """Worker: generate documents [lo, hi) and write one part file per
    table. Returns the number of OCR word rows written and the doc ids of
    the inflated documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from horus_spark.fixtures.generator import generate_batch

    kind, seed, lo, hi, out_dir, part, heavy = task
    heavy = set(heavy)
    docs = generate_batch(range(lo, hi), seed)
    schemas = _arrow_schemas()
    words: list[dict] = []
    heavy_ids = []
    for number, d in zip(range(lo, hi), docs):
        words.extend(d["ocr_words"])
        if number in heavy:
            words.extend(_inflate(d["ocr_words"]))
            heavy_ids.append(d["doc_id"])
    tables = {
        "documents": {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]},
        "ocr_words": {k: [w[k] for w in words] for k in schemas["ocr_words"].names},
    }
    ids = [str(n) for n in range(lo, hi)]
    texts = [web_text(d["spans"]) for d in docs]
    tables["pages"] = {"doc_id": ids, "html": [web_page(i, t) for i, t in zip(ids, texts)]}
    if kind == "web":
        tables["expected"] = {
            "doc_id": ids,
            "spans": [web_expected_spans(i, t) for i, t in zip(ids, texts)],
        }
    else:
        tables["expected"] = {
            "doc_id": [d["doc_id"] for d in docs],
            "spans": [d["expected_spans"] for d in docs],
        }
    for name, cols in tables.items():
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(
            pa.Table.from_pydict(cols, schema=schemas[name]),
            os.path.join(out_dir, name, f"part-{part:05d}.parquet"),
        )
    return len(words), heavy_ids


class Corpus:
    """Paths and facts of one materialized corpus."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.manifest = manifest

    @property
    def n_docs(self) -> int:
        return self.manifest["n_docs"]

    @property
    def n_words(self) -> int:
        return self.manifest["n_words"]

    @property
    def heavy_ids(self) -> set[str]:
        """doc ids of the inflated documents (skewed only)."""
        return set(self.manifest.get("heavy_ids", []))

    def table(self, name: str) -> str:
        return os.path.join(self.path, name)

    def reference(self) -> dict[str, list[tuple]]:
        """doc_id -> expected span sequence as (kind, text, media_ref, offset)."""
        import pyarrow.parquet as pq

        from perfbench.check import span_tuples

        t = pq.read_table(self.table("expected"))
        return dict(zip(t.column("doc_id").to_pylist(), map(span_tuples, t.column("spans").to_pylist())))


def wanted_manifest(root: str, kind: str, seed: int, n_docs: int) -> dict:
    if kind not in KINDS:
        raise ValueError(f"unknown corpus kind {kind!r}")
    if n_docs < 1:
        raise ValueError("n_docs must be >= 1")
    m = {
        "version": CORPUS_VERSION,
        "kind": kind,
        "seed": seed,
        "n_docs": n_docs,
        "base": BASE,
        "sources": source_digest(root),
    }
    if kind == "skewed":
        m.update(heavy_pct=HEAVY_PCT, inflate=INFLATE)
    return m


def _read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "manifest.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _matches(have: dict | None, want: dict) -> bool:
    return have is not None and all(have.get(k) == v for k, v in want.items())


def materialize(root: str, work_dir: str, kind: str, seed: int, n_docs: int, procs: int) -> Corpus:
    """Return the corpus for (kind, seed, n_docs), generating it if no
    corpus with an identical manifest exists. The manifest is written
    last, into a temporary directory renamed into place, so a crash mid
    generation leaves nothing that looks complete."""
    want = wanted_manifest(root, kind, seed, n_docs)
    path = os.path.join(work_dir, "corpora", f"{kind}-s{seed}-n{n_docs}")
    have = _read_manifest(path)
    if _matches(have, want):
        return Corpus(path, have)
    tmp = path + ".tmp"
    for stale in (tmp, path):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(tmp)
    heavy = heavy_doc_numbers(seed, n_docs) if kind == "skewed" else []
    n_parts = max(1, min(procs * 2, n_docs // 250 or 1))
    bounds = [BASE + 1 + (n_docs * i) // n_parts for i in range(n_parts + 1)]
    tasks = [
        (kind, seed, bounds[i], bounds[i + 1], tmp, i,
         [h for h in heavy if bounds[i] <= h < bounds[i + 1]])
        for i in range(n_parts)
    ]
    pool = multiprocessing.get_context("spawn").Pool(max(1, min(procs, n_parts)))
    try:
        parts = pool.map(_generate_part, tasks)
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()  # every worker has exited before Spark starts
        _stop_resource_tracker()
    manifest = dict(want, n_words=sum(p[0] for p in parts))
    if heavy:
        manifest["heavy_ids"] = [i for p in parts for i in p[1]]
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.rename(tmp, path)
    _prune(os.path.dirname(path), keep=path)
    return Corpus(path, manifest)


def _stop_resource_tracker() -> None:
    """The spawn pool's semaphores start multiprocessing's resource
    tracker, a process that otherwise lives until this one exits; end it
    and wait for it now that the pool is gone."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def _prune(corpora_dir: str, keep: str, max_corpora: int = 32) -> None:
    """Bound the cache: drop the least recently generated corpora."""
    paths = [os.path.join(corpora_dir, n) for n in os.listdir(corpora_dir)]
    paths = sorted((p for p in paths if p != keep and os.path.isdir(p)), key=os.path.getmtime)
    for stale in paths[: max(0, len(paths) + 1 - max_corpora)]:
        shutil.rmtree(stale, ignore_errors=True)
