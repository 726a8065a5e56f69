"""Differential fuzz: the columnar recognize kernel against the per-document
oracle.

The kernel (pipeline._extract_batch_arrow) runs L1-L4 over a whole chunk
of documents at once. The oracle runs the same rules one document at a
time in plain Python: the pandas word clustering below (the sort-based L1
the kernel replaced), then layout.infer_grid_arrays and
fields.extract_fields_arrays, with the kernel's failure and truncation
rules. Each document's header_raw, lines_raw, field_keys,
recognizer_status and recognizer_errors must agree exactly.

The corpora are seeded generator documents in all three layouts, with
planted cases that pin the rules a segmented rewrite can get wrong:
- a second page, and non-finite boxes (a failed document; an infinite
  bottom edge that leaves the document alive);
- y quantized to a 0.03 grid: equal-y ties everywhere, and row gaps that
  land on the 0.06 threshold up to float rounding;
- a visual row is anchored at its FIRST fragment's y: a chain of
  fragments 0.035 apart splits after 0.06 (a diff against the previous
  fragment would merge it and make the anchor cell non-singular);
- wrapped descriptions (the generator wraps long ones);
- no anchors at all; header anchors repeated at the page foot, which a
  scan that stopped never reads; a PostCode that never matches, so the
  header scan runs to the end and reads them; an `Inv` text ending in a
  newline (Python `re`: `$` also matches before a final newline);
- '²' and '①' item-number look-alikes (ASCII digits only);
- anchor x-centers on an exact half bucket (Python round(): half to
  even).
Swapped per-format configs make other header rules fire, fall through or
never fire, and a lowered MAX_DOC_WORDS truncates some documents.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from horus_spark import pipeline as P
from horus_spark.config import FORMAT_CONFIGS, format_of_doc_id
from horus_spark.fixtures.generator import generate_batch
from horus_spark.operators.fields import extract_fields_arrays
from horus_spark.operators.layout import FRAG_X_GAP, ROW_Y_TOL, infer_grid_arrays
from horus_spark.operators.shred import raw_arrays

_WORD = pa.struct(
    [("page", pa.int32()), ("line_id", pa.int32()), ("word_id", pa.int32()),
     ("text", pa.string()), ("x0", pa.float32()), ("y0", pa.float32()),
     ("x1", pa.float32()), ("y1", pa.float32())]
)
_COLUMNS = ["header_raw", "lines_raw", "field_keys", "recognizer_status", "recognizer_errors"]


def _words(doc) -> list[dict]:
    """A generator document's OCR words as the grouped boundary ships
    them: bbox flattened to float32 x0/y0/x1/y1."""
    out = []
    for w in doc["ocr_words"]:
        b = np.asarray(w["bbox"], np.float32)
        out.append({
            "page": w["page"], "line_id": w["line_id"], "word_id": w["word_id"], "text": w["text"],
            "x0": min(b[0], b[6]), "y0": min(b[1], b[3]),
            "x1": max(b[2], b[4]), "y1": max(b[5], b[7]),
        })
    return out


def _f32(v):
    return float(np.float32(v))


def _plant(case: int, ws: list[dict]) -> None:
    """Plant case number `case` (0 = none) into one document's words."""
    if case == 1:  # a second page: the lower half of the lines
        mid = np.median([w["line_id"] for w in ws])
        for w in ws:
            if w["line_id"] > mid:
                w["page"] = 2
    elif case == 2:  # non-finite geometry: the document fails
        ws[len(ws) // 2]["x0"] = float("nan")
    elif case == 3:  # an infinite bottom edge: centers go inf, boxes stay finite
        ws[len(ws) // 3]["y1"] = float("inf")
    elif case == 4:  # y on a 0.03 grid: ties and threshold-sized gaps
        for w in ws:
            for c in ("y0", "y1"):
                w[c] = _f32(round(w[c] / 0.03) * 0.03)
    elif case == 5:  # no anchors
        for w in ws:
            if w["text"].isdigit() and len(w["text"]) <= 2:
                w["text"] = "#"
    elif case == 6:  # the PostCode never matches: the header scan runs to the
        # end and reads the late anchors of case 10
        for w in ws:
            if len(w["text"]) == 5 and w["text"].isdigit():
                w["text"] = "p" + w["text"]
        _plant(10, ws)
    elif case == 7:  # a final newline after the invoice number
        for a, b in zip(ws, ws[1:]):
            if a["text"] == "INVOICE":
                b["text"] += "\n"
    elif case == 8:  # a fragment chain 0.035 apart below the first anchor:
        # one in the description column, then one in the anchor column. Tall
        # boxes park their centers below the page, so L1 keeps each a
        # fragment of its own while L2 sees their tops.
        anchor = min((w for w in ws if w["text"] == "1"), key=lambda w: w["x0"], default=None)
        if anchor is None:
            return
        desc = min(
            (w for w in ws if abs(w["y0"] - anchor["y0"]) < 0.02 and w["x0"] > anchor["x1"] + 0.2),
            key=lambda w: w["x0"],
        )
        line = max(w["line_id"] for w in ws) + 1
        for k, (x0, x1, dy) in enumerate([(desc["x0"], desc["x0"] + 0.2, 0.035),
                                          (anchor["x0"], anchor["x1"], 0.07)]):
            ws.append({"page": anchor["page"], "line_id": line + k, "word_id": 0, "text": f"w{k}",
                       "x0": x0, "y0": _f32(anchor["y0"] + dy), "x1": _f32(x1), "y1": 30.0 + 3 * k})
    elif case == 9:  # item-number look-alikes beside the first anchor
        anchor = min((w for w in ws if w["text"] == "1"), key=lambda w: w["x0"], default=None)
        if anchor is None:
            return
        line = max(w["line_id"] for w in ws) + 1
        for k, text in enumerate(["²", "①"]):
            y0 = anchor["y0"] - 0.3 - 0.2 * k
            ws.append({**anchor, "line_id": line + k, "text": text, "y0": _f32(y0),
                       "y1": _f32(y0 + anchor["y1"] - anchor["y0"])})
    elif case == 10:  # header anchors again at the page foot: a scan that
        # stopped never reads them; one that runs to the end overwrites
        # AccountNo/TaxDate through the prefix and A/C anchors, and its
        # second `INVOICE n` falls through
        line = max(w["line_id"] for w in ws) + 1
        page = max(w["page"] for w in ws)
        for k, text in enumerate(["INVOICE 99", "our ref: LATE", "Taxpoint: 01/01/2001",
                                  "A/C QQ INVOICE 98", "ZZZZZZ"]):
            y0 = 10.2 + 0.15 * k
            ws.append({"page": page, "line_id": line + k, "word_id": 0, "text": text,
                       "x0": 0.5, "y0": _f32(y0), "x1": 2.0, "y1": _f32(y0 + 0.1)})
    elif case == 11:  # x-centers on a half bucket: items 1-2 at exactly 12.5
        # buckets (round half to even: 12), the rest at 12.6 (13)
        anchor = min((w for w in ws if w["text"] == "1"), key=lambda w: w["x0"], default=None)
        if anchor is None:
            return
        for w in ws:
            if abs(w["x0"] - anchor["x0"]) < 0.05 and w["text"].isdigit() and len(w["text"]) <= 2:
                w["x0"], w["x1"] = (1.4375, 1.5625) if w["text"] in ("1", "2") else (1.4525, 1.5775)


_CASES = 12


def _corpus(seed: int, n: int) -> tuple[list[str], list[list[dict]]]:
    docs = generate_batch(range(1000 * seed, 1000 * seed + n), seed)
    ids, word_lists = [], []
    for i, d in enumerate(docs):
        ws = _words(d)
        _plant(i % _CASES, ws)
        ids.append(d["doc_id"])
        word_lists.append(ws)
    return ids, word_lists


def _fragments(words: pd.DataFrame):
    """Reference L1, one document, pandas: sort by (page, center y, x0),
    break rows on center-y gaps > ROW_Y_TOL, sort each row by x0, break
    fragments on x gaps > FRAG_X_GAP. -> (texts, x0, y0, x1, (page,
    line id) of each fragment's words)."""
    df = words.assign(yc=(words["y0"] + words["y1"]) / 2.0)
    df = df.sort_values(["page", "yc", "x0"], kind="mergesort").reset_index(drop=True)
    with np.errstate(invalid="ignore"):
        new_row = (df["page"] != df["page"].shift()) | ((df["yc"] - df["yc"].shift()) > ROW_Y_TOL)
        df["row"] = new_row.cumsum()
        df = df.sort_values(["row", "x0"], kind="mergesort").reset_index(drop=True)
        new_frag = (df["row"] != df["row"].shift()) | (df["x0"] - df["x1"].shift() > FRAG_X_GAP)
    starts = np.flatnonzero(new_frag)
    ends = np.r_[starts[1:], len(df)]
    texts, lines = df["text"].tolist(), list(zip(df["page"], df["line_id"]))
    return (
        [" ".join(texts[s:e]) for s, e in zip(starts, ends)],
        # extents propagate NaN, like the reduceat the kernel always used
        *(f.reduceat(df[c].to_numpy(), starts) for f, c in
          ((np.minimum, "x0"), (np.minimum, "y0"), (np.maximum, "x1"))),
        [lines[s:e] for s, e in zip(starts, ends)],
    )


def _oracle(doc_id: str, words: list[dict], configs, max_words: int) -> dict:
    df = pd.DataFrame(words)
    for c in ("x0", "y0", "x1", "y1"):
        df[c] = df[c].astype(np.float32).astype(np.float64)
    errors = []
    if len(df) > max_words:
        errors.append(f"Truncated: kept the first {max_words} of {len(df)} OCR words")
        df = df.sort_values(["page", "line_id", "word_id"], kind="mergesort").head(max_words)
    texts, x0, y0, x1, lines = _fragments(df)
    try:
        if not (np.isfinite(x0) & np.isfinite(y0) & np.isfinite(x1)).all():
            raise ValueError("non-finite bbox geometry in OCR words")
        grid = infer_grid_arrays(texts, x0, y0, x1)
        fmt = format_of_doc_id(doc_id)
        fields, used = extract_fields_arrays(texts, x0, y0, x1, grid, fmt, configs)
        status = "succeeded"
    except Exception as exc:
        fields, used = {}, set()
        status = "failed"
        errors.append(f"{type(exc).__name__}: {exc}")
    header, lines_raw = raw_arrays([fields])
    return {
        "header_raw": header.to_pylist()[0],
        "lines_raw": lines_raw.to_pylist()[0],
        "field_keys": [f"p{p}L{ln}" for p, ln in sorted({pl for i in used for pl in lines[i]})],
        "recognizer_status": status,
        "recognizer_errors": errors,
    }


def _kernel(ids, word_lists, configs) -> dict:
    batch = P._extract_batch_arrow(
        pa.array(ids, pa.string()), pa.array(word_lists, pa.list_(_WORD)), configs
    )
    return {r["doc_id"]: r for r in batch.to_pylist()}


_SWAPPED = {"abc": FORMAT_CONFIGS["oscorp"], "oscorp": FORMAT_CONFIGS["nouryon"],
            "nouryon": FORMAT_CONFIGS["abc"]}


@pytest.mark.parametrize(
    "seed,configs,max_words",
    [(3, None, P.MAX_DOC_WORDS), (11, None, 150), (2027, None, P.MAX_DOC_WORDS),
     (5, _SWAPPED, P.MAX_DOC_WORDS)],
)
def test_kernel_matches_per_document_oracle(monkeypatch, seed, configs, max_words):
    monkeypatch.setattr(P, "MAX_DOC_WORDS", max_words)
    ids, word_lists = _corpus(seed, 60)
    got = _kernel(ids, word_lists, configs)
    assert sorted(got) == sorted(ids)
    statuses = set()
    for doc_id, ws in zip(ids, word_lists):
        want = _oracle(doc_id, ws, configs, max_words)
        assert {c: got[doc_id][c] for c in _COLUMNS} == want, doc_id
        statuses.add(want["recognizer_status"])
    assert statuses == {"succeeded", "failed"}


def test_fuzz_corpus_reaches_every_planted_case():
    """The planted corpus exercises what it claims: every layout, a
    failed and a living non-finite document, a document with no line
    items, a header scan that never finds the PostCode and so reads the
    late anchors, a stopped scan that does not, an `Inv` read through a
    final newline, and wrapped descriptions."""
    from horus_spark.fixtures.generator import CW

    ids, word_lists = _corpus(3, 60)
    rows = [_oracle(d, ws, None, P.MAX_DOC_WORDS) for d, ws in zip(ids, word_lists)]
    case = {k: [r for i, r in enumerate(rows) if i % _CASES == k] for k in range(_CASES)}
    assert {format_of_doc_id(d) for d in ids} == {"abc", "oscorp", "nouryon"}
    assert all(r["recognizer_status"] == "failed" for r in case[2])
    assert all(r["recognizer_status"] == "succeeded" for r in case[3])
    assert all(r["lines_raw"] == [] for r in case[5])
    assert all(r["header_raw"]["post_code"] is None for r in case[6])
    assert all(r["header_raw"]["inv"] for r in case[6] + case[7])
    assert any(r["header_raw"]["account"] in ("LATE", "QQ") for r in case[6])
    assert not any(r["header_raw"]["account"] == "LATE" for r in case[10])
    descs = [ln["drug"] for r in rows for ln in r["lines_raw"] if ln["drug"]]
    assert any(len(d) * CW > 2.10 for d in descs)


def test_item_number_look_alikes_do_not_fail_the_document():
    """'²'.isdigit() is True but int('²') raises: a lone '²' or '①'
    fragment once failed the whole document. Both the oracle and the
    kernel read item numbers as one or two ASCII digits."""
    texts = ["1", "²", "x", "①"]
    x0 = np.array([0.5, 0.5, 1.5, 0.5])
    y = np.array([5.0, 5.2, 5.0, 5.4])
    x1 = x0 + 0.1
    grid = infer_grid_arrays(texts, x0, y, x1)
    assert [texts[i] for i in grid["anchor_idx"]] == ["1"]
    fields, _ = extract_fields_arrays(texts, x0, y, x1, grid, "abc")
    assert fields["Drug01"] == "x"

    words = [{"page": 1, "line_id": i, "word_id": 0, "text": t, "x0": a, "y0": b,
              "x1": a + 0.1, "y1": b + 0.1} for i, (t, a, b) in enumerate(zip(texts, x0, y))]
    row = _kernel(["abc-INVOICE-1.pdf"], [words], None)["abc-INVOICE-1.pdf"]
    assert row["recognizer_status"] == "succeeded"
    assert row["lines_raw"][0]["drug"] == "x"


def test_row_break_uses_the_exact_difference():
    """A row starts where `fy - row_y > 0.06` holds in floats: for y 1.7
    and 1.7 + 0.06 the difference is 0.06000000000000005, so the second
    fragment starts a row even though it is not greater than
    `row_y + 0.06`. The grids agree row for row."""
    from horus_spark.operators.layout import infer_grid_columns

    a = 1.7
    b = a + 0.06
    assert b - a > 0.06 and not b > a + 0.06
    texts = ["1", "d1", "z", "2", "d2"]
    x0 = np.array([0.5, 1.5, 3.0, 0.5, 1.5])
    y = np.array([a, a, b, a + 0.3, a + 0.3])
    x1 = x0 + 0.1
    want = infer_grid_arrays(texts, x0, y, x1)
    got = infer_grid_columns(np.zeros(5, np.int64), pa.array(texts), x0, y, x1, 1)
    assert got["n_rows"][0] == want["n_rows"] - 1 == 3
    cells = {}
    for f, r, c in zip(got["item"], got["row"], got["col"]):
        cells.setdefault((int(r), int(c)), []).append(int(f))
    assert cells == {k: v for k, v in want["cells"].items() if k[0] > 0}
