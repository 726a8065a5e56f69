"""Loaders for the reference's golden OCR fixtures (read-only inputs for
parity tests): reference Horus.Generator/quickstart/INVOICE-3000*.pdf.ocr.json
(+ .labels.json, fields.json). We read their DATA as test vectors; no code
is derived from them."""

from __future__ import annotations

import json
import os

import pandas as pd

QUICKSTART = "/root/reference/Horus.Generator/quickstart"
FIXTURE_IDS = [f"INVOICE-3000{i}" for i in range(1, 6)]


def load_ocr(fixture_id: str, base: str = QUICKSTART) -> dict:
    with open(os.path.join(base, f"{fixture_id}.pdf.ocr.json")) as fh:
        return json.load(fh)


def load_labels(fixture_id: str, base: str = QUICKSTART) -> dict:
    with open(os.path.join(base, f"{fixture_id}.pdf.labels.json")) as fh:
        return json.load(fh)


def ocr_words_pdf(fixture_id: str, doc_id: str | None = None) -> pd.DataFrame:
    """Flatten readResults words into the engine's ocr_words shape."""
    doc_id = doc_id or f"abc-{fixture_id}.pdf"
    data = load_ocr(fixture_id)
    rows = []
    for page in data["analyzeResult"]["readResults"]:
        for li, line in enumerate(page["lines"]):
            for wi, w in enumerate(line["words"]):
                rows.append(
                    {
                        "doc_id": doc_id,
                        "page": int(page["page"]),
                        "line_id": li,
                        "word_id": wi,
                        "text": w["text"],
                        "bbox": [float(v) for v in w["boundingBox"]],
                        "confidence": float(w.get("confidence", 1.0)),
                    }
                )
    return pd.DataFrame(rows)


def expected_lines(fixture_id: str) -> list[dict]:
    data = load_ocr(fixture_id)
    out = []
    for page in data["analyzeResult"]["readResults"]:
        for li, line in enumerate(page["lines"]):
            out.append({"line_id": li, "text": line["text"], "n_words": len(line["words"])})
    return out


def expected_tables(fixture_id: str) -> list[dict]:
    data = load_ocr(fixture_id)
    tables = []
    for pr in data["analyzeResult"].get("pageResults", []):
        tables.extend(pr.get("tables", []))
    return tables
