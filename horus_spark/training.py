"""Learned-anchor training: labeled documents -> a per-format
extraction config, the engine's native analog of the reference's
form-recognizer model TRAINING workflow (ModelTrainer.cs:103-224
submits labeled docs to the FR train endpoint and registers the
returned model; the labelling-tool emits the *.labels.json files in
Horus.Generator/quickstart/).

Instead of hand-writing FORMAT_CONFIGS (config.py), `train_format_
config` FITS the same config shape from examples, each a labeled
document (label -> (value text, bounding box) + its OCR words):

  1. every labeled value is located in its OCR LINE FRAGMENT (the
     engine's own L1 clustering, operators/layout.cluster_lines — the
     box's center picks the fragment, exactly how the labelling tool
     snaps a drawn box to OCR geometry);
  2. header anchors are learned as the LITERAL (prefix, suffix)
     context around the value inside its fragment, required to be
     CONSISTENT across all examples (one labeled doc can collide by
     luck; five cannot);
  3. a constant prefix becomes a prefix anchor ('our ref: ',
     'Taxpoint: '); a standalone value becomes a SHAPE regex
     generalized from the values (run-length character classes:
     '22/07/2020' -> ^\\d{2}/\\d{2}/\\d{4}$, 'OXOUHJ' -> ^[A-Z]{6}$);
     Inv and AccountNo landing in the SAME fragment fuse into the
     combined template anchor ('^A/C (\\S+) INVOICE (\\d+)$');
  4. two_row_items is learned from the labeled line-item GEOMETRY:
     when every item's Qty box sits strictly BELOW its Net box the
     format renders two grid rows per logical line (nouryon), else
     one (a wrapped description pushing Net down is not a second
     row — the test is Qty-below-Net, not any-spread).

Training data is dimension-sized (the reference trains on 5 labeled
docs per format), so fitting runs driver-side pandas by design; the
OUTPUT config ships through the model registry (registry.register_
trained_model -> version MAX+1) and is consumed by the distributed
extraction kernel exactly like the hand-written v1 — pipeline
behavior is pinned by asserting the trained config reproduces the
hand-written one on the reference fixtures (tests/test_training.py).
"""

from __future__ import annotations

import re

import pandas as pd

from horus_spark.operators.layout import cluster_lines, fragments_view

HEADER_KEYS = ("Inv", "AccountNo", "TaxDate")
_ITEM_RE = re.compile(r"^(Qty|Unit|Disc|Net|Taxable|Drug)(\d{2})$")


def _escape(s: str) -> str:
    """re.escape minus the VERBOSE-only space escape (configs compile
    without re.VERBOSE, and the hand-written anchors write ' ' bare)."""
    return re.escape(s).replace("\\ ", " ")


def _shape_regex(values: list[str]) -> str:
    """Generalize literal values into one anchored shape regex via
    run-length character classes; every value must share the shape."""

    def one(v: str) -> str:
        out: list[str] = []
        prev_cls, run = None, 0

        def flush():
            if prev_cls is None:
                return
            out.append(prev_cls if run == 1 else f"{prev_cls}{{{run}}}")

        for ch in v:
            if ch.isdigit():
                cls = r"\d"
            elif "A" <= ch <= "Z":
                cls = "[A-Z]"
            elif "a" <= ch <= "z":
                cls = "[a-z]"
            else:
                cls = _escape(ch)
            if cls == prev_cls:
                run += 1
            else:
                flush()
                prev_cls, run = cls, 1
        flush()
        # collapse {1} for literals (escaped chars never get counts)
        return "".join(out)

    shapes = {one(v) for v in values}
    if len(shapes) != 1:
        raise ValueError(f"inconsistent value shapes across examples: {shapes}")
    return f"^{shapes.pop()}$"


def _frag_of(frags: pd.DataFrame, bbox: list[float]) -> pd.Series:
    """The fragment whose box contains the label box's center."""
    xs = bbox[0::2]
    ys = bbox[1::2]
    cx, cy = sum(xs) / len(xs), sum(ys) / len(ys)
    hit = frags[
        (frags["x0"] - 0.02 <= cx)
        & (cx <= frags["x1"] + 0.02)
        & (frags["y0"] - 0.02 <= cy)
        & (cy <= frags["y1"] + 0.02)
    ]
    if len(hit) == 0:
        raise ValueError(f"no fragment contains label box center ({cx},{cy})")
    return hit.iloc[0]


def _context(frag_text: str, value: str) -> tuple[str, str]:
    """(prefix, suffix) literal context of the value inside its line."""
    idx = frag_text.find(value)
    if idx < 0:
        raise ValueError(f"label value {value!r} not in fragment {frag_text!r}")
    return frag_text[:idx], frag_text[idx + len(value):]


def _const(name: str, vals: set) -> object:
    if len(vals) != 1:
        raise ValueError(f"inconsistent {name} across examples: {vals}")
    return vals.pop()


def train_format_config(examples: list[dict]) -> dict:
    """Fit one format's extraction config from labeled examples.

    Each example: {"labels": {label: (value_text, bbox8)},
    "words": pd.DataFrame in the ocr_words shape}. Returns a config
    dict in the FORMAT_CONFIGS shape, ready for
    registry.register_model / register_trained_model.
    """
    if not examples:
        raise ValueError("need at least one labeled example")
    for key in HEADER_KEYS:
        if not any(key in ex["labels"] for ex in examples):
            raise ValueError(f"no example carries a {key!r} label")
    per_key: dict[str, list] = {k: [] for k in HEADER_KEYS}
    fused_templates: set[str] = set()
    fused_any = False
    qty_minus_net: list[float] = []

    for n, ex in enumerate(examples):
        words = pd.DataFrame(ex["words"])
        if words.empty:
            raise ValueError(f"example {n} has no OCR words")
        frags = fragments_view(cluster_lines(words))
        labels = ex["labels"]
        hdr_frag: dict[str, pd.Series] = {}
        for key in HEADER_KEYS:
            if key not in labels:
                continue
            value, bbox = labels[key]
            frag = _frag_of(frags, bbox)
            hdr_frag[key] = frag
            per_key[key].append((value, frag["text"]))
        # Inv + AccountNo sharing one fragment -> combined template
        if (
            "Inv" in hdr_frag
            and "AccountNo" in hdr_frag
            and hdr_frag["Inv"]["frag_key"] == hdr_frag["AccountNo"]["frag_key"]
        ):
            fused_any = True
            text = str(hdr_frag["Inv"]["text"])
            acct, inv = labels["AccountNo"][0], labels["Inv"][0]
            tpl = text.replace(acct, "\0A\0", 1).replace(inv, "\0I\0", 1)
            tpl = _escape(tpl)
            tpl = tpl.replace(re.escape("\0A\0"), r"(\S+)")
            tpl = tpl.replace(re.escape("\0I\0"), r"(\d+)")
            fused_templates.add(f"^{tpl}$")
        # line-item geometry: Qty vs Net vertical relation per item
        items: dict[str, dict[str, list[float]]] = {}
        for label, (value, bbox) in labels.items():
            m = _ITEM_RE.match(label)
            if m and m.group(1) in ("Qty", "Net"):
                ys = bbox[1::2]
                items.setdefault(m.group(2), {})[m.group(1)] = sum(ys) / len(
                    ys
                )
            del value
        for nn, pos in items.items():
            if "Qty" in pos and "Net" in pos:
                qty_minus_net.append(pos["Qty"] - pos["Net"])

    cfg: dict = {}
    if fused_any:
        cfg["ac_inv"] = _const("combined A/C+INVOICE template", fused_templates)
    else:
        inv_ctx = {c for _v, t in per_key["Inv"] for c in [_context(t, _v)]}
        prefix, suffix = _const("Inv anchor context", inv_ctx)
        if suffix:
            raise ValueError(f"unsupported Inv suffix {suffix!r}")
        if not all(v.isdigit() for v, _ in per_key["Inv"]):
            raise ValueError("non-numeric Inv values")
        cfg["inv"] = f"^{_escape(prefix)}(\\d+)$"
        acct_ctx = {
            c for v, t in per_key["AccountNo"] for c in [_context(t, v)]
        }
        prefix, suffix = _const("AccountNo anchor context", acct_ctx)
        if suffix:
            raise ValueError(f"unsupported AccountNo suffix {suffix!r}")
        if prefix:
            cfg["account_prefix"] = prefix
        else:
            cfg["account_addr"] = _shape_regex(
                [v for v, _ in per_key["AccountNo"]]
            )

    date_ctx = {c for v, t in per_key["TaxDate"] for c in [_context(t, v)]}
    prefix, suffix = _const("TaxDate anchor context", date_ctx)
    if suffix:
        raise ValueError(f"unsupported TaxDate suffix {suffix!r}")
    if prefix:
        cfg["date_prefix"] = prefix
    else:
        cfg["date_standalone"] = _shape_regex(
            [v for v, _ in per_key["TaxDate"]]
        )

    if not qty_minus_net:
        raise ValueError("no labeled line items to learn row structure from")
    # strictly-below on EVERY item = two grid rows per logical line;
    # a wrapped description only ever pushes Net DOWN (qty - net <= 0)
    cfg["two_row_items"] = bool(min(qty_minus_net) > 0.02)
    return cfg


# ------------------------------------------------------- example builders


def reference_example(fixture_id: str, base: str | None = None) -> dict:
    """One training example from the reference's labelling-tool output
    (quickstart *.labels.json + *.ocr.json): label boxes are normalized
    page fractions, scaled here to the OCR's inch coordinates."""
    from horus_spark.fixtures.reference_fixtures import (
        QUICKSTART,
        load_labels,
        load_ocr,
        ocr_words_pdf,
    )

    base = base or QUICKSTART
    ocr = load_ocr(fixture_id, base)
    page = ocr["analyzeResult"]["readResults"][0]
    pw, ph = float(page["width"]), float(page["height"])
    labels: dict[str, tuple[str, list[float]]] = {}
    for lab in load_labels(fixture_id, base)["labels"]:
        vals = lab["value"]
        text = " ".join(v["text"] for v in vals)
        boxes = [b for v in vals for b in v["boundingBoxes"]]
        xs = [b[i] * pw for b in boxes for i in (0, 2, 4, 6)]
        ys = [b[i] * ph for b in boxes for i in (1, 3, 5, 7)]
        labels[lab["label"]] = (
            text,
            [min(xs), min(ys), max(xs), min(ys), max(xs), max(ys),
             min(xs), max(ys)],
        )
    return {"labels": labels, "words": ocr_words_pdf(fixture_id)}


def generator_example(doc: dict) -> dict:
    """One training example from a fixtures.generator document (its
    `label_boxes` entry is the labelling-tool analog)."""
    labels = {
        k: (doc["fields"][k], bbox)
        for k, bbox in doc["label_boxes"].items()
    }
    return {"labels": labels, "words": pd.DataFrame(doc["ocr_words"])}


def generator_examples(fmt: str, n: int = 5, seed: int = 42) -> list[dict]:
    """First n generator documents of the given format (deterministic
    doc-number scan — format assignment is part of the doc's seed)."""
    from horus_spark.fixtures.generator import (
        build_accounts,
        build_products,
        generate_document,
    )

    products, accounts = build_products(seed), build_accounts(seed)
    out = []
    doc_number = 30000
    while len(out) < n and doc_number < 31000:
        d = generate_document(doc_number, seed, products, accounts)
        if d["fmt"] == fmt:
            out.append(generator_example(d))
        doc_number += 1
    if len(out) < n:
        raise ValueError(f"could not find {n} docs of format {fmt!r}")
    return out
