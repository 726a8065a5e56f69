"""L3/L4: key-value field extraction from inferred layout.

Produces the flat fields map the shredder consumes — the native equivalent
of the reference's trained-model output
(analyzeResult.documentResults[0].fields, consumed at
reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:25;
key taxonomy per reference Horus.Generator/quickstart/fields.json: 8 header
keys + Drug/Qty/Unit/Disc/Taxable/Net{NN}).

Runs per document on the fragments + grid from operators.layout; pure
pandas/numpy inside an Arrow-batched UDF.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from horus_spark.config import FORMAT_CONFIGS, POSTCODE_RE, TOTALS_LABELS


_RE_CACHE: dict[str, "re.Pattern"] = {}


def _rx(pattern: str):
    p = _RE_CACHE.get(pattern)
    if p is None:
        p = _RE_CACHE[pattern] = re.compile(pattern)
    return p


def extract_fields(
    frags: pd.DataFrame, grid: dict, fmt: str, configs: dict | None = None
) -> tuple[dict, set]:
    """DataFrame wrapper over extract_fields_arrays."""
    f = frags.reset_index(drop=True)
    return extract_fields_arrays(
        f["text"].tolist(),
        f["x0"].to_numpy(dtype=np.float64),
        f["y0"].to_numpy(dtype=np.float64),
        f["x1"].to_numpy(dtype=np.float64),
        grid,
        fmt,
        configs,
    )


def extract_fields_arrays(
    texts: list,
    fx0: np.ndarray,
    fy: np.ndarray,
    fx1: np.ndarray,
    grid: dict,
    fmt: str,
    configs: dict | None = None,
) -> tuple[dict, set]:
    """-> (fields {key: text}, contributing fragment positional ids).
    Plain-array hot path (no pandas indexing). `configs` overrides the
    static per-format config table (the model-registry path: the pipeline
    ships the latest registered config version per format)."""
    cfg_map = configs if configs is not None else FORMAT_CONFIGS
    cfg = cfg_map.get(fmt) or FORMAT_CONFIGS["abc"]
    n = len(texts)
    fields: dict[str, str] = {}
    used: set[int] = set()
    # plain-list views: the loops below do scalar reads per fragment, where
    # numpy indexing pays ~3x in boxing overhead
    fy = fy.tolist() if isinstance(fy, np.ndarray) else fy
    fx0 = fx0.tolist() if isinstance(fx0, np.ndarray) else fx0
    fx1 = fx1.tolist() if isinstance(fx1, np.ndarray) else fx1

    def reg(key, value, idxs):
        # idxs are plain-int fragment positions (ranges / grid cell lists)
        fields[key] = value
        used.update(idxs)

    table_top = grid.get("table_top", np.inf)

    # ---------------- header anchors ----------------
    rx_inv = _rx(cfg["inv"]) if "inv" in cfg else None
    rx_acinv = _rx(cfg["ac_inv"]) if "ac_inv" in cfg else None
    rx_acct = _rx(cfg["account_addr"]) if "account_addr" in cfg else None
    rx_date = _rx(cfg["date_standalone"]) if "date_standalone" in cfg else None
    rx_pc = _rx(POSTCODE_RE)
    acct_prefix = cfg.get("account_prefix")
    date_prefix = cfg.get("date_prefix")
    # header anchors are unique per document (one invoice line, one account
    # anchor, ...), so stop scanning once every sought key is registered —
    # the remainder of the page is table/totals fragments
    remaining = {"Inv", "AccountNo", "TaxDate", "PostCode"}

    def hreg(key, value, idxs):
        reg(key, value, idxs)
        remaining.discard(key)

    for i in range(n):
        if not remaining:
            break
        t = texts[i]
        y = fy[i]
        if rx_inv is not None:
            m = rx_inv.match(t)
            if m and "Inv" not in fields:
                hreg("Inv", m.group(1), [i])
                continue
        if rx_acinv is not None:
            m = rx_acinv.match(t)
            if m:
                hreg("AccountNo", m.group(1), [i])
                hreg("Inv", m.group(2), [i])
                continue
        if acct_prefix and t.startswith(acct_prefix):
            hreg("AccountNo", t[len(acct_prefix):], [i])
            continue
        if (
            rx_acct is not None
            and y < table_top
            and "AccountNo" not in fields
            and rx_acct.match(t)
        ):
            hreg("AccountNo", t, [i])
            continue
        if date_prefix and t.startswith(date_prefix):
            hreg("TaxDate", t[len(date_prefix):], [i])
            continue
        if (
            rx_date is not None
            and "TaxDate" not in fields
            and y < table_top
            and rx_date.match(t)
        ):
            hreg("TaxDate", t, [i])
            continue
        m = rx_pc.match(t)
        if m and y < table_top and "PostCode" not in fields:
            hreg("PostCode", f"{m.group(1)} {m.group(2)}", [i])

    # ---------------- totals (label-anchored, same visual row) -------------
    for tc in grid.get("totals_cells", []):
        vi = tc["frag_idx"][0]
        vy = fy[vi]
        lo, hi, vx = vy - 0.06, vy + 0.06, fx0[vi]
        label_ids = [
            j for j in range(n) if lo < fy[j] < hi and fx1[j] < vx
        ]
        if not label_ids:
            continue
        label_ids.sort(key=lambda j: fx0[j])
        label_text = " ".join(texts[j] for j in label_ids)
        for prefix, key in TOTALS_LABELS:
            if label_text.startswith(prefix) and key not in fields:
                reg(key, texts[vi], [vi])
                break

    # ---------------- line-item fields from the grid ----------------
    if not grid:
        return fields, used

    def cell_join(idxs):
        if len(idxs) == 1:  # the common case — no sort, no join
            return texts[idxs[0]]
        sub = sorted(idxs, key=lambda i: (fy[i], fx0[i]))
        return " ".join(texts[i] for i in sub)

    n_cols = grid["n_cols"]
    cells = grid["cells"]
    anchor_rows: list[tuple[int, int]] = []  # (row, item_number)
    for (r, c), idxs in cells.items():
        if c == 0 and r > 0 and len(idxs) == 1:
            t = texts[idxs[0]]
            if len(t) <= 2 and t.isdigit():
                anchor_rows.append((r, int(t)))
    anchor_rows.sort()
    n_item_rows = grid["n_rows"] - 1  # excl header

    if cfg["two_row_items"]:
        has_tax = n_cols >= 6
        col_desc, col_unit, col_disc = 1, 2, 3
        col_tax = 4 if has_tax else None
        col_net = n_cols - 1
    else:
        has_tax = n_cols >= 7
        col_desc, col_qty, col_unit, col_disc = 1, 2, 3, 4
        col_tax = 5 if has_tax else None
        col_net = n_cols - 1

    for ai, (r, item_no) in enumerate(anchor_rows):
        r_end = anchor_rows[ai + 1][0] if ai + 1 < len(anchor_rows) else n_item_rows + 1
        rows = range(r, r_end)
        nn = f"{item_no:02d}"

        def cell_rows(col, row_iter=rows):
            idxs = []
            for rr in row_iter:
                got = cells.get((rr, col))
                if got:
                    idxs.extend(got)
            return idxs

        if cfg["two_row_items"]:
            last_r = r_end - 1
            desc_idxs = cell_rows(col_desc, range(r, last_r))
            qty_idxs = cells.get((last_r, col_desc), [])
            unit_idxs = cell_rows(col_unit)
            disc_idxs = cell_rows(col_disc)
        else:
            desc_idxs = cell_rows(col_desc)
            qty_idxs = cell_rows(col_qty)
            unit_idxs = cell_rows(col_unit)
            disc_idxs = cell_rows(col_disc)
        net_idxs = cell_rows(col_net)
        tax_idxs = cell_rows(col_tax) if col_tax is not None else []

        if desc_idxs:
            reg(f"Drug{nn}", cell_join(desc_idxs), desc_idxs)
        if qty_idxs:
            reg(f"Qty{nn}", cell_join(qty_idxs), qty_idxs)
        if unit_idxs:
            reg(f"Unit{nn}", cell_join(unit_idxs), unit_idxs)
        if disc_idxs:
            reg(f"Disc{nn}", cell_join(disc_idxs), disc_idxs)
        if net_idxs:
            reg(f"Net{nn}", cell_join(net_idxs), net_idxs)
        if tax_idxs:
            reg(f"Taxable{nn}", cell_join(tax_idxs), tax_idxs)

    return fields, used
