"""L1/L2 layout operators: word->line clustering and table grid inference.

Native reimplementation of the layout analysis the reference delegates to a
cloud form-recognizer service (reference Horus.Functions/DocumentProcessor.cs:196-301
consumes its output; golden I/O contract =
reference Horus.Generator/quickstart/INVOICE-3000*.pdf.ocr.json:
analyzeResult.readResults[].lines[] and pageResults[].tables[]).

All functions operate on pandas/numpy INSIDE an Arrow-batched Spark UDF —
L1 is vectorized across every document in the batch (sort + break-flag +
cumsum; no per-row Python); L2/grid runs per document over <=~250 words.

Geometry conventions: bbox = [x1,y1,x2,y2,x3,y3,x4,y4] clockwise from
top-left, inches; we reduce to (x0, y0, x1, y1) axis-aligned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# word-center y distance below which two words share a visual text row
ROW_Y_TOL = 0.07
# x gap above which fragments on the same row are separate OCR lines
# (within-line word gaps ~0.065 in the fixtures; column gaps >= 0.10)
FRAG_X_GAP = 0.095


def _flatten_bbox(bbox_series: pd.Series) -> tuple[np.ndarray, ...]:
    arr = np.asarray([list(b) for b in bbox_series], dtype=np.float64)
    xs = arr[:, 0::2]
    ys = arr[:, 1::2]
    return xs.min(axis=1), ys.min(axis=1), xs.max(axis=1), ys.max(axis=1)


def cluster_lines(words: pd.DataFrame) -> pd.DataFrame:
    """L1: cluster word boxes into reading-order OCR lines (fragments).

    Vectorized across ALL documents in the batch. Returns one row per word
    with assigned fragment ids plus fragment geometry:
      [doc_id, page, line_id, word_id, text, x0, y0, x1, y1, row_key, frag_key]
    Fragment ids are consecutive within (doc_id, page) in reading order.
    """
    if len(words) == 0:
        return words.assign(x0=[], y0=[], x1=[], y1=[], row_key=[], frag_key=[])
    df = words[["doc_id", "page", "line_id", "word_id", "text"]].copy()
    if "x0" in words.columns:  # pre-flattened JVM-side (hot path)
        for c in ("x0", "y0", "x1", "y1"):
            df[c] = words[c].to_numpy(dtype=np.float64)
    else:
        x0, y0, x1, y1 = _flatten_bbox(words["bbox"])
        df["x0"], df["y0"], df["x1"], df["y1"] = x0, y0, x1, y1
    df["yc"] = (df["y0"].to_numpy() + df["y1"].to_numpy()) / 2.0

    df = df.sort_values(["doc_id", "page", "yc", "x0"], kind="mergesort").reset_index(drop=True)
    doc_change = (df["doc_id"] != df["doc_id"].shift()) | (df["page"] != df["page"].shift())
    new_row = doc_change | ((df["yc"] - df["yc"].shift()) > ROW_Y_TOL)
    df["row_key"] = new_row.cumsum()

    # rows need words ordered by x for fragment splitting
    df = df.sort_values(["row_key", "x0"], kind="mergesort").reset_index(drop=True)
    row_change = df["row_key"] != df["row_key"].shift()
    gap = df["x0"] - df["x1"].shift()
    new_frag = row_change | (gap > FRAG_X_GAP)
    df["frag_key"] = new_frag.cumsum()
    return df


def fragments_view(clustered: pd.DataFrame, with_words: bool = False) -> pd.DataFrame:
    """Aggregate the word-level cluster output to one row per fragment:
    [doc_id, page, frag_key, frag_ord, text, x0, y0, x1, y1 (, words)].

    Hot path: frag groups are contiguous runs after the sort, so every
    aggregate is a `reduceat` over run boundaries — no pandas groupby (the
    pure-Python agg path costs ~2ms per 100 fragments, which dominated the
    whole pipeline).

    with_words=True additionally materializes per-fragment word tuples
    (line_id, word_id, text, x0, x1) — needed only for fixture-parity table
    rendering (grid_to_tables); the hot path derives word/line membership
    from the word-level frame via vectorized merges instead."""
    clustered = clustered.sort_values(["frag_key", "x0"], kind="mergesort")
    fk = clustered["frag_key"].to_numpy()
    starts = np.flatnonzero(np.r_[len(fk) > 0, fk[1:] != fk[:-1]])  # none if empty
    ends = np.r_[starts[1:], len(fk)]
    x0 = clustered["x0"].to_numpy(dtype=np.float64)
    y0 = clustered["y0"].to_numpy(dtype=np.float64)
    x1 = clustered["x1"].to_numpy(dtype=np.float64)
    y1 = clustered["y1"].to_numpy(dtype=np.float64)
    texts = clustered["text"].to_numpy()
    # reading-order fragment ordinal within (doc, page): rows are y-sorted
    # and frags x-sorted within a row, so each (doc, page) is one run of
    # consecutive frag_keys and the ordinal is the offset into that run
    doc, page = clustered["doc_id"].to_numpy()[starts], clustered["page"].to_numpy()[starts]
    pos = np.arange(len(starts))
    run_start = np.r_[True, (doc[1:] != doc[:-1]) | (page[1:] != page[:-1])]
    frag_ord = pos - np.maximum.accumulate(np.where(run_start, pos, 0))
    joined = [
        texts[s] if e == s + 1 else " ".join(texts[s:e]) for s, e in zip(starts, ends)
    ]
    out = pd.DataFrame(
        {
            "frag_key": fk[starts],
            "doc_id": doc,
            "page": page,
            "frag_ord": frag_ord,
            "x0": np.minimum.reduceat(x0, starts),
            "y0": np.minimum.reduceat(y0, starts),
            "x1": np.maximum.reduceat(x1, starts),
            "y1": np.maximum.reduceat(y1, starts),
            "text": joined,
        }
    )
    if with_words:
        line_ids = clustered["line_id"].to_numpy()
        word_ids = clustered["word_id"].to_numpy()
        out["words"] = [
            list(zip(line_ids[s:e], word_ids[s:e], texts[s:e], x0[s:e], x1[s:e]))
            for s, e in zip(starts, ends)
        ]
    return out


# --------------------------------------------------------------------- L2


def _interval_clusters(intervals) -> list:
    """Assign cluster ids to 1-D intervals [(lo, hi)] by overlap-connectivity
    (maximal connected components under interval overlap). Accepts a list of
    (lo, hi) tuples or an (n, 2) array; returns a list of cluster ids."""
    n = len(intervals)
    order = sorted(range(n), key=lambda i: intervals[i][0])
    cluster = [0] * n
    cur, hi = 0, -np.inf
    for idx in order:
        lo, h = intervals[idx]
        if lo > hi and hi != -np.inf:
            cur += 1
        cluster[idx] = cur
        hi = max(hi, h)
    return cluster


def _monotone_header_groups(hx0, hx1, hdr_ids):
    """Merge header fragments whose x-intervals overlap (multi-row header
    titles like 'Unit'+'Price'); return groups sorted by x. Group extents
    are maintained incrementally (the min/max-per-membership-test form was
    quadratic in fragment count per group)."""
    ids = sorted(hdr_ids, key=lambda i: hx0[i])
    groups: list[list[int]] = []
    extents: list[list[float]] = []  # [glo, ghi] per group
    for fi in ids:
        flo, fhi = hx0[fi], hx1[fi]
        placed = False
        for gi, (glo, ghi) in enumerate(extents):
            if (ghi if ghi < fhi else fhi) - (glo if glo > flo else flo) > 0:
                groups[gi].append(fi)
                if flo < glo:
                    extents[gi][0] = flo
                if fhi > ghi:
                    extents[gi][1] = fhi
                placed = True
                break
        if not placed:
            groups.append([fi])
            extents.append([flo, fhi])
    order = sorted(range(len(groups)), key=lambda gi: extents[gi][0])
    return [groups[gi] for gi in order]


def infer_grid(frags: pd.DataFrame) -> dict:
    """DataFrame wrapper over infer_grid_arrays (tests / fixture parity)."""
    f = frags.reset_index(drop=True)
    return infer_grid_arrays(
        f["text"].tolist(),
        f["x0"].to_numpy(dtype=np.float64),
        f["y0"].to_numpy(dtype=np.float64),
        f["x1"].to_numpy(dtype=np.float64),
    )


def infer_grid_arrays(texts: list, fx0: np.ndarray, fy: np.ndarray, fx1: np.ndarray) -> dict:
    """L2: infer the line-item grid + totals table for ONE document page.

    Strategy (anchor-column projection, domain of ruled invoice forms):
    1. anchors = integer-text fragments forming the leftmost vertically
       aligned run 1..N (the item-number column).
    2. table rows = VISUAL TEXT ROWS of the item region (the reference
       fixtures show the recognizer emitting wrapped description
       continuations as their own rowIndex), header band = row 0.
    3. columns = overlap-connected x-interval clusters of item fragments.
    4. header titles merged by x-overlap ('Unit'+'Price'), assigned to
       columns 1:1 in x order when counts allow, else by min x-gap.
    5. totals table = fragments below the post-items gap CONTAINED in the
       last column band (the reference's 4x1 pageResults table; the label
       column is unruled and therefore excluded, matching the fixtures).

    Operates on plain arrays (hot path — no pandas indexing).
    Returns {} if no table. cells maps (rowIndex, columnIndex) -> list of
    fragment positional ids.
    """
    n = len(texts)
    # plain-list views for the scalar-access loops below (numpy scalar
    # indexing pays ~3x in boxing overhead at this call frequency)
    fy_l = fy.tolist() if isinstance(fy, np.ndarray) else list(fy)
    fx0_l = fx0.tolist() if isinstance(fx0, np.ndarray) else list(fx0)
    fx1_l = fx1.tolist() if isinstance(fx1, np.ndarray) else list(fx1)
    # 1-2 ASCII digit fragments (item-number candidates); str methods are
    # ~5x cheaper than a regex fullmatch at this call frequency
    int_ids = [i for i in range(n) if len(texts[i]) <= 2 and texts[i].isdigit()]
    anchors_idx = None
    if int_ids:
        # group candidate anchors by x-center bucket
        from collections import defaultdict

        buckets = defaultdict(list)
        for i in int_ids:
            buckets[int(round((fx0_l[i] + fx1_l[i]) / 2 / 0.12))].append(i)
        for grp in buckets.values():
            grp.sort(key=lambda i: fy_l[i])
            vals = [int(texts[i]) for i in grp]
            if vals[:1] == [1] and vals == list(range(1, len(vals) + 1)):
                if anchors_idx is None or len(grp) > len(anchors_idx):
                    anchors_idx = grp
    if not anchors_idx:
        return {}

    pad = 0.04
    table_top = fy_l[anchors_idx[0]] - pad
    last_anchor_y = fy_l[anchors_idx[-1]]

    # ---- visual text rows of everything below the table top
    below = [i for i in range(n) if fy_l[i] >= table_top]
    below.sort(key=lambda i: fy_l[i])
    row_of: dict[int, int] = {}
    row_ys: list[float] = []
    for fi in below:
        if row_ys and fy_l[fi] - row_ys[-1] <= 0.06:
            row_of[fi] = len(row_ys) - 1
        else:
            row_ys.append(fy_l[fi])
            row_of[fi] = len(row_ys) - 1

    # text-row pitch (NOT anchor pitch — two-grid-row layouts space anchors
    # 2 rows apart, which would hide the totals gap)
    if len(row_ys) > 1:
        d = np.sort(np.diff(np.asarray(row_ys)))
        m = len(d)
        pitch = float(d[m // 2]) if m % 2 else float(d[m // 2 - 1] + d[m // 2]) / 2.0
    else:
        pitch = 0.17
    pitch = max(pitch, 0.12)

    # ---- item rows end where the inter-row gap exceeds 1.25x pitch after
    # the last anchor row (the totals block / page footer follow)
    n_item_rows = len(row_ys)
    for ri in range(1, len(row_ys)):
        if row_ys[ri] > last_anchor_y + 1e-9 and row_ys[ri] - row_ys[ri - 1] > 1.25 * pitch:
            n_item_rows = ri
            break
    item_ids = [fi for fi, r in row_of.items() if r < n_item_rows]

    # ---- columns from item fragments only
    intervals = [(fx0_l[fi], fx1_l[fi]) for fi in item_ids]
    col_of = _interval_clusters(intervals)
    n_cols = (max(col_of) + 1) if col_of else 0
    # single pass for the per-column extents (was 2 x n_cols passes)
    col_lo = [np.inf] * n_cols
    col_hi = [-np.inf] * n_cols
    for (lo, hi), c in zip(intervals, col_of):
        if lo < col_lo[c]:
            col_lo[c] = lo
        if hi > col_hi[c]:
            col_hi[c] = hi

    cells: dict[tuple[int, int], list[int]] = {}
    for k, fi in enumerate(item_ids):
        cells.setdefault((row_of[fi] + 1, col_of[k]), []).append(fi)

    # ---- header: fragments in the band just above the table top
    hdr_ids = [
        i
        for i in range(n)
        if table_top - 0.45 < fy_l[i] < table_top
        and fx1_l[i] > col_lo[0] - 0.05
        and fx0_l[i] < col_hi[-1] + 0.05
    ]
    groups = _monotone_header_groups(fx0_l, fx1_l, hdr_ids)
    target_cols = list(range(1, n_cols))
    if len(groups) == len(target_cols):
        assign = dict(zip(range(len(groups)), target_cols))
    else:
        assign = {}
        for gi, g in enumerate(groups):
            glo = min(fx0_l[j] for j in g)
            ghi = max(fx1_l[j] for j in g)
            best, best_gap = 0, None
            for cc in range(n_cols):
                gap = max(col_lo[cc] - ghi, 0.0) + max(glo - col_hi[cc], 0.0)
                if best_gap is None or gap < best_gap:
                    best, best_gap = cc, gap
            assign[gi] = best
    for gi, g in enumerate(groups):
        for fi in g:
            cells.setdefault((0, assign[gi]), []).append(fi)

    # ---- totals: below the items, contained in the last column band
    totals_cells = []
    tids = [
        fi
        for fi, r in row_of.items()
        if r >= n_item_rows
        and fx0_l[fi] >= col_lo[-1] - 0.25
        and fx1_l[fi] <= col_hi[-1] + 0.25
    ]
    if tids:
        tids.sort(key=lambda fi: fy_l[fi])
        r, prev_y = -1, -np.inf
        for fi in tids:
            yv = fy_l[fi]
            if yv - prev_y > 1.25 * pitch:  # totals end before a large gap
                if r >= 0:
                    break
            if yv - prev_y > 0.06:
                r += 1
            totals_cells.append({"row": r, "frag_idx": [fi]})
            prev_y = yv

    return {
        "anchor_idx": np.array(anchors_idx),
        "n_rows": n_item_rows + 1,  # + header row
        "n_cols": n_cols,
        "col_lo": col_lo,
        "col_hi": col_hi,
        "cells": cells,
        "totals_cells": totals_cells,
        "table_top": float(table_top),
        "row_ys": row_ys[:n_item_rows],
        "pitch": pitch,
    }


def grid_to_tables(frags: pd.DataFrame, grid: dict, page0: int = 0) -> list[dict]:
    """Render an inferred grid in the reference's pageResults.tables shape
    (rows, columns, cells[{rowIndex, columnIndex, text, boundingBox,
    elements}]) for golden comparison against the fixtures."""
    if not grid:
        return []
    f = frags.reset_index(drop=True)

    def cell_payload(frag_idxs):
        sub = f.loc[sorted(frag_idxs, key=lambda i: (f.at[i, "y0"], f.at[i, "x0"]))]
        text = " ".join(sub["text"])
        elements = []
        for _, fr in sub.iterrows():
            for (line_id, word_id, *_rest) in fr["words"]:
                elements.append(f"#/readResults/{page0}/lines/{line_id}/words/{word_id}")
        bbox = [
            float(sub["x0"].min()), float(sub["y0"].min()),
            float(sub["x1"].max()), float(sub["y0"].min()),
            float(sub["x1"].max()), float(sub["y1"].max()),
            float(sub["x0"].min()), float(sub["y1"].max()),
        ]
        return text, bbox, elements

    cells = []
    for (r, c), idxs in sorted(grid["cells"].items()):
        text, bbox, elements = cell_payload(idxs)
        cells.append(
            {
                "rowIndex": int(r),
                "columnIndex": int(c),
                "text": text,
                "boundingBox": bbox,
                "elements": elements,
            }
        )
    tables = [{"rows": int(grid["n_rows"]), "columns": int(grid["n_cols"]), "cells": cells}]
    if grid["totals_cells"]:
        tcells = []
        for tc in grid["totals_cells"]:
            text, bbox, elements = cell_payload(tc["frag_idx"])
            tcells.append(
                {
                    "rowIndex": int(tc["row"]),
                    "columnIndex": 0,
                    "text": text,
                    "boundingBox": bbox,
                    "elements": elements,
                }
            )
        tables.append(
            {"rows": len({c["rowIndex"] for c in tcells}), "columns": 1, "cells": tcells}
        )
    return tables
