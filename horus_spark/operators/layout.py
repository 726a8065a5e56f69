"""L1/L2 layout operators: word->line clustering and table grid inference.

Native reimplementation of the layout analysis the reference delegates to a
cloud form-recognizer service (reference Horus.Functions/DocumentProcessor.cs:196-301
consumes its output; golden I/O contract =
reference Horus.Generator/quickstart/INVOICE-3000*.pdf.ocr.json:
analyzeResult.readResults[].lines[] and pageResults[].tables[]).

The recognize kernel runs both layers over a whole chunk of documents at
once, on flat numpy/Arrow arrays with an integer document index: L1
(`line_order`, `join_runs`) is a stable lexsort plus break flags; L2
(`infer_grid_columns`) is segmented numpy — sorts, `reduceat`, run ids and
exact per-segment searches — with no loop over documents. The per-document
`infer_grid_arrays` is the readable statement of the same rules: the
test oracle (tests/test_kernel_fuzz.py) and the fixture-parity renderer
(`grid_to_tables`). `cluster_lines`/`fragments_view` are DataFrame
wrappers over the array functions for training and fixtures.

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


def is_item_number(t: str) -> bool:
    """An item number (anchor candidate): one or two ASCII digits.
    str.isdigit alone also accepts '²' or '①', which int() then rejects."""
    return len(t) <= 2 and t.isascii() and t.isdigit()


def item_numbers(texts) -> np.ndarray:
    """`is_item_number` over an Arrow string array."""
    import pyarrow.compute as pc

    hit = pc.match_substring_regex(texts, r"^[0-9]{1,2}$")
    return pc.fill_null(hit, False).to_numpy(zero_copy_only=False)


def _flatten_bbox(bbox_series: pd.Series) -> tuple[np.ndarray, ...]:
    arr = np.asarray([list(b) for b in bbox_series], dtype=np.float64)
    xs = arr[:, 0::2]
    ys = arr[:, 1::2]
    return xs.min(axis=1), ys.min(axis=1), xs.max(axis=1), ys.max(axis=1)


# ------------------------------------------------------ segmented helpers
# Arrays below are grouped into contiguous segments (one per document),
# given as a nondecreasing integer segment id per element.


def run_starts(*keys: np.ndarray) -> np.ndarray:
    """Bool per element: it starts a run of equal key tuples."""
    first = np.zeros(len(keys[0]), bool)
    first[:1] = True
    for k in keys:
        first[1:] |= k[1:] != k[:-1]
    return first


def run_ends(*keys: np.ndarray) -> np.ndarray:
    """Bool per element: it ends a run of equal key tuples."""
    last = np.zeros(len(keys[0]), bool)
    last[-1:] = True
    for k in keys:
        last[:-1] |= k[1:] != k[:-1]
    return last


def run_pos(seg: np.ndarray) -> np.ndarray:
    """Position of each element inside its run of equal `seg` values."""
    i = np.arange(len(seg))
    return i - np.maximum.accumulate(np.where(run_starts(seg), i, 0))


def seg_keys(*pairs) -> list:
    """(segment ids, float values) pairs -> int64 keys, one array per pair,
    that order and compare exactly like the (segment, value) tuples across
    all the pairs: value ranks in their common sorted set, offset by
    segment. One plain `searchsorted` over such keys is a per-segment
    search with the exact float comparison."""
    u = np.unique(np.concatenate([v for _, v in pairs]))
    return [s.astype(np.int64) * len(u) + np.searchsorted(u, v) for s, v in pairs]


def seg_cummax(seg: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Running maximum of `v` that restarts at every segment."""
    u, rank = np.unique(v, return_inverse=True)
    base = seg.astype(np.int64) * len(u)
    return u[np.maximum.accumulate(base + rank) - base]


# --------------------------------------------------------------------- L1


def _stable_order(major: np.ndarray, minor: np.ndarray) -> np.ndarray:
    """Stable argsort by (integer major, float minor), NaN minors last
    within their major: one complex key (numpy sorts complex numbers by
    real, then imaginary part), whose stable sort is a timsort — fast on
    the nearly-sorted keys of OCR words, unlike a multi-key lexsort."""
    nan = np.isnan(minor)
    key = np.empty(len(major), np.complex128)
    key.real = major * 2 + nan  # exact below 2**52
    key.imag = np.where(nan, 0.0, minor)
    return np.argsort(key, kind="stable")


def line_order(doc, page, x0, y0, x1, y1) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """L1 over flat word arrays of any number of documents -> (order,
    row_key, frag_key). `order` permutes the words into reading order:
    by (doc, page), then visual row (a word whose center y is more than
    ROW_Y_TOL below the previous word's starts a row), then x inside the
    row. A fragment (OCR line) breaks where the x gap to the previous word
    exceeds FRAG_X_GAP. row_key/frag_key are 1-based run ids in that
    order. Both sorts are stable (ties keep input order); NaN sorts last."""
    n = len(doc)
    if n == 0:
        none = np.zeros(0, np.int64)
        return none, none, none
    page = np.asarray(page, np.int64) - np.min(page)
    doc_page = np.asarray(doc, np.int64) * (int(page.max()) + 1) + page
    if doc_page.max() >= 2**51:
        doc_page = np.unique(doc_page, return_inverse=True)[1]
    with np.errstate(invalid="ignore"):
        yc = (y0 + y1) / 2.0
        # (doc, page, yc): an x0 tie-break here could only reorder words
        # of equal x0, which the row sort below keeps in this order anyway
        order = _stable_order(doc_page, yc)
        d, y = doc_page[order], yc[order]
        new_row = np.ones(n, bool)
        new_row[1:] = (d[1:] != d[:-1]) | (y[1:] - y[:-1] > ROW_Y_TOL)
        row_key = np.cumsum(new_row)
        within = _stable_order(row_key, x0[order])
        order, row_key = order[within], row_key[within]
        wx0, wx1 = x0[order], x1[order]
        new_frag = np.ones(n, bool)
        new_frag[1:] = (row_key[1:] != row_key[:-1]) | (wx0[1:] - wx1[:-1] > FRAG_X_GAP)
    return order, row_key, np.cumsum(new_frag)


def join_runs(texts, starts: np.ndarray):
    """Arrow string array + run start offsets -> one ' '-joined string per
    run (the fragment texts)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    offsets = pa.array(np.r_[starts, len(texts)], pa.int32())
    return pc.binary_join(pa.ListArray.from_arrays(offsets, texts), " ")


def cluster_lines(words: pd.DataFrame) -> pd.DataFrame:
    """L1 DataFrame wrapper over `line_order`: one row per word, in
    reading order, with fragment geometry:
      [doc_id, page, line_id, word_id, text, x0, y0, x1, y1, yc, row_key, frag_key]
    Fragment ids are consecutive within (doc_id, page) in reading order.
    """
    if len(words) == 0:
        return words.assign(x0=[], y0=[], x1=[], y1=[], row_key=[], frag_key=[])
    df = words[["doc_id", "page", "line_id", "word_id", "text"]].copy()
    if "x0" in words.columns:  # pre-flattened JVM-side
        for c in ("x0", "y0", "x1", "y1"):
            df[c] = words[c].to_numpy(dtype=np.float64)
    else:
        x0, y0, x1, y1 = _flatten_bbox(words["bbox"])
        df["x0"], df["y0"], df["x1"], df["y1"] = x0, y0, x1, y1
    df["yc"] = (df["y0"].to_numpy() + df["y1"].to_numpy()) / 2.0
    doc = pd.factorize(df["doc_id"], sort=True)[0]
    order, row_key, frag_key = line_order(
        doc, df["page"].to_numpy(), *(df[c].to_numpy() for c in ("x0", "y0", "x1", "y1"))
    )
    df = df.iloc[order].reset_index(drop=True)
    df["row_key"], df["frag_key"] = row_key, frag_key
    return df


def fragments_view(clustered: pd.DataFrame, with_words: bool = False) -> pd.DataFrame:
    """Aggregate the word-level cluster output to one row per fragment:
    [doc_id, page, frag_key, frag_ord, text, x0, y0, x1, y1 (, words)].

    Fragment groups are contiguous runs of frag_key, so every aggregate is
    a `reduceat` over run starts and the texts are one Arrow join.

    with_words=True additionally materializes per-fragment word tuples
    (line_id, word_id, text, x0, x1) — needed only for fixture-parity table
    rendering (grid_to_tables)."""
    import pyarrow as pa

    clustered = clustered.sort_values(["frag_key", "x0"], kind="mergesort")
    fk = clustered["frag_key"].to_numpy()
    starts = np.flatnonzero(run_starts(fk))
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
            "text": join_runs(pa.array(texts, pa.string()), starts).to_numpy(zero_copy_only=False),
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

    One document, in plain Python: the oracle for `infer_grid_columns`.
    Returns {} if no table. cells maps (rowIndex, columnIndex) -> list of
    fragment positional ids.
    """
    n = len(texts)
    # plain-list views for the scalar-access loops below (numpy scalar
    # indexing pays ~3x in boxing overhead at this call frequency)
    fy_l = fy.tolist() if isinstance(fy, np.ndarray) else list(fy)
    fx0_l = fx0.tolist() if isinstance(fx0, np.ndarray) else list(fx0)
    fx1_l = fx1.tolist() if isinstance(fx1, np.ndarray) else list(fx1)
    # 1-2 ASCII digit fragments (item-number candidates)
    int_ids = [i for i in range(n) if is_item_number(texts[i])]
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


def infer_grid_columns(fdoc, texts, fx0, fy, fx1, n_docs: int) -> dict:
    """L2 for a whole chunk: `infer_grid_arrays`' rules, segmented over
    every document at once. Fragments are flat arrays in reading order,
    contiguous per document (`fdoc`, nondecreasing); `texts` is an Arrow
    string array.

    Returns per-document arrays (length n_docs) `table_top` (inf: no
    table), `n_rows` (item rows, without the header row) and `n_cols`;
    per item fragment `item` (fragment id), `row` (1-based) and `col`; and
    `totals`, the totals-table fragment ids in order. The header row feeds
    no field (L3/L4 read item rows and totals only), so it is not built.
    """
    import pyarrow.compute as pc

    table_top = np.full(n_docs, np.inf)
    n_rows = np.zeros(n_docs, np.int64)
    n_cols = np.zeros(n_docs, np.int64)
    none = np.zeros(0, np.int64)
    out = {"table_top": table_top, "n_rows": n_rows, "n_cols": n_cols,
           "item": none, "row": none, "col": none, "totals": none}

    # ---- anchors: per document, the longest run 1..N of item numbers
    # sharing an x-center bucket (Python round(): half to even, like
    # np.rint), earliest-seen bucket on ties
    cand = np.flatnonzero(item_numbers(texts))
    if not len(cand):
        return out
    num = pc.cast(texts.take(cand), "int64").to_numpy()
    bucket = np.rint((fx0[cand] + fx1[cand]) / 2 / 0.12)
    o = np.lexsort((cand, fy[cand], bucket, fdoc[cand]))
    cand, num, bucket, cdoc = cand[o], num[o], bucket[o], fdoc[cand[o]]
    new = run_starts(cdoc, bucket)
    g0 = np.flatnonzero(new)
    gid = np.cumsum(new) - 1
    pos = np.arange(len(cand)) - g0[gid]
    valid = ~np.logical_or.reduceat(num != pos + 1, g0)
    g_len = np.diff(np.r_[g0, len(cand)])
    g_seen = np.minimum.reduceat(cand, g0)
    g0, g_len, g_seen = g0[valid], g_len[valid], g_seen[valid]
    if not len(g0):
        return out
    g_doc = cdoc[g0]
    best = np.lexsort((g_seen, -g_len, g_doc))
    best = best[run_starts(g_doc[best])]
    adoc = g_doc[best]
    table_top[adoc] = fy[cand[g0[best]]] - 0.04
    last_anchor_y = np.full(n_docs, np.inf)
    last_anchor_y[adoc] = fy[cand[g0[best] + g_len[best] - 1]]

    # ---- visual rows of everything below the table top, greedy: a row
    # starts at the first fragment more than 0.06 below the row's FIRST
    # fragment. Each fragment's would-be next row start comes from one
    # exact per-document search; then every document's chain of row
    # starts advances one row per step, all documents together.
    b = np.flatnonzero(fy >= table_top[fdoc])
    b = b[np.lexsort((fy[b], fdoc[b]))]
    bdoc, by = fdoc[b], fy[b]
    nb = len(b)
    first_b = run_starts(bdoc)
    seg_end = np.r_[np.flatnonzero(first_b)[1:], nb][np.cumsum(first_b) - 1]
    kv, kq = seg_keys((bdoc, by), (bdoc, by + 0.06))
    nxt = np.searchsorted(kv, kq, side="right")
    here = np.arange(nb)
    while True:  # settle `by + 0.06` rounding against the exact test
        back = (nxt - 1 > here) & (by[np.maximum(nxt - 1, 0)] - by > 0.06)
        fwd = (nxt < seg_end) & ~(by[np.minimum(nxt, nb - 1)] - by > 0.06)
        if not (back.any() or fwd.any()):
            break
        nxt = nxt - back + fwd
    nxt = np.where(nxt < seg_end, nxt, -1)
    row_start = np.zeros(nb, bool)
    cur = np.flatnonzero(first_b)
    while len(cur):
        row_start[cur] = True
        cur = nxt[cur]
        cur = cur[cur >= 0]
    rs = np.flatnonzero(row_start)
    rdoc, ry = bdoc[rs], by[rs]
    ri = run_pos(rdoc)
    brow = ri[np.cumsum(row_start) - 1]

    # text-row pitch: median gap between row starts (NOT anchor pitch —
    # two-grid-row layouts space anchors 2 rows apart)
    gap = ry[1:] - ry[:-1]
    has_prev = ri[1:] > 0
    gdoc, gap = rdoc[1:][has_prev], gap[has_prev]
    o = np.lexsort((gap, gdoc))
    gdoc, gap = gdoc[o], gap[o]
    m = np.bincount(gdoc, minlength=n_docs)
    pitch = np.full(n_docs, 0.17)
    d = np.flatnonzero(m)
    mid = (np.cumsum(m) - m)[d] + m[d] // 2
    pitch[d] = np.where(m[d] % 2 == 1, gap[mid], (gap[mid - 1] + gap[mid]) / 2.0)
    pitch = np.maximum(pitch, 0.12)

    # ---- item rows end at the first gap > 1.25 pitch after the last
    # anchor row
    n_rows[:] = np.bincount(rdoc, minlength=n_docs)
    ry_prev = np.r_[np.nan, ry[:-1]]
    with np.errstate(invalid="ignore"):
        stop = (ri > 0) & (ry > last_anchor_y[rdoc] + 1e-9) & (ry - ry_prev > 1.25 * pitch[rdoc])
    s = np.flatnonzero(stop)
    s = s[run_starts(rdoc[s])]
    n_rows[rdoc[s]] = ri[s]
    is_item = brow < n_rows[bdoc]

    # ---- columns: overlap-connected x intervals of the item fragments
    it = np.flatnonzero(is_item)
    lo, hi, idoc = fx0[b[it]], fx1[b[it]], bdoc[it]
    o = np.lexsort((lo, idoc))
    lo, hi, idoc = lo[o], hi[o], idoc[o]
    first = run_starts(idoc)
    reach = np.r_[-np.inf, seg_cummax(idoc, hi)[:-1]]
    new_col = first | (lo > reach)
    c0 = np.flatnonzero(new_col)
    cdoc = idoc[c0]
    col = np.empty(len(it), np.int64)
    col[o] = run_pos(cdoc)[np.cumsum(new_col) - 1]
    n_cols[:] = np.bincount(cdoc, minlength=n_docs)
    last = run_ends(cdoc)
    col_lo = np.zeros(n_docs)
    col_hi = np.zeros(n_docs)
    col_lo[cdoc[last]] = lo[c0[last]]
    col_hi[cdoc[last]] = np.maximum.reduceat(hi, c0)[last]

    # ---- totals: below the items, inside the last column band, up to
    # the first gap > 1.25 pitch
    bx0, bx1 = fx0[b], fx1[b]
    t = np.flatnonzero(
        ~is_item & (bx0 >= col_lo[bdoc] - 0.25) & (bx1 <= col_hi[bdoc] + 0.25)
    )
    tdoc, ty = bdoc[t], by[t]
    first = run_starts(tdoc)
    with np.errstate(invalid="ignore"):
        cut = ~first & (ty - np.r_[np.nan, ty[:-1]] > 1.25 * pitch[tdoc])
    cuts = np.cumsum(cut)
    keep = cuts == np.maximum.accumulate(np.where(first, cuts, 0))

    out.update(item=b[it], row=brow[it] + 1, col=col, totals=b[t[keep]])
    return out


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
