"""L3/L4: key-value field extraction from inferred layout.

Produces the fields the shredder consumes — the native equivalent of the
reference's trained-model output
(analyzeResult.documentResults[0].fields, consumed at
reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:25;
key taxonomy per reference Horus.Generator/quickstart/fields.json: 8 header
keys + Drug/Qty/Unit/Disc/Taxable/Net{NN}).

`extract_fields_columns` runs over a whole chunk of documents at once, on
the flat fragment arrays and the column grid from
operators.layout.infer_grid_columns, and returns the fields as columns.
`extract_fields_arrays` states the same rules for ONE document as a
fields dict: the test oracle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from horus_spark.config import FORMAT_CONFIGS, POSTCODE_RE, TOTALS_LABELS
from horus_spark.operators.layout import (
    is_item_number,
    item_numbers,
    join_runs,
    run_ends,
    run_starts,
    seg_keys,
)


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
    """-> (fields {key: text}, contributing fragment positional ids) for
    ONE document, in plain Python. `configs` overrides the
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
            if is_item_number(t):
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


# ------------------------------------------------------- columnar (kernel)

# a label matches at most one totals prefix, so "the first matching
# prefix whose key is not taken yet" is "the one matching prefix"
assert not any(
    a != b and a.startswith(b) for a, _ in TOTALS_LABELS for b, _ in TOTALS_LABELS
)
_NOT_FOUND = np.iinfo(np.int64).max
# the config's anchor patterns, each with the groups its anchor reads
_PATTERNS = {"inv": 1, "ac_inv": 2, "account_addr": 0, "date_standalone": 0}
# the header scan reads each document's first fragments in windows that
# double: anchors sit near the top (all four within the first 5-6 fragments
# of a generated invoice), so most documents finish in the first
_SCAN_WINDOW = 8


def configs_of_formats(formats: list, configs: dict | None = None) -> list[dict]:
    """Each document format -> its extraction config (the registry's when
    given, else FORMAT_CONFIGS; an unknown format reads as 'abc')."""
    cfg_map = configs if configs is not None else FORMAT_CONFIGS
    return [cfg_map.get(f) or FORMAT_CONFIGS["abc"] for f in formats]


def check_config(cfg: dict) -> None:
    """Raise what reading a document with `cfg` would raise: a pattern
    that does not compile or lacks the groups its anchor reads, or no
    `two_row_items`."""
    for name, groups in _PATTERNS.items():
        if name in cfg and _rx(cfg[name]).groups < groups:
            raise IndexError("no such group")
    bool(cfg["two_row_items"])


def extract_fields_columns(fdoc, fpos, texts, fx0, fy, fx1, grid: dict, cfgs, doc_cfg):
    """L3/L4 for a whole chunk: `extract_fields_arrays`' rules over every
    document at once. Fragments are flat arrays in reading order,
    contiguous per document (`fdoc`), `fpos` the position inside the
    document and `texts` an Arrow string array; `grid` is
    infer_grid_columns' output; document d reads config cfgs[doc_cfg[d]].

    -> (header, lines, used): header maps each header key to an object
    array over documents (None: absent); lines maps each line key prefix
    to (doc, item number, Arrow values) of the keys present, one per
    (doc, number); `used` flags the fragments any field read."""
    n_docs = len(doc_cfg)
    header = {}
    used = np.zeros(len(fdoc), bool)
    for k, cfg in enumerate(cfgs):
        idx = np.flatnonzero(doc_cfg[fdoc] == k)
        if len(idx):
            _header_anchors(
                cfg, idx, fdoc, fpos, texts, fy, grid["table_top"], n_docs, header, used
            )
    _totals(grid["totals"], fdoc, fpos, texts, fx0, fy, fx1, n_docs, header, used)
    two_row = np.array([bool(c["two_row_items"]) for c in cfgs], bool)[doc_cfg]
    lines = _line_items(grid, fdoc, texts, fx0, fy, two_row, used)
    return header, lines, used


def _header_anchors(cfg, idx, fdoc, fpos, texts, fy, table_top, n_docs, header, used):
    """The header scan of the documents whose fragments are `idx`, all
    read by one config. Per fragment the first rule that fires wins; `Inv`
    by its own pattern only while absent (a later match falls through to
    the next rules), the prefix anchors and `ac_inv` overwrite, the
    pattern anchors only fill absent keys; a document's scan stops once
    all four keys are present. Whether a rule fires depends on the state
    only through the first fragment that set each key, so the scan is
    solved by four segmented first-of searches, in dependency order, over
    each document's fragments read so far."""
    pattern = {name: _rx(cfg[name]) for name in _PATTERNS if name in cfg}
    acct_prefix, date_prefix = cfg.get("account_prefix"), cfg.get("date_prefix")
    rx_pc = _rx(POSTCODE_RE)
    gdoc, gpos = fdoc[idx], fpos[idx]
    above = fy[idx] < table_top[gdoc]
    n_frags = np.bincount(gdoc, minlength=n_docs)
    names = (*_PATTERNS, "acct_prefix", "date_prefix", "pc")
    f = {name: np.zeros(len(idx), bool) for name in names}

    def first(mask):
        out = np.full(n_docs, _NOT_FOUND)
        j = np.flatnonzero(mask)
        j = j[run_starts(gdoc[j])]
        out[gdoc[j]] = gpos[j]
        return out

    def solve():
        t_inv = first(f["inv"] | f["ac_inv"])
        r1 = f["inv"] & (gpos == t_inv[gdoc])
        r2 = f["ac_inv"] & ~r1
        r3 = f["acct_prefix"] & ~r1 & ~f["ac_inv"]
        t_acct = first(r2 | r3 | (f["account_addr"] & ~r1 & ~f["ac_inv"]))
        r4 = f["account_addr"] & (gpos <= t_acct[gdoc]) & ~(r1 | r2 | r3)
        rest = ~(r1 | r2 | r3 | r4)
        r5 = f["date_prefix"] & rest
        t_tax = first(r5 | (f["date_standalone"] & rest))
        r6 = f["date_standalone"] & (gpos <= t_tax[gdoc]) & rest & ~r5
        r7 = f["pc"] & rest & ~r5 & ~r6
        t_pc = first(r7)
        r7 &= gpos <= t_pc[gdoc]
        stop = np.maximum.reduce([t_inv, t_acct, t_tax, t_pc])
        return (r1, r2, r3, r4, r5, r6, r7), stop

    read = np.zeros(len(idx), bool)
    done = np.zeros(n_docs, bool)
    window = _SCAN_WINDOW
    while True:
        new = np.flatnonzero(~read & (gpos < window) & ~done[gdoc])
        read[new] = True
        ts = texts.take(idx[new])
        py = ts.to_pylist()
        for name, rx in pattern.items():
            match = rx.match
            f[name][new] = [match(t) is not None for t in py]
        for name, prefix in (("acct_prefix", acct_prefix), ("date_prefix", date_prefix)):
            if prefix:
                f[name][new] = _starts_with(ts, prefix)
        match = rx_pc.match
        f["pc"][new] = [match(t) is not None for t in py]
        for name in ("account_addr", "date_standalone", "pc"):
            f[name][new] &= above[new]
        rules, stop = solve()
        done = (stop < window) | (n_frags <= window)
        if done.all():
            break
        window *= 2

    live = gpos <= stop[gdoc]
    r1, r2, r3, r4, r5, r6, r7 = (r & live for r in rules)
    used[idx] |= r1 | r2 | r3 | r4 | r5 | r6 | r7
    inv, ac_inv = pattern.get("inv"), pattern.get("ac_inv")
    reads = {
        "Inv": [
            (r1, lambda t: inv.match(t).group(1)),
            (r2, lambda t: ac_inv.match(t).group(2)),
        ],
        "AccountNo": [
            (r2, lambda t: ac_inv.match(t).group(1)),
            (r3, lambda t: t[len(acct_prefix):]),
            (r4, lambda t: t),
        ],
        "TaxDate": [(r5, lambda t: t[len(date_prefix):]), (r6, lambda t: t)],
        "PostCode": [(r7, lambda t: "{} {}".format(*rx_pc.match(t).group(1, 2)))],
    }
    for key, rule_reads in reads.items():
        # the last fragment that set the key wins
        j = np.flatnonzero(np.logical_or.reduce([r for r, _ in rule_reads]))
        j = j[run_ends(gdoc[j])]
        values = header.setdefault(key, np.full(n_docs, None, object))
        for r, read_value in rule_reads:
            jr = j[r[j]]
            values[gdoc[jr]] = [read_value(t) for t in texts.take(idx[jr]).to_pylist()]


def _starts_with(texts, prefix: str) -> np.ndarray:
    """str.startswith over an Arrow string array."""
    import pyarrow.compute as pc

    return pc.fill_null(pc.starts_with(texts, prefix), False).to_numpy(zero_copy_only=False)


def _totals(tv, fdoc, fpos, texts, fx0, fy, fx1, n_docs, header, used):
    """Totals: a totals cell registers its TOTALS_LABELS key when the
    ' '-joined texts left of it on its visual row (y within 0.06, in x
    order) start with the key's label; the first such cell per key wins."""
    if not len(tv):
        return
    tdoc = fdoc[tv]
    s = np.lexsort((fy, fdoc))
    kv, klo, khi = seg_keys((fdoc[s], fy[s]), (tdoc, fy[tv] - 0.06), (tdoc, fy[tv] + 0.06))
    lo = np.searchsorted(kv, klo, side="right")
    cnt = np.maximum(np.searchsorted(kv, khi, side="left") - lo, 0)
    cell = np.repeat(np.arange(len(tv)), cnt)
    j = s[np.arange(cnt.sum()) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]
    left = fx1[j] < fx0[tv[cell]]
    cell, j = cell[left], j[left]
    o = np.lexsort((fpos[j], fx0[j], cell))
    cell, j = cell[o], j[o]
    starts = np.flatnonzero(run_starts(cell))
    labels = join_runs(texts.take(j), starts)
    cell = cell[starts]
    kind = np.full(len(cell), -1)
    for k, (prefix, _) in enumerate(TOTALS_LABELS):
        kind[_starts_with(labels, prefix)] = k
    cell, kind = cell[kind >= 0], kind[kind >= 0]
    o = np.lexsort((cell, kind, tdoc[cell]))
    win = o[run_starts(tdoc[cell][o], kind[o])]
    for k, (_, key) in enumerate(TOTALS_LABELS):
        c = cell[win[kind[win] == k]]
        used[tv[c]] = True
        values = header.setdefault(key, np.full(n_docs, None, object))
        values[tdoc[c]] = texts.take(tv[c]).to_pylist()


def _line_items(grid, fdoc, texts, fx0, fy, two_row, used) -> dict:
    """Line items: item rows from each anchor (a single item number in
    column 0) down to the next one are one item; each line key joins its
    column's cells over those rows, in (y, x) order. Two-row formats read
    the description from all but the item's last row, the quantity from
    the last row's description cell. A repeated item number overwrites
    key by key."""
    import pyarrow.compute as pc

    f, row, col = grid["item"], grid["row"], grid["col"]
    n_rows, n_cols = grid["n_rows"], grid["n_cols"]
    idoc = fdoc[f]
    z = np.flatnonzero(col == 0)
    z = z[run_starts(idoc[z], row[z]) & run_ends(idoc[z], row[z])]
    z = z[item_numbers(texts.take(f[z]))]
    if not len(z):
        return {}
    adoc, arow = idoc[z], row[z]
    ano = pc.cast(texts.take(f[z]), "int64").to_numpy()
    width = int(n_rows.max()) + 2
    seg = np.searchsorted(adoc * width + arow, idoc * width + row, side="right") - 1
    inside = seg >= 0
    inside[inside] = adoc[seg[inside]] == idoc[inside]
    last_row = np.where(run_ends(adoc), n_rows[adoc], np.r_[arow[1:], 0] - 1)
    two = two_row[idoc]
    nc = n_cols[idoc]
    reads = {
        "Drug": (1, ~two | (row < last_row[seg])),
        "Qty": (np.where(two, 1, 2), ~two | (row == last_row[seg])),
        "Unit": (np.where(two, 2, 3), True),
        "Disc": (np.where(two, 3, 4), True),
        "Net": (nc - 1, True),
        "Taxable": (np.where(two, np.where(nc >= 6, 4, -1), np.where(nc >= 7, 5, -1)), True),
    }
    pairs = [np.flatnonzero(inside & (col == c) & rows) for c, rows in reads.values()]
    item = np.concatenate(pairs)
    kind = np.repeat(np.arange(len(reads)), [len(p) for p in pairs])
    pseg = seg[item]
    used[f[item]] = True
    o = np.lexsort((item, fx0[f[item]], fy[f[item]], kind, pseg))
    item, kind, pseg = item[o], kind[o], pseg[o]
    starts = np.flatnonzero(run_starts(pseg, kind))
    values = join_runs(texts.take(f[item]), starts)
    kind, pseg = kind[starts], pseg[starts]
    gdoc, gno = adoc[pseg], ano[pseg]
    # the last item with a number wins each key
    o = np.lexsort((pseg, gno, kind, gdoc))
    win = o[run_ends(gdoc[o], kind[o], gno[o])]
    return {
        prefix: (gdoc[w], gno[w], values.take(w))
        for k, prefix in enumerate(reads)
        for w in [win[kind[win] == k]]
    }
