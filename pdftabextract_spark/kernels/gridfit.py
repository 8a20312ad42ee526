"""Textbox -> grid cell assignment for a whole frame of pages.

This is the reference's interval theta-join with argmax selection
(pdftabextract extract.py:46-117), run over every box of
a frame of complete pages (kernels/pagegroups.iter_page_groups bounds)
at once instead of page by page:

* the candidate test factorizes: a box is a candidate for cell (row, col)
  iff its y range meets the row interval and its x range meets the column
  interval, so it is evaluated on boxes x rows and boxes x cols masks
  against per-page borders padded with NaN (a NaN border fails every
  comparison, so padding is never a candidate);
* only the (row, col) pairs where both hold are scored: rect intersection
  normalized by the box area and the centre distance, elementwise with
  the reference's formulas;
* one lexsort picks each box's cell with the exact reference tie-breaks:
  highest score by float equality, then smallest centre distance, then
  the first cell in row-major order.
"""

import numpy as np


def padded(values, lengths):
    """Every page's values, concatenated in page order, -> the (pages,
    longest) float matrix that holds page i's ``lengths[i]`` values in
    row i, padded with NaN."""
    lengths = np.asarray(lengths, dtype=np.int64)
    out = np.full((len(lengths), lengths.max(initial=0)), np.nan)
    out[np.arange(out.shape[1]) < lengths[:, None]] = values
    return out


def padded_lists(positions):
    """Per-page position arrays -> ``assign_pages``' (matrix, lengths)
    pair."""
    lens = np.fromiter(map(len, positions), dtype=np.int64,
                       count=len(positions))
    return padded(np.concatenate(
        [np.asarray(p, dtype=float) for p in positions]), lens), lens


def assign_pages(bounds, left, top, right, bottom, col_positions,
                 row_positions):
    """Assign every box of a frame to its best grid cell.

    ``bounds`` are the page run bounds of the frame (page i holds rows
    [bounds[i], bounds[i+1])); ``col_positions`` / ``row_positions`` are
    (matrix, lengths) pairs: row i of the matrix holds page i's sorted
    borders in its first lengths[i] entries and NaN after them
    (``padded``; ``padded_lists`` builds the pair from per-page arrays).
    Returns (row_idx, col_idx) per box, -1 for an unmatched box, and
    (n_rows, n_cols) per page.

    Exact reference semantics (extract.py:46-99):
    * candidate pre-filter: the box's y range vs the row interval and x
      range vs the column interval; border *touching* counts (inclusive
      <=), parity extract.py:76-83;
    * score = rect intersection normalized by the box area ('b');
      candidates with score == 0 ("only touch") are discarded
      (extract.py:86);
    * winner = max score by exact float equality; ties -> min center
      distance; remaining ties -> first cell in row-major order.

    Positions must be non-empty and strictly increasing, else the
    ValueError of make_grid_cells (extract.py:18-43)."""
    (cols, n_cp), (rows, n_rp) = col_positions, row_positions
    for lens, what in ((n_cp, "column"), (n_rp, "row")):
        if np.any(lens == 0):
            raise ValueError("List of %s positions is empty." % what)
    with np.errstate(invalid="ignore"):
        if np.any(np.diff(cols, axis=1) <= 0) or \
                np.any(np.diff(rows, axis=1) <= 0):
            raise ValueError("positions must be strictly increasing")

    n = len(left)
    out_row = np.full(n, -1, dtype=np.int64)
    out_col = np.full(n, -1, dtype=np.int64)
    code = np.repeat(np.arange(len(n_cp)), np.diff(bounds))
    bl, bt, br, bb = (np.asarray(a, dtype=float)
                      for a in (left, top, right, bottom))

    with np.errstate(invalid="ignore"):
        pr, pc = rows[code], cols[code]
        rt, rb = pr[:, :-1], pr[:, 1:]
        cl, cr = pc[:, :-1], pc[:, 1:]
        t, b = bt[:, None], bb[:, None]
        l, r = bl[:, None], br[:, None]
        row_ok = ((rt <= t) & (t <= rb)) | ((rt <= b) & (b <= rb)) \
            | ((t <= rt) & (b >= rb))
        col_ok = ((cl <= l) & (l <= cr)) | ((cl <= r) & (r <= cr)) \
            | ((l <= cl) & (r >= cr))

    # every (row, col) pair of each box's candidate rows x candidate
    # columns, in row-major order within the box
    box_r, row_c = np.nonzero(row_ok)
    box_c, col_c = np.nonzero(col_ok)
    n_r = np.bincount(box_r, minlength=n)
    n_c = np.bincount(box_c, minlength=n)
    n_pairs = n_r * n_c
    box = np.repeat(np.arange(n), n_pairs)
    k = np.arange(len(box)) - np.repeat(np.cumsum(n_pairs) - n_pairs,
                                        n_pairs)
    per_box = n_c[box]
    row = row_c[(np.cumsum(n_r) - n_r)[box] + k // per_box]
    col = col_c[(np.cumsum(n_c) - n_c)[box] + k % per_box]

    # geom.rectintersect (norm 'b') and rectcenter_dist per pair
    p = code[box]
    cl, cr = cols[p, col], cols[p, col + 1]
    ct, cb = rows[p, row], rows[p, row + 1]
    l, t, r, b = bl[box], bt[box], br[box], bb[box]
    with np.errstate(invalid="ignore", divide="ignore"):
        dx1, dx2, dy1, dy2 = r - cl, cr - l, b - ct, cb - t
        disjoint = (dx1 < 0) | (dx2 < 0) | (dy1 < 0) | (dy2 < 0)
        raw = np.minimum(np.abs(dx1), np.abs(dx2)) \
            * np.minimum(np.abs(dy1), np.abs(dy2))
        area_box = (r - l) * (b - t)
        area_cell = (cr - cl) * (cb - ct)
        raw = np.minimum(raw, np.minimum(area_box, area_cell))
        score = raw / area_box
        keep = ~disjoint & (score > 0)
    box, row, col, score = box[keep], row[keep], col[keep], score[keep]
    dist = np.hypot((l[keep] + r[keep]) / 2 - (cl[keep] + cr[keep]) / 2,
                    (t[keep] + b[keep]) / 2 - (ct[keep] + cb[keep]) / 2)

    # lexsort is stable, so equal (score, dist) keep row-major order
    order = np.lexsort((dist, -score, box))
    first = order[np.flatnonzero(np.diff(box[order], prepend=-1))]
    out_row[box[first]] = row[first]
    out_col[box[first]] = col[first]
    return out_row, out_col, n_rp - 1, n_cp - 1


def assign_boxes_to_cells(boxes_ltrb, col_positions, row_positions):
    """One page's boxes (N, 4) as (l, t, r, b) -> (row_idx, col_idx) int
    arrays, -1 for unmatched boxes: ``assign_pages`` on a one-page
    frame."""
    boxes = np.asarray(boxes_ltrb, dtype=float)
    n = len(boxes)
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    row_idx, col_idx, _, _ = assign_pages(
        np.array([0, n]), boxes[:, 0], boxes[:, 1], boxes[:, 2],
        boxes[:, 3], padded_lists([col_positions]),
        padded_lists([row_positions]))
    return row_idx, col_idx
