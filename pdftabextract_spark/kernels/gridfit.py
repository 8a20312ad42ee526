"""Grid construction and vectorized textbox->cell assignment.

This is the reference's interval/theta join with argmax selection
(/root/reference/pdftabextract/extract.py:18-117) as a numpy broadcast
kernel: boxes[N,4] x cells[M,4] candidate masks -> normalized intersection
scores -> per-box argmax with the exact reference tie-breaks (max
intersection by float equality, then min center distance, then first cell
in row-major scan order via stable selection).
"""

import numpy as np

from .geom import rectintersect_matrix, rectcenter_dist_matrix


def make_grid_cells(col_positions, row_positions):
    """Cartesian product of adjacent column/row position pairs -> cell
    rect array (R*C, 4) as (l, t, r, b) in row-major order plus the
    (row_idx, col_idx) index arrays. Positions must be sorted ascending
    and strictly increasing (zero-width cells are invalid, matching
    geom.rect validation). Parity: extract.py:18-43."""
    col_positions = np.asarray(col_positions, dtype=float)
    row_positions = np.asarray(row_positions, dtype=float)
    if len(col_positions) == 0:
        raise ValueError("List of column positions is empty.")
    if len(row_positions) == 0:
        raise ValueError("List of row positions is empty.")
    if np.any(np.diff(col_positions) <= 0) or np.any(np.diff(row_positions) <= 0):
        raise ValueError("positions must be strictly increasing")

    n_rows = len(row_positions) - 1
    n_cols = len(col_positions) - 1
    ls = np.tile(col_positions[:-1], n_rows)
    rs = np.tile(col_positions[1:], n_rows)
    ts = np.repeat(row_positions[:-1], n_cols)
    bs = np.repeat(row_positions[1:], n_cols)
    cells = np.stack([ls, ts, rs, bs], axis=1)
    row_idx = np.repeat(np.arange(n_rows), n_cols)
    col_idx = np.tile(np.arange(n_cols), n_rows)
    return cells, row_idx, col_idx


def assign_boxes_to_cells(boxes_ltrb, col_positions, row_positions):
    """For each box (l,t,r,b) find its best grid cell.

    Returns (row_idx, col_idx) int arrays with -1 for unmatched boxes.

    Exact reference semantics (extract.py:46-99):
    * candidate pre-filter: box's y range vs the row interval and x range
      vs the column interval — border *touching* counts as a candidate
      (inclusive <=), parity extract.py:76-83;
    * score = rect intersection normalized by the box area ('b'),
      candidates with score == 0 ("only touch") are discarded
      (extract.py:86);
    * winner = max score by exact float equality; ties -> min center
      distance; remaining ties -> first cell in row-major order
      (stable sort order of the reference's row-major candidate list).
    """
    boxes = np.asarray(boxes_ltrb, dtype=float)
    n = len(boxes)
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)

    cells, row_idx, col_idx = make_grid_cells(col_positions, row_positions)

    rt = cells[:, 1][None, :]  # row top per cell
    rb = cells[:, 3][None, :]
    cl = cells[:, 0][None, :]
    cr = cells[:, 2][None, :]
    bt = boxes[:, 1][:, None]
    bb = boxes[:, 3][:, None]
    bl = boxes[:, 0][:, None]
    br = boxes[:, 2][:, None]

    row_ok = ((rt <= bt) & (bt <= rb)) | ((rt <= bb) & (bb <= rb)) | ((bt <= rt) & (bb >= rb))
    col_ok = ((cl <= bl) & (bl <= cr)) | ((cl <= br) & (br <= cr)) | ((bl <= cl) & (br >= cr))
    candidate = row_ok & col_ok

    scores = rectintersect_matrix(boxes, cells, norm="b")  # NaN where disjoint
    with np.errstate(invalid="ignore"):
        valid = candidate & ~np.isnan(scores) & (scores > 0)

    sc = np.where(valid, scores, -np.inf)
    best_score = sc.max(axis=1)
    matched = best_score > -np.inf

    dists = rectcenter_dist_matrix(boxes, cells)
    # among exact-equality max-score candidates, pick min distance;
    # np.argmin returns the first (row-major) index on ties
    is_best = valid & (sc == best_score[:, None])
    d = np.where(is_best, dists, np.inf)
    pick = np.argmin(d, axis=1)

    out_row = np.where(matched, row_idx[pick], -1).astype(np.int64)
    out_col = np.where(matched, col_idx[pick], -1).astype(np.int64)
    return out_row, out_col
