"""Per-page grid math shared by the text-path Arrow kernels.

Spark-free numpy functions over the frames that
kernels/pagegroups.iter_page_groups hands out (``bounds`` = page run
bounds of the frame):

* ``profile_pages``  column cluster medians, row cluster min tops and the
  page extents of every page in a frame (operators/clustering.page_profiles);
* ``page_borders``   repaired centers + profile -> column and row borders;
* ``pack_page``      assign one page's boxes and join each cell's texts
  (operators/grid.pack_joined).

operators/grid.profile_and_pack chains all three per page.
"""

import numpy as np

from .gridfit import assign_boxes_to_cells


def _segments(vals_sorted, page_codes_sorted, dist):
    """Sorted-within-page values -> (seg_start, seg_end) bounds where a
    segment breaks on page change or gap >= dist."""
    n = len(vals_sorted)
    brk = np.empty(n, dtype=bool)
    brk[0] = True
    if n > 1:
        brk[1:] = ((page_codes_sorted[1:] != page_codes_sorted[:-1])
                   | (np.diff(vals_sorted) >= dist))
    starts = np.flatnonzero(brk)
    ends = np.append(starts[1:], n)
    return starts, ends


def _per_page_clusters(vals, codes, dist, center):
    """Break-dist clusters of ``vals`` within each page -> one sorted
    array of cluster centers per page, in page order."""
    order = np.lexsort((vals, codes))
    sv = vals[order]
    sp = codes[order]
    s, e = _segments(sv, sp, dist)
    if center == "median":
        # exact numpy-median of each sorted segment
        cvals = (sv[(s + e - 1) // 2] + sv[(s + e) // 2]) / 2.0
    else:  # min
        cvals = sv[s]
    seg_page = sp[s]
    # segments are page-ordered; split into per-page lists
    cuts = np.flatnonzero(np.concatenate(
        [[True], seg_page[1:] != seg_page[:-1]]))
    return np.split(cvals, cuts[1:])


def profile_pages(bounds, left, top, right, bottom,
                  col_break_dist, row_break_dist):
    """Profile every page of a frame, fully vectorized (lexsort by (page,
    value); segment medians picked by index arithmetic on the sorted
    values — no per-cluster Python loop). Returns per page, in frame
    order:

      col_centers  sorted break-dist cluster medians of box lefts
                   (exact percentile-0.5 parity: sorted-midpoint mean)
      row_tops     sorted break-dist cluster MIN tops
      max_right, max_bottom  page extents
    """
    page_starts = bounds[:-1]
    codes = np.repeat(np.arange(len(page_starts)), np.diff(bounds))
    col_centers = _per_page_clusters(left, codes, col_break_dist, "median")
    row_tops = _per_page_clusters(top, codes, row_break_dist, "min")
    assert len(col_centers) == len(row_tops) == len(page_starts)
    return (col_centers, row_tops,
            np.maximum.reduceat(right, page_starts),
            np.maximum.reduceat(bottom, page_starts))


def page_borders(centers_fixed, row_tops, max_right, max_bottom,
                 pad_x, pad_y):
    """Column border = each repaired center - pad_x, closed by a right
    border safely past the last column (max box right + pad_x, but at
    least last center + 2*pad_x); row border = each cluster min top -
    pad_y, closed by max bottom + pad_y. ``fmax`` skips a NaN extent the
    way SQL ``greatest`` skips a null."""
    cols = np.append(centers_fixed - pad_x,
                     np.fmax(max_right + pad_x, centers_fixed[-1] + 2 * pad_x))
    rows = np.append(row_tops - pad_y, max_bottom + pad_y)
    return cols, rows


def pack_page(left, top, right, bottom, box_id, value,
              col_positions, row_positions):
    """One page's boxes -> (n_rows, n_cols, cells, n_unmatched): ``cells``
    is the row-major list of cell texts, '' for an empty cell. Cell-text
    parity: join_texts (sort by (left, box_id), ' '-join, strip —
    textboxes.py:154-162)."""
    n_rows, n_cols = len(row_positions) - 1, len(col_positions) - 1
    ltrb = np.stack([left, top, right, bottom], axis=1)
    ri, ci = assign_boxes_to_cells(ltrb, col_positions, row_positions)
    matched = ri >= 0
    cell_idx = ri[matched] * n_cols + ci[matched]
    cells = [""] * (n_rows * n_cols)
    if cell_idx.size:
        ordc = np.lexsort((box_id[matched], left[matched], cell_idx))
        ci_sorted = cell_idx[ordc]
        v_sorted = value[matched][ordc]
        cuts = np.flatnonzero(np.concatenate(
            [[True], ci_sorted[1:] != ci_sorted[:-1], [True]]))
        for cs, ce in zip(cuts[:-1], cuts[1:]):
            cells[int(ci_sorted[cs])] = " ".join(
                str(v) for v in v_sorted[cs:ce]).strip()
    return n_rows, n_cols, cells, int((~matched).sum())
