"""Page grid math shared by the text-path Arrow kernels.

Spark-free numpy/pyarrow functions over the frames that
kernels/pagegroups.iter_page_groups hands out (``bounds`` = page run
bounds of the frame):

* ``profile_pages``  column cluster medians, row cluster min tops and the
  page extents of every page in a frame (operators/clustering.page_profiles);
* ``normalized_column_centers``  every page's column centers shifted to
  start at 0: the span path's model-fit pool (plans/pipeline);
* ``grid_borders``   repaired centers (kernels/clustering.repair_pages)
  + profiles -> every page's column and row borders as NaN-padded
  matrices (kernels/gridfit.assign_pages' input);
* ``pack_pages``     a frame's assigned boxes (kernels/gridfit.assign_pages)
  -> each page's cell texts, every page in one join (operators/grid).

operators/grid.profile_grids chains profile_pages, repair_pages and
grid_borders, each once per frame with no per-page Python loop;
operators/grid.pack_frame then assigns and packs the frame at once.
"""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .gridfit import padded
from .strings import WHITESPACE


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


def _page_clusters(vals, codes, dist, center):
    """Break-dist clusters of ``vals`` within each page -> (centers,
    lengths): every page's sorted cluster centers, concatenated in page
    order, and each page's number of centers."""
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
    firsts = np.flatnonzero(np.concatenate(
        [[True], seg_page[1:] != seg_page[:-1]]))
    return cvals, np.diff(np.append(firsts, len(cvals)))


def _page_codes(bounds):
    return np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))


def normalized_column_centers(bounds, left, col_break_dist):
    """Every page's column centers (``profile_pages``' col_centers) minus
    the page's first center, concatenated: the pooled values the corpus
    column model is fit on. A NaN center or first center gives NaN, as a
    null does in Spark's ``c - element_at(col_centers, 1)``."""
    cvals, lens = _page_clusters(left, _page_codes(bounds),
                                 col_break_dist, "median")
    return cvals - np.repeat(cvals[np.cumsum(lens) - lens], lens)


def profile_pages(bounds, left, top, right, bottom,
                  col_break_dist, row_break_dist):
    """Profile every page of a frame, fully vectorized (lexsort by (page,
    value); segment medians picked by index arithmetic on the sorted
    values — no per-cluster Python loop). Returns, in frame order:

      (col_centers, col_lens)  every page's sorted break-dist cluster
                   medians of box lefts (exact percentile-0.5 parity:
                   sorted-midpoint mean), concatenated, and their count
                   per page
      (row_tops, row_lens)     the same for the cluster MIN tops
      max_right, max_bottom    page extents

    Every page of ``bounds`` must hold at least one box."""
    page_starts = bounds[:-1]
    codes = _page_codes(bounds)
    cols = _page_clusters(left, codes, col_break_dist, "median")
    rows = _page_clusters(top, codes, row_break_dist, "min")
    if len(cols[1]) != len(page_starts):
        raise ValueError("profile_pages: %d pages in bounds, %d with boxes"
                         % (len(page_starts), len(cols[1])))
    return (cols, rows, np.maximum.reduceat(right, page_starts),
            np.maximum.reduceat(bottom, page_starts))


def grid_borders(centers_fixed, row_tops, row_lens, max_right, max_bottom,
                 pad_x, pad_y):
    """Every page's column and row borders, each as kernels/gridfit's
    (NaN-padded matrix, lengths) pair. ``centers_fixed`` is the
    (pages, n) matrix of repaired centers
    (kernels/clustering.repair_pages); ``row_tops`` / ``row_lens`` are
    ``profile_pages``' row clusters. Column border = each repaired center
    - pad_x, closed by a right border safely past the last column (max
    box right + pad_x, but at least last center + 2*pad_x); row border =
    each cluster min top - pad_y, closed by max bottom + pad_y. ``fmax``
    skips a NaN extent the way SQL ``greatest`` skips a null."""
    cols = np.column_stack([
        centers_fixed - pad_x,
        np.fmax(max_right + pad_x, centers_fixed[:, -1] + 2 * pad_x)])
    rows = np.insert(row_tops - pad_y, np.cumsum(row_lens),
                     max_bottom + pad_y)
    return ((cols, np.full(len(cols), cols.shape[1])),
            (padded(rows, row_lens + 1), row_lens + 1))


def pack_pages(bounds, row_idx, col_idx, n_rows, n_cols, left, box_id,
               value):
    """A frame's assigned boxes (kernels/gridfit.assign_pages) -> (cells,
    n_unmatched) per page: ``cells`` is a pyarrow list<string> array of
    each page's row-major cell texts, '' for an empty cell. ``value`` is
    a pyarrow string array.

    Cell-text parity: join_texts (sort by (left, box_id), ' '-join,
    strip every str.isspace character — textboxes.py:154-162). A null
    ``value`` is skipped like array_join skips it in
    operators/grid.cell_texts; a cell holding only nulls is ''. All
    pages go through one lexsort over a global cell index and one
    ``binary_join``."""
    n_cells = np.asarray(n_rows, dtype=np.int64) * n_cols
    cell_start = np.concatenate([[0], np.cumsum(n_cells)])
    code = np.repeat(np.arange(len(n_cells)), np.diff(bounds))
    matched = row_idx >= 0
    n_unmatched = np.bincount(code[~matched], minlength=len(n_cells))

    idx = np.flatnonzero(
        matched & value.is_valid().to_numpy(zero_copy_only=False))
    cell = cell_start[code[idx]] + row_idx[idx] * n_cols[code[idx]] \
        + col_idx[idx]
    order = np.lexsort((box_id[idx], left[idx], cell))
    cell = cell[order]
    starts = np.flatnonzero(np.diff(cell, prepend=-1))
    joined = pc.utf8_trim(pc.binary_join(pa.ListArray.from_arrays(
        pa.array(np.append(starts, len(cell)), pa.int32()),
        value.take(pa.array(idx[order]))), " "), WHITESPACE)
    slot = np.full(cell_start[-1], len(starts))
    slot[cell[starts]] = np.arange(len(starts))
    flat = pa.concat_arrays([joined, pa.array([""])]).take(pa.array(slot))
    return (pa.ListArray.from_arrays(pa.array(cell_start, pa.int32()), flat),
            n_unmatched)
