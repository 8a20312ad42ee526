"""kernels/gridfit.assign_pages and kernels/pagegrid.pack_pages against a
per-page dense oracle, Spark-free.

The oracle is the straightforward form of the reference's
fit_texts_into_grid (extract.py:18-117): every box scored against every
cell of its page with boxes x cells broadcasts, then an argmax with the
reference tie-breaks, and the cell texts joined page by page in Python.
The batch kernel scores only each box's candidate cells, for a whole
frame of pages at once, and must agree with it exactly."""

import sys

import numpy as np
import pyarrow as pa
import pytest

from pdftabextract_spark.kernels.gridfit import (
    assign_boxes_to_cells, assign_pages, padded, padded_lists)
from pdftabextract_spark.kernels.pagegrid import pack_pages
from pdftabextract_spark.kernels.pagegroups import iter_page_groups
from pdftabextract_spark.kernels.strings import WHITESPACE


# ---------------------------------------------------------------- oracle

def make_grid_cells(col_positions, row_positions):
    """Cells (R*C, 4) as (l, t, r, b) in row-major order plus their
    (row_idx, col_idx). Parity: extract.py:18-43."""
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
    cells = np.stack([np.tile(col_positions[:-1], n_rows),
                      np.repeat(row_positions[:-1], n_cols),
                      np.tile(col_positions[1:], n_rows),
                      np.repeat(row_positions[1:], n_cols)], axis=1)
    return (cells, np.repeat(np.arange(n_rows), n_cols),
            np.tile(np.arange(n_cols), n_rows))


def rectintersect_matrix(boxes, cells):
    """(N, M) intersection areas normalized by the box area, NaN where
    disjoint (geom.rectintersect with norm 'b')."""
    bl, bt, br, bb = (boxes[:, i][:, None] for i in range(4))
    cl, ct, cr, cb = (cells[:, i][None, :] for i in range(4))
    dx1, dx2, dy1, dy2 = br - cl, cr - bl, bb - ct, cb - bt
    disjoint = (dx1 < 0) | (dx2 < 0) | (dy1 < 0) | (dy2 < 0)
    raw = np.minimum(np.abs(dx1), np.abs(dx2)) * np.minimum(np.abs(dy1), np.abs(dy2))
    area_box = (br - bl) * (bb - bt)
    raw = np.minimum(raw, np.minimum(area_box, (cr - cl) * (cb - ct)))
    return np.where(disjoint, np.nan, raw / area_box)


def rectcenter_dist_matrix(boxes, cells):
    bcx = (boxes[:, 0] + boxes[:, 2])[:, None] / 2
    bcy = (boxes[:, 1] + boxes[:, 3])[:, None] / 2
    ccx = (cells[:, 0] + cells[:, 2])[None, :] / 2
    ccy = (cells[:, 1] + cells[:, 3])[None, :] / 2
    return np.hypot(bcx - ccx, bcy - ccy)


def dense_assign(boxes, col_positions, row_positions):
    """One page, every box against every cell."""
    boxes = np.asarray(boxes, dtype=float)
    cells, row_idx, col_idx = make_grid_cells(col_positions, row_positions)
    rt, rb = cells[:, 1][None, :], cells[:, 3][None, :]
    cl, cr = cells[:, 0][None, :], cells[:, 2][None, :]
    bl, bt, br, bb = (boxes[:, i][:, None] for i in range(4))
    row_ok = ((rt <= bt) & (bt <= rb)) | ((rt <= bb) & (bb <= rb)) | ((bt <= rt) & (bb >= rb))
    col_ok = ((cl <= bl) & (bl <= cr)) | ((cl <= br) & (br <= cr)) | ((bl <= cl) & (br >= cr))
    scores = rectintersect_matrix(boxes, cells)
    valid = row_ok & col_ok & ~np.isnan(scores) & (scores > 0)
    sc = np.where(valid, scores, -np.inf)
    best = sc.max(axis=1)
    d = np.where(valid & (sc == best[:, None]),
                 rectcenter_dist_matrix(boxes, cells), np.inf)
    pick = np.argmin(d, axis=1)  # first (row-major) cell on ties
    matched = best > -np.inf
    return (np.where(matched, row_idx[pick], -1),
            np.where(matched, col_idx[pick], -1))


def pack_page(ltrb, box_id, value, col_positions, row_positions):
    """One page -> (n_rows, n_cols, cells, n_unmatched): join_texts per
    cell (sort by (left, box_id), ' '-join of the non-null values,
    str.strip)."""
    n_rows, n_cols = len(row_positions) - 1, len(col_positions) - 1
    ri, ci = dense_assign(ltrb, col_positions, row_positions)
    cells = [[] for _ in range(n_rows * n_cols)]
    for i in sorted(np.flatnonzero(ri >= 0), key=lambda i: (ltrb[i][0], box_id[i])):
        if value[i] is not None:
            cells[ri[i] * n_cols + ci[i]].append(value[i])
    return (n_rows, n_cols, [" ".join(c).strip() for c in cells],
            int((ri < 0).sum()))


# ---------------------------------------------------------------- frames

def _page(rng, n_rows, n_cols, n_boxes):
    """A random page: integer borders (so touching and equal splits are
    exact), boxes inside, across, on and outside the grid, plus the
    special cases every frame must cover."""
    cols = 20.0 + np.concatenate([[0], np.cumsum(rng.choice([40, 60, 80], n_cols))])
    rows = 30.0 + np.concatenate([[0], np.cumsum(rng.choice([20, 30], n_rows))])
    l = rng.integers(0, int(cols[-1]) + 40, n_boxes).astype(float)
    t = rng.integers(0, int(rows[-1]) + 30, n_boxes).astype(float)
    w = rng.choice([5.0, 10.0, 20.0, 40.0, 90.0, 200.0], n_boxes)
    h = rng.choice([4.0, 10.0, 20.0, 45.0], n_boxes)
    boxes = [np.stack([l, t, l + w, t + h], axis=1)]
    c0, c1, c2 = cols[:3] if n_cols > 1 else (cols[0], cols[1], cols[1] + 40)
    r0, r1 = rows[0], rows[1]
    boxes.append(np.array([
        # split equally between two equal-width cells when c1 - c0 ==
        # c2 - c1: same score, same centre distance -> the first cell
        [c1 - 10, r0 + 2, c1 + 10, r0 + 8],
        # only touches the first column's left border from outside
        [c0 - 15, r0 + 2, c0, r0 + 8],
        # only touches the first row's top border from above
        [c0 + 2, r0 - 10, c0 + 8, r0],
        # outside the grid
        [cols[-1] + 50, rows[-1] + 50, cols[-1] + 60, rows[-1] + 60],
        # spans every row and column
        [c0 - 5, r0 - 5, cols[-1] + 5, rows[-1] + 5],
        # spans two rows within one column
        [c0 + 3, r0 + 3, c1 - 3, r1 + 10],
        # NaN geometry
        [np.nan, r0 + 2, c1 - 2, r0 + 8],
        [c0 + 2, r0 + 2, c1 - 2, np.nan],
        # equal split between two rows of the first column
        [c0 + 2, r1 - 5, c1 - 2, r1 + 5],
    ]))
    boxes = np.concatenate(boxes)
    return boxes[rng.permutation(len(boxes))], cols, rows


def _frame(seed, n_pages=12, nan_bottom_page=3):
    rng = np.random.default_rng(seed)
    pages = []
    for i in range(n_pages):
        n_boxes = 1 if i % 5 == 4 else int(rng.integers(2, 40))
        boxes, cols, rows = _page(rng, int(rng.integers(1, 9)),
                                  int(rng.integers(1, 7)), n_boxes)
        if i % 5 == 4:
            boxes = boxes[:1]  # a one-box page
        if i == nan_bottom_page:
            # a NaN box bottom makes the page's max_bottom border NaN
            rows = rows.copy()
            rows[-1] = np.nan
        pages.append((boxes, cols, rows))
    return pages


def _assign(pages):
    boxes = np.concatenate([b for b, _, _ in pages])
    bounds = np.concatenate([[0], np.cumsum([len(b) for b, _, _ in pages])])
    return assign_pages(bounds, *boxes.T,
                        padded_lists([c for _, c, _ in pages]),
                        padded_lists([r for _, _, r in pages]))


@pytest.mark.parametrize("seed", range(8))
def test_batch_kernel_equals_dense_oracle(seed):
    pages = _frame(seed)
    ri, ci, n_rows, n_cols = _assign(pages)
    want = [dense_assign(b, c, r) for b, c, r in pages]
    np.testing.assert_array_equal(ri, np.concatenate([w[0] for w in want]))
    np.testing.assert_array_equal(ci, np.concatenate([w[1] for w in want]))
    assert n_rows.tolist() == [len(r) - 1 for _, _, r in pages]
    assert n_cols.tolist() == [len(c) - 1 for _, c, _ in pages]
    # the frame mixes grid shapes and exercises every outcome
    assert len({(len(r), len(c)) for _, c, r in pages}) > 1
    assert (ri < 0).any() and (ri >= 0).any()


@pytest.mark.parametrize("seed", range(4))
def test_one_page_call_equals_dense_oracle(seed):
    for boxes, cols, rows in _frame(100 + seed):
        got = assign_boxes_to_cells(boxes, cols, rows)
        want = dense_assign(boxes, cols, rows)
        np.testing.assert_array_equal(got[0], want[0])
        np.testing.assert_array_equal(got[1], want[1])


@pytest.mark.parametrize("seed", range(4))
def test_padded_matrix_input_equals_per_page_lists(seed):
    """assign_pages reads the same grids from a matrix built by hand
    (NaN past each page's borders, wider than the longest page) as from
    per-page lists through padded_lists."""
    pages = _frame(200 + seed)
    boxes = np.concatenate([b for b, _, _ in pages])
    bounds = np.concatenate([[0], np.cumsum([len(b) for b, _, _ in pages])])
    grids = []
    for i in (1, 2):
        lens = np.array([len(p[i]) for p in pages])
        matrix = np.full((len(pages), lens.max() + 3), np.nan)
        for row, p in zip(matrix, pages):
            row[:len(p[i])] = p[i]
        np.testing.assert_array_equal(
            padded(np.concatenate([p[i] for p in pages]), lens),
            matrix[:, :lens.max()])
        grids.append((matrix, lens))
    got = assign_pages(bounds, *boxes.T, *grids)
    for g, w in zip(got, _assign(pages)):
        np.testing.assert_array_equal(g, w)


def test_tie_breaks_and_border_cases():
    cols = np.array([0.0, 10.0, 20.0])
    rows = np.array([0.0, 10.0, 20.0])
    boxes = np.array([
        [5, 2, 15, 8],      # equal split, equal distance -> (0, 0)
        [2, 5, 8, 15],      # equal split between rows -> (0, 0)
        [5, 5, 15, 15],     # four-way tie -> (0, 0)
        [6, 2, 15, 8],      # more in column 1 -> (0, 1)
        [-5, 2, 0, 8],      # only touches the left border -> unmatched
        [20, 2, 25, 8],     # only touches the right border -> unmatched
        [30, 30, 40, 40],   # outside -> unmatched
        [np.nan, 2, 8, 8],  # NaN geometry -> unmatched
        [-5, -5, 25, 25],   # covers every cell, equal scores and
                            # distances -> (0, 0)
    ], dtype=float)
    ri, ci = assign_boxes_to_cells(boxes, cols, rows)
    assert list(zip(ri.tolist(), ci.tolist())) == [
        (0, 0), (0, 0), (0, 0), (0, 1), (-1, -1), (-1, -1), (-1, -1),
        (-1, -1), (0, 0)]
    np.testing.assert_array_equal(ri, dense_assign(boxes, cols, rows)[0])


def test_nan_border_row_matches_nothing():
    """A NaN max_bottom border closes the last row with NaN: that row
    matches no box, like the dense kernel."""
    cols = np.array([0.0, 10.0])
    rows = np.array([0.0, 10.0, np.nan])
    boxes = np.array([[2, 2, 8, 8], [2, 12, 8, 18]], dtype=float)
    ri, _ = assign_boxes_to_cells(boxes, cols, rows)
    assert ri.tolist() == [0, -1]
    assert ri.tolist() == dense_assign(boxes, cols, rows)[0].tolist()


@pytest.mark.parametrize("cols, rows, msg", [
    ([], [0.0, 1.0], "column positions is empty"),
    ([0.0, 1.0], [], "row positions is empty"),
    ([0.0, 2.0, 1.0], [0.0, 1.0], "strictly increasing"),
    ([0.0, 1.0], [0.0, 1.0, 1.0], "strictly increasing"),
])
def test_bad_positions_raise_like_make_grid_cells(cols, rows, msg):
    with pytest.raises(ValueError, match=msg):
        make_grid_cells(cols, rows)
    boxes = np.array([[0.0, 0.0, 1.0, 1.0]])
    with pytest.raises(ValueError, match=msg):
        assign_boxes_to_cells(boxes, cols, rows)
    # one bad page fails the whole frame
    good = ([0.0, 5.0], [0.0, 5.0])
    with pytest.raises(ValueError, match=msg):
        assign_pages(np.array([0, 1, 2]), *np.concatenate([boxes, boxes]).T,
                     padded_lists([good[0], cols]),
                     padded_lists([good[1], rows]))


# ------------------------------------------------------------------ pack

_WORDS = ["a", "b", " c", "d ", "\te", "f\n", "\xa0g", "h\r", "", None, "  "]


def _packed_frame(seed):
    """Pages with values (whitespace and nulls included) and box ids."""
    rng = np.random.default_rng(seed)
    pages = []
    for boxes, cols, rows in _frame(seed):
        n = len(boxes)
        box_id = rng.permutation(n).astype(np.int32)
        value = [_WORDS[i] for i in rng.integers(0, len(_WORDS), n)]
        pages.append((boxes, box_id, value, cols, rows))
    return pages


def _pack_stream(batches):
    """Arrow record batches -> per-page packed tuples through the same
    iterator, assignment and pack the operator runs."""
    out = []
    for batch, bounds in iter_page_groups(batches, "test"):
        col = {c: batch.column(c).to_numpy(zero_copy_only=False)
               for c in ("l", "t", "r", "b", "box_id", "page")}
        first = bounds[:-1]
        grids = batch.column("grid").to_pylist()
        ri, ci, n_rows, n_cols = assign_pages(
            bounds, col["l"], col["t"], col["r"], col["b"],
            padded_lists([grids[i]["cols"] for i in first]),
            padded_lists([grids[i]["rows"] for i in first]))
        cells, n_unmatched = pack_pages(bounds, ri, ci, n_rows, n_cols,
                                        col["l"], col["box_id"],
                                        batch.column("value"))
        out += list(zip(n_rows.tolist(), n_cols.tolist(), cells.to_pylist(),
                        n_unmatched.tolist()))
    return out


@pytest.mark.parametrize("seed", range(6))
def test_pack_pages_equals_per_page_pack_at_random_cuts(seed):
    pages = _packed_frame(seed)
    want = [pack_page(b, i, v, c, r) for b, i, v, c, r in pages]
    rows = [dict(doc_id="d", page=p, l=b[k, 0], t=b[k, 1], r=b[k, 2],
                 b=b[k, 3], box_id=int(i[k]), value=v[k],
                 grid=dict(cols=c.tolist(), rows=r.tolist()))
            for p, (b, i, v, c, r) in enumerate(pages) for k in range(len(b))]
    table = pa.Table.from_pylist(rows)
    rng = np.random.default_rng(seed)
    for _ in range(3):
        cuts = np.sort(rng.choice(np.arange(1, len(rows)), 5, replace=False))
        batches = [table.slice(s, e - s).combine_chunks().to_batches()[0]
                   for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(rows)])]
        assert _pack_stream(batches) == want


def test_pack_pages_skips_null_values_and_strips_unicode_whitespace():
    cols, rows = np.array([0.0, 10.0, 20.0]), np.array([0.0, 10.0])
    boxes = np.array([[1, 1, 2, 2], [3, 1, 4, 2], [11, 1, 12, 2],
                      [13, 1, 14, 2]], dtype=float)
    ri, ci, n_rows, n_cols = assign_pages(np.array([0, 4]), *boxes.T,
                                          padded_lists([cols]),
                                          padded_lists([rows]))
    cells, n_unmatched = pack_pages(
        np.array([0, 4]), ri, ci, n_rows, n_cols, boxes[:, 0],
        np.arange(4), pa.array(["a", None, None, "\t\xa0b\n\r"]))
    assert cells.to_pylist() == [["a", "b"]]
    assert n_unmatched.tolist() == [0]


def test_whitespace_is_exactly_str_isspace():
    every = "".join(map(chr, range(sys.maxunicode + 1)))
    assert WHITESPACE == "".join(c for c in every if c.isspace())
