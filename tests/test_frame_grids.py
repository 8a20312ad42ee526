"""The frame-wide grid build of the text path, Spark-free:
kernels/clustering.repair_pages against a per-page loop over
find_best_matching_array (compared by float hex), and
operators/grid.profile_grids against the per-page build it replaced
(find_best_matching_array, then each page's borders appended one by
one)."""

import math
import tracemalloc
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
import hypothesis.strategies as st

from pdftabextract_spark.kernels import clustering
from pdftabextract_spark.kernels.clustering import (
    find_best_matching_array, repair_pages)
from pdftabextract_spark.kernels.gridfit import padded_lists
from pdftabextract_spark.kernels.pagegrid import profile_pages
from pdftabextract_spark.operators.grid import profile_grids


def per_page(pages, model, thresh):
    """The per-page repair: find_best_matching_array, the model itself
    for a page with no centers."""
    return [find_best_matching_array(np.asarray(p, dtype=float), model,
                                     thresh)[0] if len(p) else model
            for p in pages]


def hexes(rows):
    return [[float(x).hex() for x in row] for row in rows]


def batched(pages, model, thresh, bound=None):
    flat = np.concatenate([np.zeros(0)] + [np.asarray(p, float)
                                           for p in pages])
    lens = [len(p) for p in pages]
    if bound is None:
        return repair_pages(flat, lens, model, thresh)
    with mock.patch.object(clustering, "REPAIR_CHUNK_ELEMENTS", bound):
        return repair_pages(flat, lens, model, thresh)


# repeated values, exact ties (0.1 + 0.2 against 0.3...04), +-inf, NaN
_VALUES = st.one_of(
    st.sampled_from([0.0, -0.0, 1.0, 2.0, 2.5, 3.0, 10.0, -3.0, 0.1, 0.2,
                     0.30000000000000004, 1e16, math.inf, -math.inf,
                     math.nan]),
    st.floats(-1e3, 1e3, allow_nan=False))


@settings(deadline=None, max_examples=300)
@given(model=st.lists(_VALUES, min_size=1, max_size=12),
       pages=st.lists(st.lists(_VALUES, max_size=14), min_size=1,
                      max_size=5),
       thresh=st.sampled_from([None, 0, 2.5]),
       bound=st.sampled_from([1, 7, None]))
def test_repair_pages_equals_per_page_loop(model, pages, thresh, bound):
    model = np.array(model)
    with np.errstate(all="ignore"):
        want = per_page(pages, model, thresh)
        got = batched(pages, model, thresh, bound)
    assert got.shape == (len(pages), len(model))
    assert hexes(got) == hexes(want)


@pytest.mark.parametrize("page, model, thresh, want", [
    # delete 0 and delete 2 both score 0: the first in combinations
    # order wins
    ([0.0, 10.0, 20.0], [0.0, 10.0], None, [10.0, 20.0]),
    # the first candidate's diff is NaN: it stays, although a later one
    # scores 0
    ([1.0, 2.0, math.nan], [0.0, 1.0], None, [2.0, math.nan]),
    # later NaN candidates never win
    ([math.nan, 0.0, 5.0], [0.0, 1.0], None, [0.0, 5.0]),
    # missing centers: the deleted model positions take the offset model
    ([5.0, 25.0], [0.0, 10.0, 20.0], None, [5.0, 15.0, 25.0]),
    # same size, diff 5 over the threshold: the offset model
    ([3.0, 8.0], [0.0, 10.0], 1.0, [3.0, 13.0]),
    ([3.0, 8.0], [0.0, 10.0], None, [3.0, 8.0]),
    # no centers: the model itself, not offset
    ([], [0.0, 10.0], None, [0.0, 10.0]),
])
def test_repair_pages_rules(page, model, thresh, want):
    model = np.array(model)
    got = batched([page, [7.0]], model, thresh)
    assert hexes(got[:1]) == hexes([want])
    assert hexes(got) == hexes(per_page([page, [7.0]], model, thresh))


def test_noisy_page_runs_in_bounded_memory():
    """30 centers against a 6-center model: 593,775 deletion candidates,
    scored REPAIR_CHUNK_ELEMENTS candidate elements at a time. All at
    once they would need 28 MB of candidate values and 114 MB of
    deletion indices."""
    rng = np.random.default_rng(30)
    page = np.sort(rng.uniform(0, 500, 30))
    model = np.array([0.0, 80.0, 160.0, 240.0, 320.0, 400.0])
    assert math.comb(30, 24) == 593775
    tracemalloc.start()
    try:
        got = repair_pages(page, [30], model)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 16 * 2 ** 20
    assert hexes(got) == hexes([find_best_matching_array(page, model)[0]])


def test_empty_model_raises_for_a_page_with_centers():
    assert repair_pages([], [0, 0], []).shape == (2, 0)
    with pytest.raises(ValueError, match="model_arr length"):
        repair_pages([1.0], [1], [])


# ------------------------------------------------------------ grid build

def _boxes(seed, n_pages=40):
    """A frame of pages whose column count varies around the model's,
    with jittered lefts and tops, repeated values and one NaN extent."""
    rng = np.random.default_rng(seed)
    sizes = rng.integers(1, 30, n_pages)
    n = int(sizes.sum())
    cols = rng.integers(0, 9, n) * 100.0 + rng.choice([0.0, 3.0, 7.5], n)
    rows = rng.integers(0, 12, n) * 40.0 + rng.choice([0.0, 2.0], n)
    right = cols + rng.uniform(10, 60, n)
    bottom = rows + rng.uniform(5, 20, n)
    bottom[3] = np.nan
    return np.concatenate([[0], np.cumsum(sizes)]), cols, rows, right, bottom


def _per_page_grids(bounds, l, t, r, b, model, cbd, rbd, pad_x, pad_y,
                    thresh):
    """The per-page build profile_grids replaced: each page's centers
    repaired by find_best_matching_array and its borders appended."""
    (cols, col_lens), (tops, top_lens), max_r, max_b = profile_pages(
        bounds, l, t, r, b, cbd, rbd)
    col_pos, row_pos = [], []
    for c, rw, mr, mb in zip(np.split(cols, np.cumsum(col_lens)[:-1]),
                             np.split(tops, np.cumsum(top_lens)[:-1]),
                             max_r, max_b):
        fixed = find_best_matching_array(c, model, thresh)[0]
        col_pos.append(np.append(fixed - pad_x,
                                 np.fmax(mr + pad_x, fixed[-1] + 2 * pad_x)))
        row_pos.append(np.append(rw - pad_y, mb + pad_y))
    return padded_lists(col_pos), padded_lists(row_pos)


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("thresh", [None, 50.0])
def test_profile_grids_equals_per_page_build(seed, thresh):
    bounds, l, t, r, b = _boxes(seed)
    model = np.array([0.0, 100.0, 200.0, 300.0, 400.0])
    grids = profile_grids(model, 40.0, 15.0, 10.0, 8.0, thresh)
    got = grids(None, bounds, l, t, r, b)
    want = _per_page_grids(bounds, l, t, r, b, model, 40.0, 15.0, 10.0,
                           8.0, thresh)
    for (gm, gl), (wm, wl) in zip(got, want):
        assert gm.tobytes() == wm.tobytes()
        assert gl.tolist() == wl.tolist()
    # the frame mixes pages with missing, surplus and exact centers
    lens = profile_pages(bounds, l, t, r, b, 40.0, 15.0)[0][1]
    assert {np.sign(n - len(model)) for n in lens} == {-1, 0, 1}


def test_profile_pages_rejects_a_page_without_boxes():
    x = np.array([0.0, 1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="3 pages in bounds, 2 with boxes"):
        profile_pages(np.array([0, 2, 2, 4]), x, x, x + 1, x + 1, 5.0, 5.0)
