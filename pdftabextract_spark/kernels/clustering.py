"""1-D clustering and grid-model-fitting kernels.

Numeric semantics match /root/reference/pdftabextract/clustering.py (cited
per function), re-derived as vectorized numpy. These kernels are used three
ways: (a) directly in pytest (they carry the ported reference test suite),
(b) inside Arrow-batched pandas UDF stages, (c) on the driver for the tiny
corpus-level model fit (pooled centers are at most pages x columns floats).
"""

import itertools

import numpy as np

from .stats import chisquare


def find_clusters_1d_break_dist(vals, dist_thresh):
    """Sort values, break into clusters wherever the gap between adjacent
    sorted values is >= dist_thresh (strict >= — parity: clustering.py:46).

    Returns a list of np.ndarray of *original indices* into ``vals``; each
    cluster's indices are ordered by sorted position. Empty input -> [].
    Parity: clustering.py:23-55.
    """
    if type(vals) is not np.ndarray:
        raise TypeError("vals must be a NumPy array")
    if dist_thresh < 0:
        raise ValueError("dist_thresh must be positive")

    n = len(vals)
    if n == 0:
        return []

    order = np.argsort(vals, kind="stable")
    svals = vals[order]
    # break before position i when svals[i] - svals[i-1] >= dist_thresh
    breaks = np.flatnonzero(np.diff(svals) >= dist_thresh) + 1
    return [np.array(chunk) for chunk in np.split(order, breaks)]


def break_dist_cluster_ids(vals, dist_thresh):
    """Vectorized variant returning a cluster-id per element (ids assigned
    in ascending-value order), for columnar pipelines. Same break semantics
    as :func:`find_clusters_1d_break_dist`."""
    vals = np.asarray(vals)
    n = len(vals)
    if n == 0:
        return np.array([], dtype=np.int64)
    order = np.argsort(vals, kind="stable")
    svals = vals[order]
    new_cluster = np.empty(n, dtype=np.int64)
    new_cluster[0] = 0
    new_cluster[1:] = (np.diff(svals) >= dist_thresh).astype(np.int64)
    ids_sorted = np.cumsum(new_cluster)
    ids = np.empty(n, dtype=np.int64)
    ids[order] = ids_sorted
    return ids


def find_clusters_1d_hierarchical(vals, t, method="single",
                                  criterion="inconsistent", depth=2):
    """Hierarchical agglomerative clustering of 1-D values (scipy is
    unavailable; native implementation of the fclusterdata surface the
    reference forwards kwargs to — clustering.py:58-72).

    ``method``: 'single' | 'complete' | 'average';
    ``criterion``: 'inconsistent' (the scipy ``fclusterdata`` default: a
    subtree stays one flat cluster iff every link in it has
    inconsistency coefficient <= t, where the coefficient of a link is
    (height - mean) / std over the link heights within ``depth`` levels
    below it, 0 when the std is 0)
    | 'distance' (flat clusters at cophenetic distance <= t)
    | 'maxclust' (merge until at most t clusters).

    For 1-D data every agglomerative merge under these linkages joins
    ADJACENT sorted intervals (for intervals A < B < C:
    single dist(A,C) = minC - maxA > minB - maxA; complete uses the span
    maxC - minA > maxB - minA; average reduces to the centroid gap
    meanC - meanA > meanB - meanA), so clusters stay contiguous in value
    order and the greedy merge runs over adjacent-pair distances only.
    single+distance short-circuits to the exact gap-split form (the
    cophenetic distance of a single-linkage chain is its max gap).
    Property-tested against a brute-force full-matrix agglomerative
    oracle (tests/test_kernels_clustering.py). Cluster ordering follows
    ascending value, matching the np.unique(ind) relabel for 1-D data;
    ties merge the leftmost minimal pair.
    """
    vals = np.asarray(vals, dtype=float)
    n = len(vals)
    if n == 0:
        return []
    if method not in ("single", "complete", "average"):
        raise NotImplementedError("unsupported linkage method %r" % method)
    if criterion not in ("distance", "maxclust", "inconsistent"):
        raise NotImplementedError("unsupported criterion %r" % criterion)
    order = np.argsort(vals, kind="stable")
    svals = vals[order]

    if method == "single" and criterion == "distance":
        breaks = np.flatnonzero(np.diff(svals) > t) + 1  # strict >: gap<=t merges
        return [np.sort(chunk) for chunk in np.split(order, breaks)]

    bounds = [(i, i + 1) for i in range(n)]  # [start, end) runs over svals

    def dist(a, b):
        if method == "single":
            return svals[b[0]] - svals[a[1] - 1]
        if method == "complete":
            return svals[b[1] - 1] - svals[a[0]]
        return float(svals[b[0]:b[1]].mean() - svals[a[0]:a[1]].mean())

    # adjacent-pair distances maintained incrementally: a merge only
    # changes the two distances touching the merged interval (others
    # depend solely on their own unchanged intervals), so the loop does
    # O(1) dist() calls per merge instead of rebuilding the whole list
    dists = [dist(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
    if criterion == "inconsistent":
        return _fcluster_inconsistent(order, bounds, dists, dist, t, depth)
    while len(bounds) > 1:
        if criterion == "maxclust" and len(bounds) <= t:
            break
        i = int(np.argmin(dists))  # leftmost minimal pair on ties
        if criterion == "distance" and dists[i] > t:
            break
        bounds[i] = (bounds[i][0], bounds[i + 1][1])
        del bounds[i + 1]
        del dists[i]
        if i > 0:
            dists[i - 1] = dist(bounds[i - 1], bounds[i])
        if i < len(bounds) - 1:
            dists[i] = dist(bounds[i], bounds[i + 1])
    return [np.sort(order[s:e]) for s, e in bounds]


def _fcluster_inconsistent(order, bounds, dists, dist, t, depth):
    """scipy ``fcluster(criterion='inconsistent')`` semantics over the
    1-D adjacent-merge linkage: run the merges to completion recording
    the tree, compute each link's inconsistency coefficient
    (height - mean) / std over the link heights within ``depth`` levels
    below-and-including it (population std; 0 when the window has no
    spread — a link over two leaves is always coefficient 0), then cut
    into the MAXIMAL subtrees whose links all have coefficient <= t.
    Clusters stay contiguous in value order, emitted ascending."""
    n = len(bounds)
    if n == 1:
        return [np.sort(order)]
    node_of = list(range(n))   # current node id per interval; links get n+j
    children = []              # per link j: (left child id, right child id)
    heights = []               # per link j: merge height
    spans = {}                 # link id -> (s, e) over sorted values
    while len(bounds) > 1:
        i = int(np.argmin(dists))      # leftmost minimal pair on ties
        lid = n + len(children)
        children.append((node_of[i], node_of[i + 1]))
        heights.append(float(dists[i]))
        bounds[i] = (bounds[i][0], bounds[i + 1][1])
        spans[lid] = bounds[i]
        del bounds[i + 1]
        node_of[i] = lid
        del node_of[i + 1]
        del dists[i]
        if i > 0:
            dists[i - 1] = dist(bounds[i - 1], bounds[i])
        if i < len(bounds) - 1:
            dists[i] = dist(bounds[i], bounds[i + 1])

    m = len(heights)
    coef = np.zeros(m)
    for j in range(m):
        window = []
        frontier = [(n + j, 1)]
        while frontier:
            node, lvl = frontier.pop()
            if node < n:
                continue
            window.append(heights[node - n])
            if lvl < depth:
                a, b = children[node - n]
                frontier.append((a, lvl + 1))
                frontier.append((b, lvl + 1))
        w = np.asarray(window)
        sd = w.std()
        coef[j] = 0.0 if sd == 0 else (heights[j] - w.mean()) / sd

    # subtree max coefficient: links are created children-before-parents,
    # so one forward pass folds descendants in
    mono = coef.copy()
    for j in range(m):
        for c in children[j]:
            if c >= n:
                mono[j] = max(mono[j], mono[c - n])

    out_spans = []
    stack = [n + m - 1]   # root is the last link
    while stack:
        node = stack.pop()
        if node < n:
            out_spans.append((node, node + 1))   # singleton leaf
        elif mono[node - n] <= t:
            out_spans.append(spans[node])
        else:
            a, b = children[node - n]
            stack.append(b)
            stack.append(a)    # left popped first -> ascending value order
    return [np.sort(order[s:e]) for s, e in out_spans]


def zip_clusters_and_values(clusters, values):
    """Pair cluster index arrays with their value arrays.
    Parity: clustering.py:370-385."""
    if type(values) is not np.ndarray:
        raise TypeError("values must be a NumPy array")
    return [(c_ind, values[c_ind]) for c_ind in clusters]


def calc_cluster_centers_1d(clusters_w_vals, method=np.median):
    """Cluster centers via ``method`` (exact numpy median by default — even
    counts average the middle two). Parity: clustering.py:388-394."""
    return [method(vals) for _, vals in clusters_w_vals]


def array_match_difference_1d(a, b):
    """Summed absolute elementwise difference (L1).
    Parity: clustering.py:397-410."""
    if len(a) != len(b):
        raise ValueError("Both arrays must have the same length")
    if len(a) == 0:
        raise ValueError("Arrays must be filled")
    a = np.asarray(a)
    b = np.asarray(b)
    return np.sum(np.abs(a - b))


def fill_array_a_with_values_from_b(a, b, fill_indices):
    """Interleave: build an array of len(b) taking b's values at
    ``fill_indices`` and a's values (in order) elsewhere.
    Parity: /root/reference/pdftabextract/common.py:362-391."""
    if type(a) is not np.ndarray:
        raise TypeError("'a' must be NumPy array")
    if type(b) is not np.ndarray:
        raise TypeError("'b' must be NumPy array")
    if len(fill_indices) != len(b) - len(a):
        raise ValueError("Invalid number of indices")

    fill_set = list(fill_indices)
    out = []
    j = 0  # position in fill_set
    k = 0  # position in a
    for i in range(len(b)):
        if j < len(fill_set) and i == fill_set[j]:
            out.append(b[fill_set[j]])
            j += 1
        else:
            out.append(a[k])
            k += 1
    return np.array(out)


def find_best_matching_array(base_arr, model_arr, same_size_use_model_arr_diff_thresh=None):
    """Repair ``base_arr`` against a normalized ``model_arr`` (model starts
    at 0; base's first element is the offset): brute-force over surplus
    deletions / missing insertions, minimizing L1 difference; ties resolve
    to the first candidate in itertools.combinations order (Python sort
    stability). Returns (best_arr, diffsum).
    Parity: clustering.py:413-519 incl. golden examples
    tests/test_clustering.py:143-170.
    """
    if type(base_arr) is not np.ndarray:
        raise TypeError("base_arr must be NumPy array")
    if type(model_arr) is not np.ndarray:
        raise TypeError("model_arr must be NumPy array")
    if len(base_arr) < 1:
        raise ValueError("base_arr length must be > 0")
    if len(model_arr) < 1:
        raise ValueError("model_arr length must be > 0")

    surplus = len(base_arr) - len(model_arr)

    if surplus > 0:
        # try deleting every combination of surplus elements from base
        best_arr, diff = None, None
        for del_ind in itertools.combinations(range(len(base_arr)), surplus):
            cand = np.delete(base_arr, del_ind)
            d = array_match_difference_1d(cand, model_arr + cand[0])
            if diff is None or d < diff:
                best_arr, diff = cand, d
    elif surplus < 0:
        # delete from the model instead; best deletion set tells us which
        # model positions to splice into base
        best_del, best_d = None, None
        for del_ind in itertools.combinations(range(len(model_arr)), -surplus):
            cand = np.delete(model_arr, del_ind)
            d = array_match_difference_1d(cand + base_arr[0], base_arr)
            if best_d is None or d < best_d:
                best_del, best_d = del_ind, d
        model_w_offset = model_arr + base_arr[0]
        best_arr = fill_array_a_with_values_from_b(base_arr, model_w_offset, best_del)
        diff = array_match_difference_1d(best_arr, model_w_offset)
    else:
        best_arr = base_arr.copy()
        diff = array_match_difference_1d(base_arr, model_arr + base_arr[0])

    if same_size_use_model_arr_diff_thresh is not None and diff > same_size_use_model_arr_diff_thresh:
        best_arr = model_arr + base_arr[0]
        diff = 0

    return best_arr, diff


# candidate elements (pages x candidates x candidate length) that
# repair_pages scores at once: a noisy page (30 centers against a
# 6-center model, 593,775 candidates) runs in bounded memory
REPAIR_CHUNK_ELEMENTS = 1 << 18


def _first_best(n_pages, n, n_del, score):
    """Each page's winner of find_best_matching_array's search over
    ``combinations(range(n), n_del)``: the first candidate, replaced only
    by a strictly smaller diff (a NaN first diff stays, a later NaN never
    wins). ``score(pages, keep)`` gives a slice of pages' diffs against a
    chunk of candidates, each the row of indices it keeps. Returns every
    page's kept indices and diff."""
    combos = itertools.combinations(range(n), n_del)
    per = max(1, REPAIR_CHUNK_ELEMENTS // n)
    best_d = np.empty(n_pages)
    best_keep = np.empty((n_pages, n - n_del), dtype=np.int64)
    for chunk in itertools.count():
        dels = np.fromiter(itertools.chain.from_iterable(
            itertools.islice(combos, per)), dtype=np.int64).reshape(-1, n_del)
        if not len(dels):
            return best_keep, best_d
        keep = np.ones((len(dels), n), dtype=bool)
        keep[np.arange(len(dels))[:, None], dels] = False
        keep = np.nonzero(keep)[1].reshape(len(dels), n - n_del)
        step = max(1, REPAIR_CHUNK_ELEMENTS // keep.size)
        for lo in range(0, n_pages, step):
            sl = slice(lo, lo + step)
            d = score(sl, keep)
            if chunk == 0:
                best_d[sl], best_keep[sl] = d[:, 0], keep[0]
            d = np.where(np.isnan(d), np.inf, d)
            j = np.argmin(d, axis=1)
            win = d[np.arange(len(j)), j] < best_d[sl]
            best_d[sl][win] = d[win, j[win]]
            best_keep[sl][win] = keep[j[win]]


def repair_pages(centers, lengths, model, thresh=None):
    """Every page's centers (concatenated in page order, ``lengths`` per
    page) -> the (pages, len(model)) matrix whose row i is
    ``find_best_matching_array(page i, model, thresh)``'s array, bit for
    bit; a page with no centers takes the model itself. The pages of
    each center count score all their deletion candidates at once, at
    most ``REPAIR_CHUNK_ELEMENTS`` candidate elements at a time."""
    model = np.asarray(model, dtype=float)
    centers = np.asarray(centers, dtype=float)
    lengths = np.asarray(lengths, dtype=np.int64)
    k = len(model)
    if k == 0 and lengths.any():
        raise ValueError("model_arr length must be > 0")
    out = np.tile(model, (len(lengths), 1))
    starts = np.cumsum(lengths) - lengths
    for n in np.unique(lengths[lengths > 0]):
        pages = np.flatnonzero(lengths == n)
        base = centers[starts[pages, None] + np.arange(n)]
        offset = model + base[:, :1]
        if n > k:
            # delete n - k centers; a candidate's diff is against the
            # model offset by its own first center
            def score(sl, keep):
                cand = base[sl][:, keep]
                return np.sum(np.abs(cand - (model + cand[..., :1])), -1)
            keep, diff = _first_best(len(pages), n, n - k, score)
            fixed = np.take_along_axis(base, keep, axis=1)
        elif n < k:
            # delete k - n model positions; the kept ones take the
            # page's centers, the deleted ones the offset model
            def score(sl, keep):
                return np.sum(np.abs((model[keep] + base[sl][:, :1, None])
                                     - base[sl][:, None, :]), -1)
            keep, _ = _first_best(len(pages), k, k - n, score)
            fixed = offset.copy()
            np.put_along_axis(fixed, keep, base, axis=1)
            diff = np.sum(np.abs(fixed - offset), -1)
        else:
            fixed, diff = base, np.sum(np.abs(base - offset), -1)
        if thresh is not None:
            fixed = np.where((diff > thresh)[:, None], offset, fixed)
        out[pages] = fixed
    return out


def fit_center_model(centers_norm_clusters, n_required_clusters):
    """Phase 2 of the corpus column-model fit: from pooled normalized
    per-page centers already clustered (list of (indices, values) tuples
    in ascending-value order), iteratively pick cluster medians from the
    most-populous clusters down until exactly ``n_required_clusters``
    medians are kept; degrade to all medians when too few clusters exist.
    Sequential-stateful by design — runs on the driver over the pooled
    array. Parity: clustering.py:111-140.

    The reference's loop (clustering.py:120-136) counts min_n_values down
    from the LARGEST cluster size, appending each pass's still-unseen
    cluster medians in list order and removing appended clusters. With
    static lengths/medians this is exactly: visit clusters in decreasing
    length (stable on list order), skip duplicate median VALUES, stop at
    n_required. The direct loop is O(max_len x clusters x median) — max_len
    is the page count, so we run the equivalent O(C log C) form
    (equivalence property-tested against a direct port in
    tests/test_kernels_clustering.py).

    Raises ``ValueError`` when there are at least ``n_required_clusters``
    clusters but fewer distinct medians (dist_thresh 0 puts each repeated
    center in a cluster of its own).
    """
    summaries = [(len(vals), np.median(vals))
                 for _, vals in centers_norm_clusters]
    if len(summaries) < n_required_clusters:
        return np.array(sorted(m for _n, m in summaries)), False

    pre = [(n, i, m) for i, (n, m) in enumerate(summaries)]
    pre.sort(key=lambda x: (-x[0], x[1]))
    medians = []
    for _length, _i, m in pre:
        if m not in medians:
            medians.append(m)
        if len(medians) == n_required_clusters:
            break

    if len(medians) != n_required_clusters:
        raise ValueError(
            "column model: %d clusters required, but the pooled centers "
            "have only %d distinct cluster medians"
            % (n_required_clusters, len(medians)))
    return np.array(sorted(medians)), True


def fit_pooled_centers(pooled, n_required_clusters, dist_thresh):
    """The corpus column model from the pooled normalized centers (a float
    array, NaN for a null): break-dist clusters in ascending order, then
    :func:`fit_center_model`. The driver-side fit of
    operators/model.fit_column_model_pooled."""
    clusters_w_vals = zip_clusters_and_values(
        find_clusters_1d_break_dist(pooled, dist_thresh), pooled)
    clusters_w_vals.sort(key=lambda cw: cw[1].min())
    model, _ = fit_center_model(clusters_w_vals, n_required_clusters)
    return model


def count_values(values):
    """The distinct values of a float array with their counts:
    ``np.repeat`` of the pair gives the same multiset back. Values are
    told apart by bit pattern, so every NaN and -0.0 comes back as it
    went in."""
    bits, counts = np.unique(
        np.ascontiguousarray(values, dtype=float).view(np.int64),
        return_counts=True)
    return bits.view(float), counts


def get_adjusted_cluster_centers(clusters, n_required_clusters,
                                 find_center_clusters_method, **kwargs):
    """Corpus-level column/row model fit + per-page repair.

    ``clusters``: dict page -> clusters_with_values (list of (ind, vals)).
    Phase 1: per-page centers (median), normalized to start at 0, pooled.
    Phase 2: cluster the pooled normalized centers and filter to exactly
    ``n_required_clusters`` medians (:func:`fit_center_model`).
    Phase 3: per page, repair centers against the model via
    :func:`find_best_matching_array`, then divide by per-page
    ``image_scaling``. Parity: clustering.py:77-165.

    In the Spark pipeline phases 1 and 3 run distributed (groupBy agg /
    applyInPandas); phase 2 runs here on the collected pooled centers
    (~pages x columns floats — broadcast-sized by construction).
    """
    return_diffsums = kwargs.pop("return_center_clusters_diffsums", False)
    image_scaling = kwargs.pop("image_scaling", None)
    same_size_thresh = kwargs.pop("arr_matching_same_size_use_model_arr_diff_thresh", None)

    page_centers = {p: np.array(calc_cluster_centers_1d(cw)) for p, cw in clusters.items()}

    pooled = []
    for centers in page_centers.values():
        pooled.extend(centers - centers[0])
    pooled = np.array(pooled)

    pooled_cluster_ind = find_center_clusters_method(pooled, **kwargs)
    pooled_clusters = zip_clusters_and_values(pooled_cluster_ind, pooled)

    model, _ = fit_center_model(pooled_clusters, n_required_clusters)

    adjusted = {}
    diffsums = {} if return_diffsums else None
    for p, centers in page_centers.items():
        fixed, diff = find_best_matching_array(
            centers, model, same_size_use_model_arr_diff_thresh=same_size_thresh)
        if image_scaling is not None:
            fixed = fixed / image_scaling[p]
        adjusted[p] = fixed
        if return_diffsums:
            diffsums[p] = diff

    if return_diffsums:
        return adjusted, diffsums
    return adjusted


def adjust_bad_positions(positions_per_page, good_positions=None, pos_check_signif_level=0.05):
    """Column-position sanity repair via chi-square width test.

    Good pages = those whose position count equals the corpus median count;
    mean widths = columnwise mean of good positions' diffs. Pages failing a
    chi-square test of widths vs mean widths (p < alpha), having the wrong
    count, or having negative widths are replaced by
    first_pos + cumsum(mean_widths). Parity: clustering.py:319-365.
    """
    if not 0 < pos_check_signif_level <= 1:
        raise ValueError("`signif_level` must be in range (0,1]")
    if not positions_per_page or not isinstance(positions_per_page, dict):
        raise ValueError("`positions_per_page` must be a non-empty dict")

    median_n = int(np.median([len(p) for p in positions_per_page.values()]))

    if not good_positions:
        good_positions = [p for p in positions_per_page.values() if len(p) == median_n]
    if not good_positions:
        return positions_per_page

    mean_widths = np.diff([np.mean(col) for col in zip(*good_positions)])
    if mean_widths.min() < 0:
        raise ValueError("invalid positions: got negative mean width")

    adjusted = {}
    for p_num, positions in positions_per_page.items():
        if len(positions) != median_n or min(np.diff(positions)) < 0:
            p_val = 0.0
        else:
            _, p_val = chisquare(np.diff(positions), mean_widths)

        if p_val < pos_check_signif_level:
            positions = np.concatenate([[positions[0]], positions[0] + np.cumsum(mean_widths)])
        adjusted[p_num] = positions

    return adjusted
