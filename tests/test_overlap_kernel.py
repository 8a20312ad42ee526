"""kernels/overlap.shared_shingle_counts against brute-force pair counting,
without Spark: random shingle lists, the (d1, tail) rows
ngram_jaccard_pairs builds from them, cut into Arrow batches of several
sizes."""

import itertools
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from pdftabextract_spark.kernels.overlap import (
    pair_counts, shared_shingle_counts)


def _tail_rows(lists):
    """Per-shingle doc lists -> (d1, tail) rows sorted by d1, as the
    operator's posexplode + slice + sort produce them."""
    rows = []
    for ds in lists:
        ds = sorted(ds)
        rows += [(d, ds[i + 1:]) for i, d in enumerate(ds)]
    rows.sort(key=lambda r: r[0])
    return rows


def _batches(rows, size):
    for i in range(0, len(rows), size):
        chunk = rows[i:i + size]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[0] for r in chunk], pa.int64()),
             pa.array([r[1] for r in chunk], pa.list_(pa.int64()))],
            names=["d1", "tail"])


def _run(rows, size, threshold):
    out = [b.to_pydict() for b in shared_shingle_counts(
        _batches(rows, size), threshold)]
    cols = {k: sum((b[k] for b in out), []) for k in ("d1", "d2", "common",
                                                       "sz")}
    recs = list(zip(cols["d1"], cols["d2"], cols["common"], cols["sz"]))
    pairs = Counter((d1, d2, c, sz) for d1, d2, c, sz in recs
                    if d2 is not None)
    sizes = Counter((d1, sz) for d1, d2, c, sz in recs if d2 is None)
    assert all(c is None for _, d2, c, _ in recs if d2 is None)
    return pairs, sizes


def _brute_force(lists, threshold):
    sizes = Counter(d for ds in lists for d in ds)
    common = Counter(p for ds in lists
                     for p in itertools.combinations(sorted(ds), 2))
    pairs = Counter({(a, b, c, sizes[a]) for (a, b), c in common.items()
                     if c >= (threshold - 1e-6) * sizes[a] - 1})
    return pairs, Counter(sizes.items())


def _random_lists(rng, ids, n_shingles, max_df):
    return [rng.choice(ids, rng.integers(1, max_df + 1), replace=False)
            .tolist() for _ in range(n_shingles)]


@pytest.mark.parametrize("size", [1, 2, 7])
@pytest.mark.parametrize("threshold", [0.0, 0.3])
def test_counts_equal_brute_force(size, threshold):
    rng = np.random.default_rng(size * 10 + int(threshold * 10))
    ids = rng.choice(np.arange(-50, 200), 40, replace=False)
    lists = _random_lists(rng, ids, 120, 6)
    # docs 1000 and 1001 occur only in size-1 lists: one size row each,
    # no pairs
    lists += [[1000], [1000], [1001]]
    rows = _tail_rows(lists)
    assert any(len(t) == 0 for _, t in rows)
    pairs, sizes = _run(rows, size, threshold)
    want_pairs, want_sizes = _brute_force(lists, threshold)
    assert sizes == want_sizes
    assert pairs == want_pairs
    assert (1000, 2) in sizes and (1001, 1) in sizes
    assert not any(1000 in p[:2] or 1001 in p[:2] for p in pairs)
    if threshold == 0.0:
        # every pair kept: the counts are the whole co-occurrence table
        assert len(pairs) == len(
            {p for ds in lists for p in itertools.combinations(sorted(ds), 2)})


def test_group_split_across_batches():
    # d1 = 5 has six rows; batches of 2 split it over three batches
    lists = [[5, 9], [5, 9], [5, 7], [5, 9, 11], [5], [5, 11], [3, 5]]
    rows = _tail_rows(lists)
    pairs, sizes = _run(rows, 2, 0.0)
    assert sizes[(5, 7)] == 1
    assert pairs == Counter({(3, 5, 1, 1), (5, 7, 1, 7), (5, 9, 3, 7),
                             (5, 11, 2, 7), (9, 11, 1, 3)})


@pytest.mark.parametrize("size", [1, 2, 7])
def test_ids_near_int64_limits_use_the_lexsort_fallback(size):
    big = 1 << 62
    rng = np.random.default_rng(62)
    ids = np.concatenate([-big + np.arange(12), big - np.arange(12)])
    lists = _random_lists(rng, ids, 60, 5)
    g = np.array([0, 0, 1], np.int64)
    d = np.array([big - 1, -big, -big], np.int64)
    # span 2^63 does not fit int64 even for one group
    assert (int(d.max()) - int(d.min()) + 1) > np.iinfo(np.int64).max
    got = pair_counts(g, d, 2)
    assert [x.tolist() for x in got] == [[0, 0, 1], [-big, big - 1, -big],
                                        [1, 1, 1]]
    pairs, sizes = _run(_tail_rows(lists), size, 0.0)
    assert (pairs, sizes) == _brute_force(lists, 0.0)


def test_pair_counts_key_sort_equals_lexsort():
    rng = np.random.default_rng(3)
    gid = rng.integers(0, 50, 5000)
    d2 = rng.integers(-1000, 1000, 5000)
    fast = pair_counts(gid, d2, 50)
    # a group count large enough to overflow the combined key forces
    # the lexsort on the same elements
    slow = pair_counts(gid, d2, 1 << 62)
    for a, b in zip(fast, slow):
        assert a.tolist() == b.tolist()
    assert Counter(zip(gid.tolist(), d2.tolist())) == Counter(
        dict(zip(zip(fast[0].tolist(), fast[1].tolist()), fast[2].tolist())))


@pytest.mark.parametrize("d1s, size", [
    ([1, 2, 1], 7),        # interleaved within one batch
    ([1, 2, 1], 1),        # recurrence of a closed group in a later batch
    ([1, 2, 2, 1], 2),     # recurrence after the carried group closed
])
def test_interleaved_d1_raises(d1s, size):
    rows = [(d, [100]) for d in d1s]
    with pytest.raises(RuntimeError, match="recurred"):
        list(shared_shingle_counts(_batches(rows, size), 0.2))


def test_empty_input_emits_nothing():
    assert list(shared_shingle_counts(iter([]), 0.2)) == []
