"""kernels/overlap against brute-force counting, without Spark.

``shared_shingle_counts`` reads random shingle lists as the (d1, k, tail)
rows the posting kernel emits for them, in flushes of a few lists, so a
d1 spans several rows with ``k > 1``, cut into Arrow batches of several
sizes. ``posting_tails`` reads (doc_id, s) rows sorted on ``s`` and is
checked against the posting lists built in Python, at flush bounds of 1,
7 and the default, then through the counting kernel; no emitted batch
holds more tail values than the bound, even for one list whose tails
alone exceed it."""

import itertools
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pytest

from pdftabextract_spark.kernels import overlap
from pdftabextract_spark.kernels.overlap import (
    pair_counts, posting_tails, shared_shingle_counts)


def _tail_rows(lists, per_flush=3):
    """Per-shingle doc lists -> (d1, k, tail) rows sorted by d1: each
    flush of ``per_flush`` lists gives one row per doc it holds, ``k``
    the lists of the flush that hold d1 and ``tail`` the docs after d1
    in them."""
    rows = []
    for f in range(0, len(lists), per_flush):
        k, tail = Counter(), defaultdict(list)
        for ds in lists[f:f + per_flush]:
            ds = sorted(ds)
            for i, d in enumerate(ds):
                k[d] += 1
                tail[d] += ds[i + 1:]
        rows += [(d, k[d], tail[d]) for d in sorted(k)]
    rows.sort(key=lambda r: r[0])
    return rows


def _batches(rows, size):
    for i in range(0, len(rows), size):
        chunk = rows[i:i + size]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[0] for r in chunk], pa.int64()),
             pa.array([r[1] for r in chunk], pa.int64()),
             pa.array([r[2] for r in chunk], pa.list_(pa.int64()))],
            names=["d1", "k", "tail"])


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
    assert any(len(t) == 0 for _, _, t in rows)
    # a size is a sum of k over several rows, not a row count
    assert any(k > 1 for _, k, _ in rows)
    assert len({d for d, _, _ in rows}) < len(rows)
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
    # d1 = 5 has seven rows (k = 1, one list per flush); batches of 2
    # split it over four batches
    lists = [[5, 9], [5, 9], [5, 7], [5, 9, 11], [5], [5, 11], [3, 5]]
    rows = _tail_rows(lists, per_flush=1)
    assert sum(d == 5 for d, _, _ in rows) == 7
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
    rows = [(d, 1, [100]) for d in d1s]
    with pytest.raises(RuntimeError, match="recurred"):
        list(shared_shingle_counts(_batches(rows, size), 0.2))


def test_empty_input_emits_nothing():
    assert list(shared_shingle_counts(iter([]), 0.2)) == []


def _posting_batches(rows, size):
    for i in range(0, len(rows), size):
        chunk = rows[i:i + size]
        yield pa.RecordBatch.from_arrays(
            [pa.array([d for d, _ in chunk], pa.int64()),
             pa.array([s for _, s in chunk], pa.int64())],
            names=["doc_id", "s"])


def _posting_rows(rng, n_shingles=150, max_df=9):
    """(doc_id, s) rows sorted on s, docs shuffled within a shingle and
    some (s, doc) rows repeated, as hash collisions inside a doc give."""
    rows = []
    for s in sorted(set(rng.integers(-10**12, 10**12, n_shingles).tolist())):
        ds = rng.choice(np.arange(-40, 40), rng.integers(1, max_df + 1),
                        replace=False).tolist()
        ds += rng.choice(ds, rng.integers(0, 3)).tolist()
        rng.shuffle(ds)
        rows += [(d, s) for d in ds]
    return rows


def _want_lists(rows, max_df):
    by_s = defaultdict(set)
    for d, s in rows:
        by_s[s].add(d)
    return [sorted(ds) for ds in by_s.values()
            if max_df is None or len(ds) <= max_df]


def _posting_out(rows, size, max_df):
    out = list(posting_tails(_posting_batches(rows, size), max_df))
    for b in out:
        assert b.schema == overlap.POSTING_SCHEMA
        assert len(b.column("tail").flatten()) <= overlap.FLUSH_TAIL_VALUES
        d1 = b.column("d1").to_pylist()
        assert d1 == sorted(set(d1)), "one row per d1 per flush"
    return [r for b in out for r in zip(*(b.column(c).to_pylist()
                                          for c in ("d1", "k", "tail")))], out


def _per_doc(rows):
    """(d1, k, tail) rows -> ({d1: sum k}, Counter of (d1, d2))."""
    k, pairs = Counter(), Counter()
    for d1, kk, tail in rows:
        k[d1] += kk
        pairs.update((d1, d2) for d2 in tail)
    return k, pairs


@pytest.mark.parametrize("flush", [1, 7, None])
@pytest.mark.parametrize("size", [1, 3, 1000])
@pytest.mark.parametrize("max_df", [None, 4])
def test_posting_tails_equal_brute_force(monkeypatch, flush, size, max_df):
    if flush is not None:
        monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", flush)
    rng = np.random.default_rng(size + (flush or 0) + (max_df or 0))
    rows = _posting_rows(rng)
    assert len(set(rows)) < len(rows)  # repeated (s, doc) rows
    lists = _want_lists(rows, max_df)
    got, out = _posting_out(rows, size, max_df)
    assert _per_doc(got) == _per_doc(_tail_rows(lists, len(lists)))
    n_docs = len({d for ds in lists for d in ds})
    if flush is None:
        # one flush: one row per doc
        assert len(out) == 1 and len(got) == n_docs
    elif size < len(rows):
        # several flushes: docs span several rows
        assert len(out) > 1 and len(got) > n_docs
    # and through the counting kernel, rows sorted by d1 as the d1
    # exchange sorts them
    got.sort(key=lambda r: r[0])
    assert _run(got, 5, 0.0) == _brute_force(lists, 0.0)


def test_posting_tails_cap_keeps_df_at_the_cap():
    rows = ([(d, 10) for d in (3, 1, 2)] + [(d, 20) for d in (1, 2, 3, 4)]
            + [(d, 30) for d in (5, 5, 6, 5)])
    got, _ = _posting_out(rows, 2, 3)
    # s = 10 has df 3 (kept), s = 20 df 4 (dropped), s = 30 df 2: doc 5
    # counted once
    assert sorted(got) == [(1, 1, [2, 3]), (2, 1, [3]), (3, 1, []),
                           (5, 1, [6]), (6, 1, [])]
    got, _ = _posting_out(rows, 2, None)
    assert _per_doc(got)[0] == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1, 6: 1}


@pytest.mark.parametrize("size", [1, 2, 5])
def test_posting_tails_drop_a_long_list_while_it_is_held_back(size):
    # s = 20 has 12 rows over 6 docs (over the cap of 4); s = 30 has 9
    # rows over 3 docs (under it): both span several batches
    rows = ([(1, 10), (2, 10)] + [(d % 6, 20) for d in range(12)]
            + [(7 + d % 3, 30) for d in range(9)] + [(1, 40), (9, 40)])
    got, _ = _posting_out(rows, size, 4)
    assert sorted(got) == [(1, 2, [2, 9]), (2, 1, []), (7, 1, [8, 9]),
                           (8, 1, [9]), (9, 2, [])]


@pytest.mark.parametrize("flush", [1, 7])
def test_posting_tails_cut_a_long_list_into_bounded_batches(monkeypatch,
                                                            flush):
    # exact mode: one list of 20 docs has 190 tail values, far over the
    # flush bound, so docs' tails are cut over batches and the rows that
    # continue them carry k = 0
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", flush)
    docs = list(range(20))
    rows = [(d, 5) for d in reversed(docs)] + [(1, 6), (3, 6)]
    got, out = _posting_out(rows, 4, None)
    assert len(out) >= 190 // flush
    assert any(k == 0 for _, k, _ in got)
    lists = [docs, [1, 3]]
    assert _per_doc(got) == _per_doc(_tail_rows(lists, len(lists)))
    got.sort(key=lambda r: r[0])
    assert _run(got, 5, 0.0) == _brute_force(lists, 0.0)


@pytest.mark.parametrize("rows", [
    [(1, 5), (2, 5), (1, 3)],
    # the out-of-order row follows a list dropped over the cap
    [(1, 5), (2, 5), (3, 5), (4, 5), (5, 5), (6, 5), (1, 3)],
])
def test_posting_tails_unsorted_input_raises(rows):
    for size in (1, 3):
        with pytest.raises(RuntimeError, match="not sorted"):
            list(posting_tails(_posting_batches(rows, size), 4))


def test_posting_tails_empty_input_emits_nothing():
    assert list(posting_tails(iter([]), 10)) == []
