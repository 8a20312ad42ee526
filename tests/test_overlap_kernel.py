"""kernels/overlap against brute-force counting, without Spark.

The kernels read blob rows: (bucket, doc, s) rows as kernels/shingles
emits them and (part, start, d1, k, n, tail) rows as the posting kernel
emits them. The tests cut the elements into blob rows at random points,
as several map batches give, and hand the rows over in Arrow batches of
several sizes. ``_exchange`` stands in for ``repartitionById`` followed
by ``sortWithinPartitions``: key rows go to partition ``bucket % P``
sorted on bucket, tail rows to partition ``part`` sorted on start, rows
that tie in arbitrary order. Results must equal brute-force counting
over the posting lists, and no emitted blob may hold more than
FLUSH_TAIL_VALUES values.
"""

import itertools
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pytest

from pdftabextract_spark.kernels import overlap
from pdftabextract_spark.kernels.overlap import (
    blob_batches, buckets, d1_keys, mix64, pair_counts, posting_blobs,
    shared_shingle_counts)
from pdftabextract_spark.kernels.shingles import key_blobs

KEY_HEAD = {"bucket": pa.int32()}
TAIL_HEAD = {"part": pa.int32(), "start": pa.int64()}
KEY_COLS = {"doc": np.int64, "s": np.uint64}
TAIL_COLS = {"d1": np.int64, "k": np.int64, "n": np.int64, "tail": np.int64}


def _cut_rows(bucket, rng, cols):
    """Elements sorted by bucket -> blob rows ((bucket,), [arrays]), each
    bucket's run cut at random points into one to three rows."""
    rows = []
    starts = np.flatnonzero(np.append(True, bucket[1:] != bucket[:-1]))
    for a, b in zip(starts, np.append(starts[1:], len(bucket))):
        cuts = sorted(set(rng.integers(a, b + 1, 2).tolist()) | {a, b})
        rows += [((int(bucket[a]),), [c[x:y] for c in cols])
                 for x, y in zip(cuts[:-1], cuts[1:]) if y > x]
    return rows


def _batches(rows, head, cols, size):
    for i in range(0, len(rows), size):
        chunk = rows[i:i + size]
        yield pa.RecordBatch.from_arrays(
            [pa.array([h[j] for h, _ in chunk], t)
             for j, t in enumerate(head.values())]
            + [pa.array([arrs[j].tobytes() for _, arrs in chunk], pa.binary())
               for j in range(len(cols))],
            names=[*head, *cols])


def _rows_of(batches, head, cols):
    """Blob batches -> rows ((head values), [arrays]), checking the blob
    bound."""
    rows = []
    for b in batches:
        heads = list(zip(*(b.column(h).to_pylist() for h in head)))
        blobs = [b.column(c).to_pylist() for c in cols]
        for i, h in enumerate(heads):
            arrs = [np.frombuffer(x[i], dt)
                    for x, dt in zip(blobs, cols.values())]
            assert all(len(a) <= overlap.FLUSH_TAIL_VALUES for a in arrs)
            rows.append((h, arrs))
    return rows


def _exchange(rows, n_part, run, head, cols, size, rng=None):
    """Route key rows to partition ``bucket % n_part`` and tail rows to
    partition ``part``, sort each partition's rows on bucket or start
    (rows that tie in an order ``rng`` shuffles), and run ``run`` over
    each partition."""
    if rng is not None:
        rows = [rows[i] for i in rng.permutation(len(rows))]
    out = []
    for p in range(n_part):
        part = sorted((r for r in rows if r[0][0] % n_part == p),
                      key=lambda r: r[0][-1])
        out += list(run(_batches(part, head, cols, size)))
    return out


def _key_rows(pairs, n_buckets, rng):
    """(doc, s) pairs -> ((bucket,), [doc, s]) blob rows, elements of a
    bucket in arbitrary order."""
    doc = np.array([d for d, _ in pairs], np.int64)
    s = np.array([k for _, k in pairs], np.uint64)
    order = rng.permutation(len(doc))
    doc, s = doc[order], s[order]
    b = buckets(s, n_buckets)
    order = np.argsort(b, kind="stable")
    return _cut_rows(b[order], rng, [doc[order], s[order]])


def _tail_rows(lists, n_part, rng, per_flush=3):
    """Per-shingle doc lists -> ((part, start), [d1, k, n, tail]) blob
    rows as posting runs give them: each run of ``per_flush`` lists has
    one entry per doc it holds (``k`` the lists of the run that hold d1,
    ``tail`` the docs after d1 in them), so a d1 spans several entries.
    A run's entries are ordered by d1_keys and cut into rows at random
    points and where the partition changes."""
    rows = []
    for f in range(0, len(lists), per_flush):
        k, tail = Counter(), defaultdict(list)
        for ds in lists[f:f + per_flush]:
            ds = sorted(ds)
            for i, d in enumerate(ds):
                k[d] += 1
                tail[d] += ds[i + 1:]
        d1 = np.array(list(k), np.int64)
        key = d1_keys(d1)
        order = np.argsort(key)
        d1, key = d1[order], key[order]
        part = buckets(mix64(d1), n_part)
        for (p,), (at,) in _cut_rows(part, rng, [np.arange(len(d1))]):
            rows.append(((p, int(key[at[0]])), [
                d1[at], np.array([k[d] for d in d1[at]], np.int64),
                np.array([len(tail[d]) for d in d1[at]], np.int64),
                np.array([x for d in d1[at] for x in tail[d]], np.int64)]))
    return rows


def _counted(batches):
    """shared_shingle_counts output -> (Counter of pair rows, Counter of
    (d1, size))."""
    recs = []
    for b in batches:
        d = b.to_pydict()
        recs += zip(d["d1"], d["d2"], d["common"], d["sz"])
    pairs = Counter(r for r in recs if r[1] is not None)
    sizes = Counter((d1, sz) for d1, d2, c, sz in recs if d2 is None)
    assert all(c is None for _, d2, c, _ in recs if d2 is None)
    return pairs, sizes


def _count(rows, n_part, size, threshold, rng=None):
    return _counted(_exchange(
        rows, n_part, lambda b: shared_shingle_counts(b, threshold),
        TAIL_HEAD, TAIL_COLS, size, rng))


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
    rows = _tail_rows(lists, 3, rng)
    # a size is a sum of k over several entries, in several rows
    assert any(k > 1 for _, (_, ks, _, _) in rows for k in ks)
    d1s = [d for _, (ds, _, _, _) in rows for d in ds]
    assert len(set(d1s)) < len(d1s)
    pairs, sizes = _count(rows, 3, size, threshold, rng)
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
    # d1 = 5 has seven entries (one list each) in seven rows, one per
    # posting run; sorted on start they are contiguous, and batches of 2
    # split them over four batches
    lists = [[5, 9], [5, 9], [5, 7], [5, 9, 11], [5], [5, 11], [3, 5]]
    rows = sorted((((0, int(d1_keys(np.array([d]))[0])),
                    [np.array([d]), np.array([1]),
                     np.array([len(ds) - i - 1]),
                     np.array(ds[i + 1:], np.int64)])
                   for ds in lists for i, d in enumerate(ds)),
                  key=lambda r: r[0][1])
    fives = [int(arrs[0][0]) == 5 for _, arrs in rows]
    assert sum(fives) == 7 and fives.index(True) % 2 == 1
    out = list(shared_shingle_counts(
        _batches(rows, TAIL_HEAD, TAIL_COLS, 2), 0.0))
    assert len(out) == 1  # counted at the end, in one piece
    pairs, sizes = _counted(out)
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
    assert _count(_tail_rows(lists, 1, rng), 1, size, 0.0) == \
        _brute_force(lists, 0.0)
    # and from the shingle side, through the posting kernel
    pairs = [(d, s) for s, ds in enumerate(lists) for d in ds]
    assert _pipeline(pairs, 2, 2, size, None, 0.0, rng) == \
        _brute_force(lists, 0.0)


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
    # tail rows not sorted on start, or key rows not sorted on bucket:
    # counting a d1 or a bucket in two pieces would split its docs'
    # pairs and sizes
    one = [np.array([7], np.int64), np.array([1], np.int64),
           np.array([1], np.int64), np.array([100], np.int64)]
    rows = [((0, int(d1_keys(np.array([d]))[0])), [np.array([d])] + one[1:])
            for d in d1s]
    with pytest.raises(RuntimeError, match="not sorted"):
        list(shared_shingle_counts(
            _batches(rows, TAIL_HEAD, TAIL_COLS, size), 0.2))
    with pytest.raises(RuntimeError, match="not sorted"):
        list(posting_blobs(_batches([((b,), one[:2]) for b in d1s],
                                    KEY_HEAD, KEY_COLS, size), None, 4, 2))


def test_empty_input_emits_nothing():
    assert list(shared_shingle_counts(iter([]), 0.2)) == []


def _posting_pairs(rng, n_shingles=150, max_df=9):
    """(doc, s) pairs with random 64-bit keys and some (s, doc) pairs
    repeated, as a doc split over two input rows, or two grams of one
    doc that share a key, give."""
    pairs = []
    for s in set(rng.integers(0, 1 << 64, n_shingles, np.uint64).tolist()):
        ds = rng.choice(np.arange(-40, 40), rng.integers(1, max_df + 1),
                        replace=False).tolist()
        ds += rng.choice(ds, rng.integers(0, 3)).tolist()
        pairs += [(d, s) for d in ds]
    return pairs


def _want_lists(pairs, max_df):
    by_s = defaultdict(set)
    for d, s in pairs:
        by_s[s].add(d)
    return [sorted(ds) for ds in by_s.values()
            if max_df is None or len(ds) <= max_df]


def _pipeline(pairs, n_part, n_groups, size, max_df, threshold, rng,
              out=None):
    """(doc, s) pairs through the posting kernel, the tail exchange and
    the counting kernel -> _counted result. The posting rows are appended
    to ``out`` when given."""
    n_buckets = n_part * n_groups
    posted = _exchange(_key_rows(pairs, n_buckets, rng), n_part,
                       lambda b: posting_blobs(b, max_df, n_buckets, n_part),
                       KEY_HEAD, KEY_COLS, size)
    rows = _rows_of(posted, TAIL_HEAD, TAIL_COLS)
    row_values = max(1, overlap.FLUSH_TAIL_VALUES // (2 * n_buckets))
    for (part, start), (d1, k, n, tail) in rows:
        # one entry per d1 in a row, ordered by key from the row's start,
        # every d1 in the row's partition, at most row_values slots
        key = d1_keys(d1)
        assert key[0] == start and (key[1:] > key[:-1]).all()
        assert (buckets(mix64(d1), n_part) == part).all()
        assert n.sum() == len(tail)
        assert k.sum() + len(tail) <= row_values
    if out is not None:
        out += rows
    return _count(rows, n_part, size, threshold, rng)


@pytest.mark.parametrize("flush", [1, 7, None])
@pytest.mark.parametrize("size", [1, 3, 1000])
@pytest.mark.parametrize("max_df", [None, 4])
def test_posting_tails_equal_brute_force(monkeypatch, flush, size, max_df):
    if flush is not None:
        monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", flush)
    rng = np.random.default_rng(size + (flush or 0) + (max_df or 0))
    pairs = _posting_pairs(rng)
    assert len(set(pairs)) < len(pairs)  # repeated (s, doc) pairs
    lists = _want_lists(pairs, max_df)
    assert _pipeline(pairs, 3, 1, size, max_df, 0.0, rng) == \
        _brute_force(lists, 0.0)
    # one posting task (one group): one entry per doc per posting batch
    rows = []
    assert _pipeline(pairs, 1, 1, size, max_df, 0.0, rng, rows) == \
        _brute_force(lists, 0.0)
    n_docs = len({d for ds in lists for d in ds})
    n_entries = sum(len(arrs[0]) for _, arrs in rows)
    if flush is None:
        # one posting batch: one entry per doc
        assert n_entries == n_docs
    else:
        # several batches: docs span several entries
        assert n_entries > n_docs


def _entries(rows):
    """Posting blob rows -> (d1, k, tail) entries."""
    out = []
    for _, (d1, k, n, tail) in rows:
        ends = np.cumsum(n)
        out += [(int(d), int(kk), tail[e - m:e].tolist())
                for d, kk, m, e in zip(d1, k, n, ends)]
    return out


def test_posting_tails_cap_keeps_df_at_the_cap():
    pairs = ([(d, 10) for d in (3, 1, 2)] + [(d, 20) for d in (1, 2, 3, 4)]
             + [(d, 30) for d in (5, 5, 6, 5)])
    rows = []
    _pipeline(pairs, 1, 1, 2, 3, 0.0, np.random.default_rng(0), rows)
    # s = 10 has df 3 (kept), s = 20 df 4 (dropped), s = 30 df 2: doc 5
    # counted once
    assert sorted(_entries(rows)) == [(1, 1, [2, 3]), (2, 1, [3]),
                                      (3, 1, []), (5, 1, [6]), (6, 1, [])]
    rows = []
    _pipeline(pairs, 1, 1, 2, None, 0.0, np.random.default_rng(0), rows)
    k = Counter()
    for d, kk, _ in _entries(rows):
        k[d] += kk
    assert k == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1, 6: 1}


@pytest.mark.parametrize("cap", [None, 1, 3, 4])
def test_posting_blobs_caps_none_one_and_at_a_list_length(cap):
    # lists of 1, 3 and 4 docs: a cap at a list's length keeps it, one
    # below drops it
    lists = [[5], [1, 2, 3], [2, 3, 4, 6], [1, 3, 6]]
    pairs = [(d, s) for s, ds in enumerate(lists) for d in ds]
    pairs += [(3, 1), (6, 3)]  # repeated (s, doc) pairs count once
    rng = np.random.default_rng(cap or 0)
    want = [ds for ds in lists if cap is None or len(ds) <= cap]
    for size in (1, 2, 7):
        assert _pipeline(pairs, 2, 1, size, cap, 0.0, rng) == \
            _brute_force(want, 0.0)


def test_posting_blobs_any_element_order():
    # elements arrive in any order within a bucket, spread over rows of
    # several map batches: the posting lists are the same
    rng = np.random.default_rng(11)
    pairs = _posting_pairs(rng)
    want = _brute_force(_want_lists(pairs, 4), 0.3)
    for seed in range(3):
        order = np.random.default_rng(seed).permutation(len(pairs))
        assert _pipeline([pairs[i] for i in order], 2, 3, 3, 4, 0.3,
                         np.random.default_rng(seed)) == want


@pytest.mark.parametrize("size", [1, 2, 5])
def test_posting_blobs_drop_a_long_list_spread_over_rows(size):
    # s = 20 has 12 pairs over 6 docs (over the cap of 4) and s = 30 9
    # pairs over 3 docs (under it), each cut over several rows and
    # batches: the first is dropped whole, the second kept whole
    pairs = ([(1, 10), (2, 10)] + [(d % 6, 20) for d in range(12)]
             + [(7 + d % 3, 30) for d in range(9)] + [(1, 40), (9, 40)])
    want = _brute_force([[1, 2], [7, 8, 9], [1, 9]], 0.0)
    assert _pipeline(pairs, 1, 1, size, 4, 0.0,
                     np.random.default_rng(size)) == want


@pytest.mark.parametrize("n_groups", [2, 9])
def test_many_groups_per_task(n_groups):
    # several buckets per partition, each counted as its own group: the
    # result does not depend on the group count
    rng = np.random.default_rng(n_groups)
    pairs = _posting_pairs(rng, n_shingles=300)
    rows = _key_rows(pairs, 2 * n_groups, rng)
    assert len({b for (b,), _ in rows if b % 2 == 0}) > 1
    want = _brute_force(_want_lists(pairs, 5), 0.2)
    for size in (1, 4):
        assert _pipeline(pairs, 2, n_groups, size, 5, 0.2, rng) == want


@pytest.mark.parametrize("flush", [1, 7])
def test_posting_tails_cut_a_long_list_into_bounded_batches(monkeypatch,
                                                            flush):
    # exact mode: one list of 20 docs has 190 tail values, far over the
    # flush bound, so docs' tails are cut over batches and the entries
    # that continue them carry k = 0
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", flush)
    docs = list(range(20))
    pairs = [(d, 5) for d in reversed(docs)] + [(1, 6), (3, 6)]
    rows = []
    got = _pipeline(pairs, 1, 1, 4, None, 0.0, np.random.default_rng(0),
                    rows)
    assert len(rows) >= 190 // flush
    assert any(k == 0 for _, arrs in rows for k in arrs[1])
    assert got == _brute_force([docs, [1, 3]], 0.0)


@pytest.mark.parametrize("flush", [48, 96])
def test_counting_holds_a_bounded_buffer_on_a_long_exact_list(monkeypatch,
                                                              flush):
    # exact mode: one shingle in 90 docs gives 4005 tail values, far over
    # the patched budget, from six posting runs over two partitions.
    # Each count the kernel makes holds at most twice the budget plus one
    # d1's values (its head and tail slots, and an entry per row that
    # holds it), and the result is unchanged
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", flush)
    counted = []
    count = overlap._counts

    def spy(d1, k, n, tail, threshold):
        counted.append(len(d1) + len(tail))
        return count(d1, k, n, tail, threshold)

    monkeypatch.setattr(overlap, "_counts", spy)
    rng = np.random.default_rng(flush)
    pairs = [(d, 5) for d in range(90)] + _posting_pairs(rng, n_shingles=40)
    lists = _want_lists(pairs, None)
    assert _pipeline(pairs, 2, 3, 4, None, 0.0, rng) == \
        _brute_force(lists, 0.0)
    one_d1 = Counter()
    for ds in lists:
        for i, d in enumerate(ds):
            one_d1[d] += len(ds) - i
    assert sum(one_d1.values()) > 40 * flush
    assert len(counted) > 2  # more than one count per partition
    assert max(counted) <= 2 * flush + 2 * max(one_d1.values()) + 2 * 6


def test_buckets_reject_a_count_outside_int32():
    h = np.array([0, 1 << 63, (1 << 64) - 1], np.uint64)
    b = buckets(h, (1 << 31) - 1)
    assert b.tolist() == sorted(b.tolist()) and 0 <= b.min() and \
        b.max() < (1 << 31) - 1
    for bad in (0, 1 << 31, 1 << 41):
        with pytest.raises(ValueError, match="n_buckets"):
            buckets(h, bad)


def test_blob_batches_keep_each_column_under_the_offset_limit(monkeypatch):
    # Arrow binary offsets are int32: with the limit patched to 5 values
    # (40 bytes), one pass of 23 elements leaves as several batches,
    # none over the limit, holding the same rows; a row alone over the
    # limit raises instead of wrapping
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", 4)
    monkeypatch.setattr(overlap, "MAX_BLOB_BYTES", 40)
    bucket = np.repeat(np.array([0, 1, 3], np.int32), [9, 2, 12])
    values = np.arange(23, dtype=np.int64)
    out = list(blob_batches(bucket, v=values))
    assert len(out) > 1
    for b in out:
        assert sum(len(x) for x in b.column("v").to_pylist()) <= 40
    rows = _rows_of(out, KEY_HEAD, {"v": np.int64})
    assert np.concatenate([a for _, (a,) in rows]).tolist() == \
        values.tolist()
    assert [b for (b,), (a,) in rows for _ in a] == bucket.tolist()
    monkeypatch.setattr(overlap, "MAX_BLOB_BYTES", 16)
    with pytest.raises(ValueError, match="offsets"):
        list(blob_batches(bucket, v=values))


def test_posting_tails_empty_input_emits_nothing():
    assert list(posting_blobs(iter([]), 10, 4, 2)) == []
    # every list over the cap: nothing to emit either
    rows = _key_rows([(1, 9), (2, 9)], 1, np.random.default_rng(0))
    assert list(posting_blobs(_batches(rows, KEY_HEAD, KEY_COLS, 1), 1, 1,
                              1)) == []


def _text_batch(ids, texts):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts)],
        names=["doc_id", "text"])


def test_text_pipeline_equals_brute_force_with_a_doc_over_two_rows():
    # from texts: the shingle kernel's keys, its blob rows through the
    # exchange, the posting and counting kernels. Doc 3's text comes in
    # two rows (of two batches), whose grams overlap: each gram counts
    # once in its size and its pairs
    rng = np.random.default_rng(8)
    texts = [" ".join(rng.choice(list("abcdef"), rng.integers(3, 15)))
             for _ in range(60)]
    ids = list(range(60))
    half = texts[3].split(" ")
    split = [" ".join(half[:5]), " ".join(half[2:])]
    n_buckets = 6
    rest = [i for i in ids if i != 3]
    blobs = list(key_blobs(iter([
        _text_batch(rest[:30], [texts[i] for i in rest[:30]]),
        _text_batch([3], split[:1]),
        _text_batch(rest[30:], [texts[i] for i in rest[30:]]),
        _text_batch([3], split[1:])]), 3, n_buckets))
    key_rows = _rows_of(blobs, KEY_HEAD, KEY_COLS)
    for (b,), (doc, s) in key_rows:
        assert (buckets(s, n_buckets) == b).all()
        assert (s[1:] >= s[:-1]).all()
    grams = defaultdict(set)
    for d, t in zip(ids, texts):
        ws = t.split(" ")
        for j in range(len(ws) - 2):
            grams[" ".join(ws[j:j + 3])].add(d)
    lists = [sorted(ds) for ds in grams.values()]
    posted = _exchange(key_rows, 3,
                       lambda b: posting_blobs(b, None, n_buckets, 3),
                       KEY_HEAD, KEY_COLS, 2)
    got = _count(_rows_of(posted, TAIL_HEAD, TAIL_COLS), 3, 3, 0.0)
    assert got == _brute_force(lists, 0.0)
