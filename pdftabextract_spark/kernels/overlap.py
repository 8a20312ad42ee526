"""Shared-shingle counts per document: the posting and counting kernels
of operators/dedup.ngram_jaccard_pairs, over blob rows.

The kernels of ngram_jaccard_pairs partition their own output: one
output row holds many elements as raw int64 arrays in binary columns
("blobs"), and ``DataFrame.repartitionById`` places the row, so the JVM
moves a few rows per batch instead of one row per element.

Shingle exchange. kernels/shingles.key_blobs gives each (doc, shingle
key) element a bucket in ``[0, n_buckets)`` (``buckets``: a contiguous
range of the 64-bit key) and emits one row per bucket; the row goes to
partition ``bucket % n_partitions``. A partition holds ``n_buckets /
n_partitions`` buckets; when that is more than one, the plan sorts the
blob rows on ``bucket`` and ``posting_blobs`` reads one bucket (a
"group") at a time (``blob_groups``), so its memory is one group's
elements.

``posting_blobs`` builds each shingle's sorted doc list (its posting
list), counting a repeated (s, doc) pair once, and drops the shingles
in more than ``max_shingle_df`` docs. Each doc d1 of a list gets one
membership: the docs after d1 in that list are its tail. A group's
memberships are ordered by d1's sort key (``d1_keys``, a bijective
64-bit hash of d1) and emitted as (part, start, d1, k, n, tail) rows:
per d1, ``k`` memberships whose tails, ``n`` values in all, are
concatenated in ``tail``; ``part`` is d1's partition, a contiguous
range of sort keys, and ``start`` the row's smallest sort key.

Tail exchange. A d1's tails come from every posting group, and their
volume grows with the square of the shingles' document frequency, so
the counting kernel cannot hold a partition's, or a fixed bucket's,
tails at once. Instead each posting group emits its rows in sort-key
order (one sorted run), cut so that a row holds at most
``FLUSH_TAIL_VALUES / (2 n_buckets)`` values, and the plan sorts the
tail rows (a few per map batch) on ``start``. ``shared_shingle_counts``
reads them in that order: once a row with start ``s`` has arrived, no
later row holds a d1 keyed below ``s``, so those d1 are complete. When
its buffer reaches FLUSH_TAIL_VALUES it counts them and keeps the rest,
at most one part-read row per run (half that bound) plus the d1 keyed
at ``s``. So a counting task holds about twice FLUSH_TAIL_VALUES
values, plus one d1's tails, whatever the corpus. The price is row
size: it shrinks as the bucket count grows, to one value a row at 2^21
buckets (about 8 TiB of documents at 4 MiB a group).

A doc's size is the sum of its ``k``, and counting each d2 over a d1's
tails gives the number of shingles the pair (d1, d2) shares; the pairs
are counted in memory instead of as one row per pair through an
exchange and a hash aggregation.

Every kernel first calls kernels/pyworker.forget_zip_importers, so the
Python worker that runs the task skips the zip re-reads of its next
task's setup.
"""

import numpy as np
import pyarrow as pa

from .pyworker import forget_zip_importers

POSTING_DDL = ("part int, start long, d1 binary, k binary, n binary, "
               "tail binary")
OUT_SCHEMA = pa.schema([("d1", pa.int64()), ("d2", pa.int64()),
                        ("common", pa.int64()), ("sz", pa.int64())])
OUT_DDL = "d1 long, d2 long, common long, sz long"
CENSUS_DDL = "n long"

# the most int64 values one blob holds, the most membership slots (one
# per membership plus its tail values) one posting batch holds, and the
# values the counting kernel gathers before it counts the complete d1:
# it bounds a kernel task's memory beyond its group
FLUSH_TAIL_VALUES = 1 << 22

# Arrow binary offsets are int32: the bytes one blob column of a batch
# may hold (blob_batches starts a new batch before it)
MAX_BLOB_BYTES = (1 << 31) - 1

_INT64_MAX = int(np.iinfo(np.int64).max)
_U32 = np.uint64(32)
_TOP = np.uint64(1 << 63)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64's finalizer over a uint64 array: a bijection that
    spreads nearby values (doc ids) over the whole 64-bit range."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def buckets(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """uint64 hashes -> int32 buckets in [0, n_buckets), non-decreasing
    in the hash (n_buckets < 2^31: repartitionById takes an int)."""
    if not 0 < n_buckets < 1 << 31:
        raise ValueError("buckets: n_buckets must be in [1, 2^31), got %r"
                         % (n_buckets,))
    return ((hashes >> _U32) * np.uint64(n_buckets) >> _U32).astype(np.int32)


def d1_keys(d1: np.ndarray) -> np.ndarray:
    """Doc ids -> their int64 sort keys in the tail exchange: ``mix64``
    with the top bit flipped, so signed order (the JVM's) is the order
    of ``mix64`` that ``buckets`` ranges over. Distinct ids get distinct
    keys."""
    return (mix64(d1) ^ _TOP).view(np.int64)


def _run_starts(*cols: np.ndarray) -> np.ndarray:
    """Start index of every run of equal values across ``cols``."""
    brk = np.zeros(len(cols[0]), dtype=bool)
    brk[:1] = True
    for c in cols:
        brk[1:] |= c[1:] != c[:-1]
    return np.flatnonzero(brk)


def _cut(lo: np.ndarray, hi: np.ndarray, step: int):
    """Non-empty ranges [lo, hi), in order, cut at the multiples of
    ``step`` -> (i, a, b): piece j is [a[j], b[j]) of range i[j]."""
    first = lo // step
    n = (hi - 1) // step - first + 1
    i = np.repeat(np.arange(len(lo)), n)
    cell = first[i] + np.arange(len(i)) - np.repeat(np.cumsum(n) - n, n)
    return i, np.maximum(lo[i], cell * step), np.minimum(hi[i],
                                                         (cell + 1) * step)


def _blob(values: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """A binary array whose row i holds ``values[bounds[i]:bounds[i+1]]``
    as raw bytes, without copying a contiguous ``values``. Raises rather
    than let the int32 offsets wrap past MAX_BLOB_BYTES."""
    values = np.ascontiguousarray(values[bounds[0]:bounds[-1]])
    offsets = (bounds - bounds[0]) * values.itemsize
    if offsets[-1] > MAX_BLOB_BYTES:
        raise ValueError("blob column of %d bytes exceeds the %d that "
                         "Arrow binary offsets allow"
                         % (offsets[-1], MAX_BLOB_BYTES))
    return pa.Array.from_buffers(pa.binary(), len(bounds) - 1, [
        None, pa.py_buffer(offsets.astype(np.int32)),
        pa.py_buffer(values)])


def blob_batches(bucket: np.ndarray, **columns):
    """Elements sorted by ``bucket`` -> batches of one row per bucket run,
    cut into rows of at most FLUSH_TAIL_VALUES elements, with each named
    int64 element array as a blob column. A batch holds at most
    MAX_BLOB_BYTES of each column, so one long pass becomes several
    batches."""
    starts = _run_starts(bucket)
    _, lo, hi = _cut(starts, np.append(starts[1:], len(bucket)),
                     max(FLUSH_TAIL_VALUES, 1))
    bounds = np.append(lo, len(bucket))
    cap = max(MAX_BLOB_BYTES // 8, 1)
    i = 0
    while i < len(lo):
        j = max(i + 1, int(np.searchsorted(bounds, bounds[i] + cap,
                                           side="right")) - 1)
        yield pa.RecordBatch.from_arrays(
            [pa.array(bucket[bounds[i:j]])]
            + [_blob(v, bounds[i:j + 1]) for v in columns.values()],
            names=["bucket", *columns])
        i = j


def blob_rows(batches, key: str, **dtypes):
    """Blob batches -> (key value, [named blob columns as numpy arrays of
    the given dtypes]) per row, the arrays viewing the batch's buffers."""
    for batch in batches:
        cols = [batch.column(name) for name in dtypes]
        for i, k in enumerate(batch.column(key).to_pylist()):
            yield k, [np.frombuffer(c[i].as_buffer(), dt)
                      for c, dt in zip(cols, dtypes.values())]


def blob_groups(batches, **dtypes):
    """Blob rows whose buckets come contiguous -> for each bucket, the
    concatenated values of each named blob column, as numpy arrays of the
    given dtypes. A bucket that recurs after its group closed means the
    rows were not sorted on bucket; it raises instead of splitting the
    group."""
    closed, current, parts = set(), None, []
    for b, row in blob_rows(batches, "bucket", **dtypes):
        if b != current:
            if current is not None:
                yield [np.concatenate(p) for p in zip(*parts)]
                closed.add(current)
            if b in closed:
                raise RuntimeError(
                    "blob_groups: bucket %d recurred after its group "
                    "closed; rows are not sorted on bucket" % b)
            current, parts = b, []
        parts.append(row)
    if current is not None:
        yield [np.concatenate(p) for p in zip(*parts)]


def pair_counts(gid: np.ndarray, d2: np.ndarray, n_groups: int):
    """Element arrays (group id in [0, n_groups), d2) -> the distinct
    (gid, d2) pairs and how often each occurs, ordered by gid, then d2.

    Sorts one int64 key ``gid * span + (d2 - min d2)`` per element, which
    is several times faster than a two-key lexsort. Where that key could
    overflow int64 (ids spread over more than INT64_MAX / n_groups) it
    falls back to the lexsort."""
    if not len(d2):
        return gid[:0], d2[:0], np.zeros(0, np.int64)
    lo = int(d2.min())
    span = int(d2.max()) - lo + 1
    if n_groups * span <= _INT64_MAX:
        key = gid * np.int64(span) + (d2 - np.int64(lo))
        key.sort()
        starts = _run_starts(key)
        first = key[starts]
        return (first // span, first % span + np.int64(lo),
                np.diff(np.append(starts, len(key))))
    order = np.lexsort((d2, gid))
    g, d = gid[order], d2[order]
    starts = _run_starts(g, d)
    return g[starts], d[starts], np.diff(np.append(starts, len(d)))


def _posting_lists(doc: np.ndarray, key: np.ndarray):
    """(doc, shingle key) elements of one group -> every shingle's doc
    list, sorted and free of repeats, and the lists' lengths (the
    shingles' document frequencies)."""
    order = np.lexsort((doc, key))
    doc, key = doc[order], key[order]
    first = _run_starts(key, doc)
    doc, key = doc[first], key[first]
    return doc, np.diff(np.append(_run_starts(key), len(key)))


def posting_blobs(batches, max_shingle_df, n_buckets: int, n_part: int):
    """``mapInArrow`` function: (bucket, doc, s) blob rows with each
    bucket's rows contiguous -> (part, start, d1, k, n, tail) blob rows
    for ``n_part`` partitions (see ``_tail_blobs``).
    ``max_shingle_df=None`` keeps every shingle. ``n_buckets`` is the
    shingle exchange's bucket count, so the number of sorted runs the
    counting kernel merges.

    A shingle's doc list counts each doc once (a 64-bit key collision of
    two grams of one doc is one shingle, and a doc split over two input
    rows is one doc)."""
    forget_zip_importers()
    row_values = max(1, FLUSH_TAIL_VALUES // (2 * n_buckets))
    for doc, key in blob_groups(batches, doc=np.int64, s=np.uint64):
        docs, lengths = _posting_lists(doc, key)
        if max_shingle_df is not None:
            keep = lengths <= max_shingle_df
            docs, lengths = docs[np.repeat(keep, lengths)], lengths[keep]
        yield from _tail_blobs(docs, lengths, n_part, row_values)


def stop_shingle_census(batches, max_shingle_df: int):
    """``mapInArrow`` function: the (bucket, doc, s) blob rows of
    ``posting_blobs`` -> one row: the number of shingles in more than
    ``max_shingle_df`` docs."""
    forget_zip_importers()
    n = 0
    for doc, key in blob_groups(batches, doc=np.int64, s=np.uint64):
        n += int((_posting_lists(doc, key)[1] > max_shingle_df).sum())
    yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], ["n"])


def _tail_blobs(docs, lengths, n_part, row_values):
    """Posting lists -> (part, start, d1, k, n, tail) blob batches.

    Every doc of every list is a membership with one head slot and its
    tail (the docs after it in its list). The memberships are ordered by
    ``d1_keys`` (each d1's memberships together) and their slots cut
    into batches of at most FLUSH_TAIL_VALUES, so a long list (exact
    mode) never builds all its tails at once, and into rows of at most
    ``row_values`` slots and one partition; a tail that crosses a cut
    continues in the next row. A row holds one (d1, k, n) entry per d1:
    ``k`` counts the heads in the row, so an entry that only continues a
    tail has k = 0 and a doc's k still sums to its number of lists."""
    if not len(docs):
        return
    key = d1_keys(docs)
    order = np.argsort(key, kind="stable")
    n_tail = (np.repeat(np.cumsum(lengths), lengths)
              - np.arange(len(docs)) - 1)[order]
    hi = np.cumsum(n_tail + 1)
    lo = hi - n_tail - 1
    # slot lo + t (t >= 1) of a membership holds docs[order + t]
    src = order - lo
    d1, key = docs[order], key[order]
    part = buckets(key.view(np.uint64) ^ _TOP, n_part)
    step = max(FLUSH_TAIL_VALUES, 1)
    m, a, b = _cut(lo, hi, step)
    bounds = np.append(_run_starts(a // step), len(m))
    for x, y in zip(bounds[:-1], bounds[1:]):
        j, p_lo, p_hi = _cut(a[x:y], b[x:y], row_values)
        i = m[x:y][j]
        cell = p_lo // row_values
        t_lo = np.maximum(p_lo, lo[i] + 1)
        t_n = np.maximum(p_hi - t_lo, 0)
        voff = np.append(0, np.cumsum(t_n))
        take = (np.arange(voff[-1], dtype=np.int64)
                + np.repeat(src[i] + t_lo - voff[:-1], t_n))
        entry = _run_starts(cell, d1[i])
        n = np.add.reduceat(t_n, entry)
        e = i[entry]
        rows = np.append(_run_starts(cell[entry], part[e]), len(entry))
        yield pa.RecordBatch.from_arrays([
            pa.array(part[e][rows[:-1]]),
            pa.array(key[e][rows[:-1]]),
            _blob(d1[e], rows),
            _blob(np.add.reduceat((p_lo == lo[i]).astype(np.int64), entry),
                  rows),
            _blob(n, rows),
            _blob(docs[take], np.append(0, np.cumsum(n))[rows]),
        ], names=["part", "start", "d1", "k", "n", "tail"])


def shared_shingle_counts(batches, threshold: float):
    """``mapInArrow`` function: (part, start, d1, k, n, tail) blob rows
    sorted on ``start`` -> ``OUT_SCHEMA`` batches holding every pair that
    can still reach ``round(jaccard, 6) >= threshold`` with its
    shared-shingle count and d1's size (the sum of its ``k``), plus one
    size row (d2 and common null) per d1.

    Rows are gathered until they hold FLUSH_TAIL_VALUES values; then the
    d1 keyed below the next row's start, which no later row holds, are
    counted and the rest kept. A start below the one before means the
    rows are not sorted; counting on would split a d1, so it raises."""
    forget_zip_importers()
    held, size, limit, last = [], 0, FLUSH_TAIL_VALUES, None
    for start, row in blob_rows(batches, "start", d1=np.int64, k=np.int64,
                                n=np.int64, tail=np.int64):
        if last is not None and start < last:
            raise RuntimeError(
                "shared_shingle_counts: a row starting at %d came after "
                "one starting at %d; rows are not sorted on start"
                % (start, last))
        last = start
        if size >= limit:
            d1, k, n, tail = (np.concatenate(c) for c in zip(*held))
            done = d1_keys(d1) < start
            if done.any():
                yield _counts(d1[done], k[done], n[done],
                              tail[np.repeat(done, n)], threshold)
            keep = ~done
            held = [(d1[keep], k[keep], n[keep], tail[np.repeat(keep, n)])]
            size = int(keep.sum()) + len(held[0][3])
            limit = size + FLUSH_TAIL_VALUES
        held.append(row)
        size += len(row[0]) + len(row[3])
    if held:
        d1, k, n, tail = (np.concatenate(c) for c in zip(*held))
        if len(d1):
            yield _counts(d1, k, n, tail, threshold)


def _counts(d1, k, n, tail, threshold):
    docs, inv = np.unique(d1, return_inverse=True)
    sz = np.bincount(inv, weights=k, minlength=len(docs)).astype(np.int64)
    g, d2, common = pair_counts(np.repeat(inv.astype(np.int64), n), tail,
                                len(docs))
    # round(jaccard, 6) >= t needs jaccard >= t - 5e-7, and
    # jaccard = common / (sz1 + sz2 - common) <= common / sz1 because
    # sz2 >= common (doc ids are unique); so common >= (t - 1e-6) * sz1
    # is necessary, and the -1 absorbs float error on the product
    # (common is integral). The exact filter runs after sz2 is known.
    keep = common >= (threshold - 1e-6) * sz[g] - 1
    g, d2, common = g[keep], d2[keep], common[keep]
    none = np.concatenate([np.zeros(len(g), bool), np.ones(len(docs), bool)])
    return pa.RecordBatch.from_arrays([
        pa.array(np.concatenate([docs[g], docs])),
        pa.array(np.concatenate([d2, docs]), mask=none),
        pa.array(np.concatenate([common, sz]), mask=none),
        pa.array(np.concatenate([sz[g], sz])),
    ], schema=OUT_SCHEMA)
