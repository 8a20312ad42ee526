"""Shared-shingle counts per document: the posting and counting kernels
of operators/dedup.ngram_jaccard_pairs, over streams of Arrow batches.

``posting_tails`` reads (doc_id, s) shingle rows sorted on the shingle
hash ``s``. It builds each shingle's sorted doc list (its posting list),
drops the shingles in more than ``max_shingle_df`` docs, and emits one
(d1, k, tail) row per doc per flush: ``k`` is the number of d1's kept
shingles in the flush and ``tail`` the concatenated docs after d1 in
those shingles' lists. ``shared_shingle_counts`` reads those rows with
all rows of one d1 together. A doc's size is the sum of its ``k``, and
counting each d2 over the concatenated tails of its group gives the
number of shingles the pair (d1, d2) shares. The pairs are counted one
document at a time, in memory, instead of as one row per pair through an
exchange and a hash aggregation. Both kernels first call
kernels/pyworker.forget_zip_importers, so the Python worker that runs the
task skips the zip re-reads of its next task's setup.
"""

import numpy as np
import pyarrow as pa

from .pyworker import forget_zip_importers

POSTING_SCHEMA = pa.schema([("d1", pa.int64()), ("k", pa.int64()),
                            ("tail", pa.list_(pa.int64()))])
POSTING_DDL = "d1 long, k long, tail array<long>"
OUT_SCHEMA = pa.schema([("d1", pa.int64()), ("d2", pa.int64()),
                        ("common", pa.int64()), ("sz", pa.int64())])
OUT_DDL = "d1 long, d2 long, common long, sz long"

# docs plus tail values a posting task buffers before it emits their
# rows, and the most tail values one emitted batch holds: it bounds the
# task's memory, give or take one batch's lists; a larger flush emits
# fewer rows into the d1 exchange
FLUSH_TAIL_VALUES = 1 << 22

_INT64_MAX = int(np.iinfo(np.int64).max)


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


def _run_starts(*cols: np.ndarray) -> np.ndarray:
    """Start index of every run of equal values across ``cols``."""
    brk = np.zeros(len(cols[0]), dtype=bool)
    brk[:1] = True
    for c in cols:
        brk[1:] |= c[1:] != c[:-1]
    return np.flatnonzero(brk)


def posting_tails(batches, max_shingle_df):
    """``mapInArrow`` function: (doc_id, s) batches sorted on ``s`` ->
    ``POSTING_SCHEMA`` batches. ``max_shingle_df=None`` keeps every
    shingle.

    A shingle's doc list counts each doc once (a 64-bit collision of two
    grams of one doc is one shingle), and the trailing shingle of a batch
    is held back and prepended to the next batch, so a list split across
    batches is built whole. A held-back list is dropped as soon as it
    holds more than ``max_shingle_df`` docs, so a stop-shingle costs at
    most that many docs plus one batch of memory however long its list.
    The kept lists are buffered, a batch's lists at a time, until their
    docs and tails reach FLUSH_TAIL_VALUES values; each flush emits one
    row per doc it holds, sorted by d1, in batches of at most
    FLUSH_TAIL_VALUES tail values (see _tail_rows). Input not sorted on
    ``s`` raises."""
    forget_zip_importers()
    carry = None
    hot = None  # the s of a held-back list found over the cap
    buf, pending = [], 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        s = batch.column("s").to_numpy()
        d = batch.column("doc_id").to_numpy().astype(np.int64, copy=False)
        if carry is not None:
            s, d = np.concatenate([carry[0], s]), np.concatenate([carry[1], d])
        if (s[1:] < s[:-1]).any() or (hot is not None and s[0] < hot):
            raise RuntimeError(
                "posting_tails: input rows are not sorted on s")
        if hot is not None:
            cut = int(np.searchsorted(s, hot, side="right"))
            if cut == len(s):
                continue
            s, d, hot = s[cut:], d[cut:], None
        last = int(_run_starts(s)[-1])
        carry = s[last:], d[last:]
        if max_shingle_df is not None and len(carry[1]) > max_shingle_df:
            docs = np.unique(carry[1])
            if len(docs) > max_shingle_df:
                carry, hot = None, s[last]
            else:
                carry = s[last:last + len(docs)], docs
        buf.append(_postings(s[:last], d[:last], max_shingle_df))
        docs, lengths = buf[-1]
        pending += len(docs) + int((lengths * (lengths - 1) // 2).sum())
        if pending >= FLUSH_TAIL_VALUES:
            yield from _tail_rows(*map(np.concatenate, zip(*buf)))
            buf, pending = [], 0
    if carry is not None:
        buf.append(_postings(*carry, max_shingle_df))
    if buf:
        yield from _tail_rows(*map(np.concatenate, zip(*buf)))


def _postings(s, d, max_shingle_df):
    """Complete shingle groups (``s`` sorted) -> the kept posting lists:
    their docs, each list sorted and free of repeats, and their lengths."""
    if not len(s):
        return d, np.zeros(0, np.int64)
    starts = _run_starts(s)
    gid = np.repeat(np.arange(len(starts), dtype=np.int64),
                    np.diff(np.append(starts, len(s))))
    g, docs, _ = pair_counts(gid, d, len(starts))
    df = np.bincount(g, minlength=len(starts))
    if max_shingle_df is not None:
        keep = df <= max_shingle_df
        docs, df = docs[np.repeat(keep, df)], df[keep]
    return docs, df


def _tail_rows(docs, lengths):
    """Posting lists -> (d1, k, tail) rows sorted by d1, in batches of at
    most FLUSH_TAIL_VALUES tail values, so a long list (exact mode) never
    builds all its tails at once. Each doc of each list has a piece: its
    tail, cut where a batch's values end. A batch holds one row per doc
    it has pieces of; ``k`` counts only the first pieces, so a row that
    continues a cut tail can carry k = 0 and a doc's k still sums to its
    number of lists."""
    if not len(docs):
        return
    end = np.repeat(np.cumsum(lengths), lengths)
    at = np.arange(len(docs), dtype=np.int64)
    order = np.argsort(docs, kind="stable")
    src = (at + 1)[order]
    offsets = np.append(0, np.cumsum((end - at - 1)[order]))
    step = max(FLUSH_TAIL_VALUES, 1)
    n_batches = max(1, -(-int(offsets[-1]) // step))
    lo, hi = offsets[:-1], offsets[1:]
    first = lo // step
    n_pieces = np.maximum(hi - 1, lo) // step - first + 1
    elem = np.repeat(np.arange(len(docs), dtype=np.int64), n_pieces)
    j = np.arange(len(elem)) - np.repeat(np.cumsum(n_pieces) - n_pieces,
                                         n_pieces)
    batch = np.minimum(first[elem] + j, n_batches - 1)
    start = np.maximum(lo[elem], batch * step)
    size = np.minimum(hi[elem], (batch + 1) * step) - start
    src = src[elem] + start - lo[elem]
    d1, k = docs[order][elem], (j == 0).astype(np.int64)
    bounds = np.searchsorted(batch, np.arange(n_batches + 1))
    for a, b in zip(bounds[:-1], bounds[1:]):
        n = size[a:b]
        voff = np.append(0, np.cumsum(n))
        take = (np.arange(voff[-1], dtype=np.int64)
                + np.repeat(src[a:b] - voff[:-1], n))
        rows = _run_starts(d1[a:b])
        yield pa.RecordBatch.from_arrays([
            pa.array(d1[a:b][rows]),
            pa.array(np.add.reduceat(k[a:b], rows)),
            pa.ListArray.from_arrays(
                pa.array(np.append(voff[rows], voff[-1]), pa.int32()),
                pa.array(docs[take], pa.int64())),
        ], schema=POSTING_SCHEMA)


def _counts_batch(d1, k, lengths, values, starts, threshold):
    """Complete d1 groups (row runs at ``starts``) -> one output batch:
    the candidate pairs (d1, d2, common, sz1), then one (d, null, null,
    sz) row per group."""
    docs = d1[starts]
    sz = np.add.reduceat(k, starts)
    gid = np.repeat(np.repeat(np.arange(len(docs), dtype=np.int64),
                              np.diff(np.append(starts, len(d1)))),
                    lengths)
    g, d2, common = pair_counts(gid, values, len(docs))
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


def shared_shingle_counts(batches, threshold: float):
    """``mapInArrow`` function: ``POSTING_SCHEMA`` batches whose d1
    groups are contiguous -> ``OUT_SCHEMA`` batches holding every pair
    that can still reach ``round(jaccard, 6) >= threshold`` with its
    shared-shingle count and d1's size (the sum of its rows' ``k``), plus
    one size row (d2 and common null) per d1.

    The trailing d1 group of a batch is held back and prepended to the
    next batch, so a group split across batches is counted whole. A d1
    that recurs after its group closed means the input was not grouped;
    counting it would split its pairs and size, so it raises instead."""
    forget_zip_importers()
    seen = set()
    carry = None

    def closed(d1, k, lengths, values, starts):
        for key in d1[starts].tolist():
            if key in seen:
                raise RuntimeError(
                    "shared_shingle_counts: d1 %r recurred after its group "
                    "closed; input rows are not grouped by d1" % key)
            seen.add(key)
        return _counts_batch(d1, k, lengths, values, starts, threshold)

    for batch in batches:
        if batch.num_rows == 0:
            continue
        tail = batch.column("tail")
        d1 = batch.column("d1").to_numpy()
        k = batch.column("k").to_numpy()
        lengths = tail.value_lengths().to_numpy()
        values = tail.flatten().to_numpy()
        if carry is not None:
            d1, k, lengths, values = (
                np.concatenate([c, x])
                for c, x in zip(carry, (d1, k, lengths, values)))
        starts = _run_starts(d1)
        last = starts[-1]
        cut = int(lengths[:last].sum())
        carry = (d1[last:], k[last:], lengths[last:], values[cut:])
        if last:
            yield closed(d1[:last], k[:last], lengths[:last], values[:cut],
                         starts[:-1])
    if carry is not None:
        yield closed(*carry, np.zeros(1, np.int64))
