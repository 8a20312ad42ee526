"""Shared-shingle counts per document over a stream of Arrow batches.

operators/dedup.ngram_jaccard_pairs hands ``shared_shingle_counts`` one
row per (shingle, doc): the doc ``d1`` and ``tail``, the docs after it in
the shingle's sorted doc list. All rows of one ``d1`` arrive together, so
a doc's row count is its shingle count, and counting each ``d2`` over the
concatenated tails of its group gives the number of shingles the pair
(d1, d2) shares. The pairs are counted one document at a time, in
memory, instead of as one row per pair through an exchange and a hash
aggregation. The kernel first calls kernels/pyworker.forget_zip_importers,
so the Python worker that runs the task skips the zip re-reads of its
next task's setup.
"""

import numpy as np
import pyarrow as pa

from .pyworker import forget_zip_importers

OUT_SCHEMA = pa.schema([("d1", pa.int64()), ("d2", pa.int64()),
                        ("common", pa.int64()), ("sz", pa.int64())])
OUT_DDL = "d1 long, d2 long, common long, sz long"

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


def _counts_batch(d1, lengths, values, starts, threshold):
    """Complete d1 groups (row runs at ``starts``) -> one output batch:
    the candidate pairs (d1, d2, common, sz1), then one (d, null, null,
    sz) row per group."""
    docs = d1[starts]
    sz = np.diff(np.append(starts, len(d1)))
    gid = np.repeat(np.repeat(np.arange(len(docs), dtype=np.int64), sz),
                    lengths)
    g, d2, common = pair_counts(gid, values, len(docs))
    # round(jaccard, 6) >= t needs jaccard >= t - 5e-7, and
    # jaccard = common / (sz1 + sz2 - common) <= common / sz1 because
    # sz2 >= common (doc ids are unique); so common >= (t - 1e-6) * sz1 is necessary, and the
    # -1 absorbs float error on the product (common is integral). The
    # exact filter runs after sz2 is known.
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
    """``mapInArrow`` function: (d1 long, tail array<long>) batches whose
    d1 groups are contiguous -> ``OUT_SCHEMA`` batches holding every pair
    that can still reach ``round(jaccard, 6) >= threshold`` with its
    shared-shingle count and d1's size, plus one size row (d2 and common
    null) per d1.

    The trailing d1 group of a batch is held back and prepended to the
    next batch, so a group split across batches is counted whole. A d1
    that recurs after its group closed means the input was not grouped;
    counting it would split its pairs and size, so it raises instead."""
    forget_zip_importers()
    seen = set()
    carry = None

    def closed(d1, lengths, values, starts):
        for key in d1[starts].tolist():
            if key in seen:
                raise RuntimeError(
                    "shared_shingle_counts: d1 %r recurred after its group "
                    "closed; input rows are not grouped by d1" % key)
            seen.add(key)
        return _counts_batch(d1, lengths, values, starts, threshold)

    for batch in batches:
        if batch.num_rows == 0:
            continue
        tail = batch.column("tail")
        d1 = batch.column("d1").to_numpy()
        lengths = tail.value_lengths().to_numpy()
        values = tail.flatten().to_numpy()
        if carry is not None:
            d1, lengths, values = (np.concatenate([c, x])
                                   for c, x in zip(carry, (d1, lengths,
                                                           values)))
        starts = _run_starts(d1)
        last = starts[-1]
        cut = int(lengths[:last].sum())
        carry = (d1[last:], lengths[last:], values[cut:])
        if last:
            yield closed(d1[:last], lengths[:last], values[:cut],
                         starts[:-1])
    if carry is not None:
        yield closed(*carry, np.zeros(1, np.int64))
