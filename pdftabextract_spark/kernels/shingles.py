"""Word n-gram shingles per document over a stream of Arrow batches.

Each text is split on " " as Spark's ``split(text, " ")`` splits it:
empty tokens stay, leading and trailing ones too, so "a  b" has the
tokens "a", "" and "b". A gram is ``n`` consecutive tokens joined by " ".
A row with a null text or fewer than ``n`` tokens gives no grams.

operators/dedup.word_shingles runs ``word_grams`` as a ``mapInArrow``
stage over (doc_id, text) rows: each doc's distinct grams come out as
(doc_id, gram) rows, and a row with a null doc_id gives its grams with a
null doc_id.

operators/dedup.ngram_jaccard_pairs runs ``key_blobs`` instead: each
distinct gram of a doc becomes a 64-bit key (``gram_keys``), and the
(doc, key) pairs leave as blob rows of kernels/overlap, one per key
bucket, ready for ``repartitionById``.

Gram keys. A token's key is a vector multiply-shift hash (Dietzfelbinger
1996; Thorup, "High speed hashing for integers and strings", 2015) of
its length and its bytes in 32-bit little-endian chunks, and a gram's
key is the same hash of its tokens' keys (two 32-bit halves each). Each
hash takes the top 32 bits of ``sum(a_i * x_i) mod 2^64`` twice, with
two sets of 64-bit multipliers ``a_i``, and puts the halves together.
The multipliers are splitmix64 outputs of fixed counters, so a key
depends only on the gram's bytes: equal in every batch, task and
process, whatever PYTHONHASHSEED is. Since a token holds no " ", a gram
and its token sequence determine each other. The family is strongly
universal on each half, so two distinct grams get one key with
probability about 2^-64 for text not chosen against the fixed
multipliers, and about m^2 / 2^65 of the pairs among m distinct grams
collide: the birthday bound of Spark's ``xxhash64``, which
``word_shingles(hashed=True)`` uses. Like ``xxhash64`` with its fixed
seed, the hash is not meant to resist grams crafted to collide. Grams
that collide are one shingle for ngram_jaccard_pairs, as two grams with
one ``xxhash64`` were.

Every kernel first calls kernels/pyworker.forget_zip_importers, so the
Python worker that runs the task skips the zip re-reads of its next
task's setup.
"""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .overlap import _run_starts, blob_batches, buckets, mix64
from .pyworker import forget_zip_importers

KEY_BLOB_DDL = "bucket int, doc binary, s binary"

# gram bytes one pass builds at most (about n times the text bytes of its
# rows), so the joined grams stay far below the 2 GiB offsets of an
# Arrow string array; a single longer row is one pass of its own
MAX_PASS_GRAM_BYTES = 1 << 27

_U32 = np.uint64(32)
_LOW32 = np.uint64(0xFFFFFFFF)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def word_grams(batches, n: int):
    """``mapInArrow`` function: (doc_id, text) batches -> (doc_id, s)
    batches with each doc's distinct word ``n``-grams, doc_id keeping its
    input type. The grams of a doc are deduplicated within its row, so a
    doc split over two input rows yields its grams once per row."""
    forget_zip_importers()
    for batch in batches:
        for part in _passes(batch, n):
            out = _distinct_grams(part, n)
            if out.num_rows:
                yield out


def _passes(batch, n):
    """Row slices of ``batch`` of at most MAX_PASS_GRAM_BYTES gram bytes
    each (one row when a row alone exceeds it)."""
    size = pc.binary_length(batch.column(1)).fill_null(0).to_numpy()
    ends = np.cumsum(size.astype(np.int64) * n)
    start = 0
    while start < batch.num_rows:
        done = ends[start - 1] if start else 0
        stop = max(start + 1, int(np.searchsorted(
            ends, done + MAX_PASS_GRAM_BYTES, side="right")))
        yield batch.slice(start, stop - start)
        start = stop


def key_blobs(batches, n: int, n_buckets: int):
    """``mapInArrow`` function: (doc_id, text) batches, doc_id an integral
    column without nulls -> (bucket, doc, s) blob rows
    (``KEY_BLOB_DDL``): each doc's distinct gram keys, sorted by key, one
    row per key bucket (kernels/overlap.buckets) of each pass over a
    batch (kernels/overlap.blob_batches). The grams of a doc are
    deduplicated within its row, so a doc split over two input rows
    yields its keys once per row."""
    forget_zip_importers()
    for batch in batches:
        for part in _passes(batch, n):
            row, tokens, at = _gram_tokens(part, n)
            if not len(row):
                continue
            key = gram_keys(tokens, at, n)
            order = np.argsort(key, kind="stable")  # by key, then row
            key, row = key[order], row[order]
            first = _run_starts(key, row)
            key = key[first]
            doc = part.column(0).to_numpy().astype(np.int64, copy=False)
            yield from blob_batches(buckets(key, n_buckets),
                                    doc=doc[row[first]], s=key)


def _gram_tokens(batch, n):
    """(doc_id, text) batch -> (row, tokens, at): the batch's gram g is
    ``tokens[at[g]:at[g] + n]`` of the text in row ``row[g]``, the grams
    of a row in text order."""
    words = pc.split_pattern(batch.column(1), " ")
    n_words = pc.list_value_length(words).fill_null(0).to_numpy()
    n_grams = np.where(n_words >= n, n_words - n + 1, 0)
    row = np.repeat(np.arange(len(n_grams), dtype=np.int64), n_grams)
    first = (words.offsets.to_numpy()[:-1].astype(np.int64)
             - np.cumsum(n_grams) + n_grams)
    at = np.arange(len(row), dtype=np.int64) + np.repeat(first, n_grams)
    return row, words.values, at


def _distinct_grams(batch, n):
    row, tokens, at = _gram_tokens(batch, n)
    grams = tokens.take(at)
    if n > 1:
        grams = pc.binary_join_element_wise(
            grams, *(tokens.take(at + j) for j in range(1, n)), " ")
    coded = grams.dictionary_encode()
    n_codes = len(coded.dictionary)
    key = np.unique(row * n_codes + coded.indices.to_numpy())
    return pa.RecordBatch.from_arrays(
        [batch.column(0).take(key // n_codes),
         coded.dictionary.take(key % n_codes)],
        names=["doc_id", "s"])


def gram_keys(tokens: pa.Array, at: np.ndarray, n: int) -> np.ndarray:
    """The uint64 key of every gram ``tokens[at[g]:at[g] + n]`` (see the
    module docstring)."""
    coded = tokens.dictionary_encode()
    tok = _string_keys(coded.dictionary)[coded.indices.to_numpy()][
        at[:, None] + np.arange(n)]
    a = _multipliers(2 * n + 1, stage=1)
    h = np.repeat(a[:, :1], len(at), axis=1)
    for j in range(n):
        h += a[:, 2 * j + 1, None] * (tok[:, j] >> _U32)
        h += a[:, 2 * j + 2, None] * (tok[:, j] & _LOW32)
    return _halves(h)


def _string_keys(strings: pa.Array) -> np.ndarray:
    """The uint64 key of every string of a pyarrow string array: the
    hash of (length, 32-bit chunks of its bytes, zero-padded)."""
    _, offsets, data = strings.buffers()
    width = np.int64 if pa.types.is_large_string(strings.type) else np.int32
    offsets = np.frombuffer(offsets, width)[
        strings.offset:strings.offset + len(strings) + 1].astype(np.int64)
    start, length = offsets[:-1], np.diff(offsets)
    raw = (np.frombuffer(data, np.uint8)[:offsets[-1]] if data is not None
           else np.zeros(0, np.uint8))
    padded = np.concatenate([raw, np.zeros(4, np.uint8)])
    # a little-endian uint32 starting at every byte of the buffer
    chunks_at = np.ndarray((len(padded) - 3,), "<u4", padded, strides=(1,))
    n_chunks = (length + 3) // 4
    owner = np.repeat(np.arange(len(length)), n_chunks)
    pos = np.arange(len(owner)) - np.repeat(np.cumsum(n_chunks) - n_chunks,
                                            n_chunks)
    left = length[owner] - 4 * pos  # bytes of the string from this chunk on
    chunk = chunks_at[start[owner] + 4 * pos].astype(np.uint64) & (
        (np.uint64(1) << (8 * np.minimum(left, 4)).astype(np.uint64))
        - np.uint64(1))
    a = _multipliers(int(n_chunks.max(initial=0)) + 2, stage=0)
    ends = np.cumsum(n_chunks)
    h = a[:, :1] + a[:, 1:2] * length.astype(np.uint64)
    for half in (0, 1):
        sums = np.append(np.uint64(0), np.cumsum(a[half, 2 + pos] * chunk))
        h[half] += sums[ends] - sums[ends - n_chunks]
    return _halves(h)


def _multipliers(count: int, stage: int) -> np.ndarray:
    """(2, count) uint64 multipliers, one row per hash half: splitmix64
    outputs at counters fixed by (stage, half, index), so a multiplier
    never depends on ``count``."""
    counters = (np.arange(count, dtype=np.uint64)
                + (np.arange(2, dtype=np.uint64)[:, None] << _U32)
                + np.uint64(stage << 40))
    return mix64((counters + np.uint64(1)) * _GOLDEN)


def _halves(h: np.ndarray) -> np.ndarray:
    """Two rows of multiply-shift sums -> their top 32 bits as one uint64."""
    return (h[0] >> _U32 << _U32) | (h[1] >> _U32)
