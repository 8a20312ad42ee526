"""Word n-gram shingles per document over a stream of Arrow batches.

operators/dedup.word_shingles runs ``word_grams`` as a ``mapInArrow``
stage over (doc_id, text) rows. Each text is split on " " as Spark's
``split(text, " ")`` splits it: empty tokens stay, leading and trailing
ones too, so "a  b" has the tokens "a", "" and "b". A gram is ``n``
consecutive tokens joined by " ", and each doc's distinct grams come out
as (doc_id, gram) rows. A row with a null text or fewer than ``n``
tokens gives no rows; a row with a null doc_id gives its grams with a
null doc_id. The kernel first calls
kernels/pyworker.forget_zip_importers, so the Python worker that runs the
task skips the zip re-reads of its next task's setup.
"""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .pyworker import forget_zip_importers

# gram bytes one pass builds at most (about n times the text bytes of its
# rows), so the joined grams stay far below the 2 GiB offsets of an
# Arrow string array; a single longer row is one pass of its own
MAX_PASS_GRAM_BYTES = 1 << 27


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


def _distinct_grams(batch, n):
    ids, text = batch.column(0), batch.column(1)
    words = pc.split_pattern(text, " ")
    n_words = pc.list_value_length(words).fill_null(0).to_numpy()
    n_grams = np.where(n_words >= n, n_words - n + 1, 0)
    row = np.repeat(np.arange(len(n_grams), dtype=np.int64), n_grams)
    first = (words.offsets.to_numpy()[:-1].astype(np.int64)
             - np.cumsum(n_grams) + n_grams)
    at = np.arange(len(row), dtype=np.int64) + np.repeat(first, n_grams)
    tokens = words.values
    grams = tokens.take(at)
    if n > 1:
        grams = pc.binary_join_element_wise(
            grams, *(tokens.take(at + j) for j in range(1, n)), " ")
    coded = grams.dictionary_encode()
    n_codes = len(coded.dictionary)
    key = np.unique(row * n_codes + coded.indices.to_numpy())
    return pa.RecordBatch.from_arrays(
        [ids.take(key // n_codes), coded.dictionary.take(key % n_codes)],
        names=["doc_id", "s"])
