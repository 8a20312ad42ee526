"""Page groups over a stream of Arrow batches.

The per-page kernels (operators/clustering.page_profiles,
operators/grid.profile_and_pack and pack_joined) read rows whose
(doc_id, page) groups arrive contiguously within a partition, but Arrow
cuts the partition into batches without regard to pages.
``iter_page_groups`` re-cuts the stream of pyarrow record batches
(mapInArrow) so every page is handed over whole, exactly once. It first
calls kernels/pyworker.forget_zip_importers, so the Python worker that
runs the task skips the zip re-reads of its next task's setup.
"""

import numpy as np
import pyarrow as pa

from .pyworker import forget_zip_importers


def column(batch: pa.RecordBatch, name: str, dtype=None) -> np.ndarray:
    """A record batch column as a numpy array; a null becomes NaN in a
    numeric column and None in a string column, as in a pandas frame."""
    return np.asarray(batch.column(name).to_numpy(zero_copy_only=False),
                      dtype=dtype)


def page_bounds(doc_ids: np.ndarray, pages: np.ndarray) -> np.ndarray:
    """Run bounds of equal (doc_id, page) in row order: run i covers rows
    [b[i], b[i+1]); the last entry is the row count."""
    n = len(pages)
    same_page = pages[1:] == pages[:-1]
    if pages.dtype.kind == "f":
        # a null page arrives as NaN; its rows still form one group
        same_page |= np.isnan(pages[1:]) & np.isnan(pages[:-1])
    brk = np.ones(n + 1, dtype=bool)
    brk[1:n] = (doc_ids[1:] != doc_ids[:-1]) | ~same_page
    return np.flatnonzero(brk)


def iter_page_groups(batches, name: str):
    """Arrow record batches -> (batch, bounds) pairs in which every page
    is complete and ``bounds`` = page_bounds of the batch.

    The trailing page of a batch is held back and prepended to the next
    one. A page that recurs after its group closed means the input was
    not page-contiguous; emitting it would produce duplicate partial
    pages, so it raises instead."""
    forget_zip_importers()
    seen = set()

    def closed(batch, doc_ids, pages, bounds):
        for s in bounds[:-1]:
            key = (doc_ids[s], pages[s])
            if key in seen:
                raise RuntimeError(
                    "%s: page %r recurred after its group closed; input "
                    "rows are not page-contiguous" % (name, key))
            seen.add(key)
        return batch, bounds

    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks() \
                .to_batches()[0]
        doc_ids, pages = column(batch, "doc_id"), column(batch, "page")
        bounds = page_bounds(doc_ids, pages)
        last = bounds[-2]
        carry = batch.slice(last)
        if last:
            yield closed(batch.slice(0, last), doc_ids, pages, bounds[:-1])
    if carry is not None:
        yield closed(carry, column(carry, "doc_id"), column(carry, "page"),
                     np.array([0, carry.num_rows]))
