"""kernels/pagegroups.iter_page_groups on hand-built Arrow batches: pages
that straddle batches come out whole and once; a page that recurs after
its group closed raises."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pdftabextract_spark.kernels.pagegroups import iter_page_groups


def _batch(rows):
    return pa.RecordBatch.from_pandas(
        pd.DataFrame(rows, columns=["doc_id", "page", "v"]).astype(
            {"doc_id": str, "page": "int32", "v": "int64"}),
        preserve_index=False)


def _groups(batches):
    """(doc_id, page) -> list of v, one entry per emitted page."""
    out = []
    for batch, bounds in iter_page_groups(iter(batches), "test"):
        pdf = batch.to_pandas()
        assert bounds[0] == 0 and bounds[-1] == len(pdf)
        for s, e in zip(bounds[:-1], bounds[1:]):
            keys = set(zip(pdf["doc_id"].iloc[s:e], pdf["page"].iloc[s:e]))
            assert len(keys) == 1
            out.append((keys.pop(), list(pdf["v"].iloc[s:e])))
    return out


def test_page_over_three_batches_comes_out_once_and_whole():
    batches = [
        _batch([("a", 1, 0), ("a", 2, 1), ("a", 2, 2)]),
        _batch([("a", 2, 3)]),
        _batch([]),
        _batch([("a", 2, 4), ("b", 1, 5)]),
        _batch([("b", 1, 6)]),
    ]
    assert _groups(batches) == [
        (("a", 1), [0]),
        (("a", 2), [1, 2, 3, 4]),
        (("b", 1), [5, 6]),
    ]


def test_same_page_number_in_two_docs_is_two_groups():
    batches = [_batch([("a", 1, 0), ("b", 1, 1)]), _batch([("c", 1, 2)])]
    assert [k for k, _ in _groups(batches)] == [("a", 1), ("b", 1), ("c", 1)]


@pytest.mark.parametrize("batches", [
    # interleaved: page 1 recurs after page 2 closed it
    [_batch([("a", 1, 0), ("a", 2, 1)]), _batch([("a", 1, 2), ("a", 3, 3)])],
    # the recurrence is the last key of its batch (and of the stream)
    [_batch([("a", 1, 0), ("a", 2, 1), ("a", 1, 2)])],
    # ... or the last key of a middle batch
    [_batch([("a", 1, 0), ("a", 2, 1), ("a", 1, 2)]), _batch([("a", 3, 3)])],
], ids=["interleaved", "last-key", "last-key-mid-stream"])
def test_recurrence_raises(batches):
    with pytest.raises(RuntimeError, match="not page-contiguous"):
        _groups(batches)


def test_null_pages_form_one_group():
    batch = pa.RecordBatch.from_pydict({"doc_id": ["a", "a", "a"],
                                        "page": [None, None, 1],
                                        "v": [0, 1, 2]})
    sizes = [np.diff(bounds).tolist()
             for _, bounds in iter_page_groups(iter([batch]), "test")]
    assert sizes == [[2], [1]]
