"""kernels/pyworker.forget_zip_importers: a Spark-free check that it drops
the zip importers and leaves imports working, and a worker-side gate that
every shared kernel iterator, and every Python stage kernel that runs
outside them (the grid, model and imgstage kernels), calls it, so a
reused Python worker holds no zip importer for the next task's
``importlib.invalidate_caches()`` to re-read."""

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pdftabextract_spark.kernels.overlap import (
    d1_keys, posting_blobs, shared_shingle_counts, stop_shingle_census)
from pdftabextract_spark.kernels.pagegroups import iter_page_groups
from pdftabextract_spark.kernels.png import encode_png
from pdftabextract_spark.kernels.pyworker import forget_zip_importers
from pdftabextract_spark.kernels.shingles import key_blobs, word_grams
from pdftabextract_spark.operators.grid import assign_batches
from pdftabextract_spark.operators.imgstage import (
    border_position_batches, line_batches, rotation_group,
    rotation_line_batches)
from pdftabextract_spark.operators.model import repair_batches
from pdftabextract_spark.sources.spans import frames


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_forget_drops_zip_importers_and_imports_still_work(tmp_path):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyworker_zip_pkg/__init__.py", "")
        z.writestr("pyworker_zip_pkg/first.py", "VALUE = 1\n")
        z.writestr("pyworker_zip_pkg/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module("pyworker_zip_pkg.first")
        assert first.VALUE == 1
        assert _zip_importers()
        forget_zip_importers()
        assert _zip_importers() == []
        second = importlib.import_module("pyworker_zip_pkg.second")
        assert second.VALUE == 2
        importlib.invalidate_caches()
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules
                     if m.split(".")[0] == "pyworker_zip_pkg"]:
            del sys.modules[name]


def _frames_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.array("id").alias("spans"))


def _page_groups_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.lit("d").alias("doc_id"), F.col("id").cast("int").alias("page"))


def _blob(*values):
    return F.lit(bytearray(np.array(values, np.int64).tobytes()))


def _shingle_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.lit(0).alias("part"),
        F.lit(int(d1_keys(np.array([5]))[0])).alias("start"),
        _blob(5).alias("d1"), _blob(1).alias("k"), _blob(1).alias("n"),
        _blob(9).alias("tail"))


def _text_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text"))


def _posting_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.col("id").cast("int").alias("bucket"), _blob(7, 8).alias("doc"),
        _blob(9, 9).alias("s"))


def _joined_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.lit("d").alias("doc_id"), F.col("id").cast("int").alias("page"),
        F.col("id").cast("int").alias("box_id"),
        *(F.lit(v).alias(c) for c, v in (
            ("left", 1.0), ("top", 1.0), ("width", 2.0), ("height", 2.0))),
        F.lit("v").alias("value"),
        F.array(F.lit(0.0), F.lit(5.0)).alias("col_positions"),
        F.array(F.lit(0.0), F.lit(5.0)).alias("row_positions"))


def _centers_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.array(F.col("id").cast("double"), F.lit(9.0)).alias("centers"))


def _image_input(spark):
    img = np.zeros((24, 24), dtype=np.uint8)
    img[:, 12] = 255
    img[8, :] = 255
    png = bytearray(encode_png(img))
    return spark.createDataFrame(
        [("d", page, "m", png) for page in (1, 2)],
        "doc_id string, page int, media_ref string, bytes binary"
    ).coalesce(1)


def _lines_input(spark):
    return spark.range(2, numPartitions=1).select(
        F.lit("d").alias("doc_id"), F.lit(1).alias("page"),
        F.lit(24.0).alias("img_w"), F.lit(24.0).alias("img_h"),
        F.col("id").cast("double").alias("rho"),
        F.lit(0.0).alias("theta"), F.lit(0.0).alias("theta_norm"),
        F.lit("v").alias("direction"))


@pytest.mark.parametrize("name, build, start", [
    ("line_batches", _image_input,
     lambda batches: line_batches(b.to_pandas() for b in batches)),
    ("rotation_line_batches", _image_input,
     lambda batches: rotation_line_batches(
         (b.to_pandas() for b in batches), 0.01, 0.02)),
    ("rotation_group", _lines_input,
     lambda batches: (rotation_group(b.to_pandas(), 0.01, 0.02)
                      for b in batches)),
    ("border_position_batches", _lines_input,
     lambda batches: border_position_batches(
         (b.to_pandas() for b in batches), "v")),
    ("assign_batches", _joined_input,
     lambda batches: assign_batches(b.to_pandas() for b in batches)),
    ("repair_batches", _centers_input,
     lambda batches: repair_batches(
         (b.column("centers").to_pandas() for b in batches),
         np.array([0.0, 5.0]))),
    ("frames", _frames_input, frames),
    ("iter_page_groups", _page_groups_input,
     lambda batches: iter_page_groups(batches, "gate")),
    ("shared_shingle_counts", _shingle_input,
     lambda batches: shared_shingle_counts(batches, 0.5)),
    ("word_grams", _text_input, lambda batches: word_grams(batches, 2)),
    ("key_blobs", _text_input, lambda batches: key_blobs(batches, 2, 4)),
    ("posting_blobs", _posting_input,
     lambda batches: posting_blobs(batches, None, 4, 2)),
    ("stop_shingle_census", _posting_input,
     lambda batches: stop_shingle_census(batches, 1)),
])
def test_kernel_iterator_leaves_worker_without_zip_importers(
        spark, name, build, start):
    def probe(batches):
        # not _zip_importers: the worker cannot import this test module
        def n_zip_importers():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        batches = list(batches)
        # a fresh worker's first pass imports pandas (pyarrow's
        # to_numpy), which searches, and so re-caches, every zip on the
        # path; a reused worker has done that already
        for _ in start(iter(batches)):
            pass
        # an earlier task may have cleared the cache: put back an
        # importer for every zip on the path
        for entry in sys.path:
            pkgutil.get_importer(entry)
        before = n_zip_importers()
        next(start(iter(batches)), None)
        yield pa.RecordBatch.from_pydict(
            {"before": [before], "after": [n_zip_importers()]})

    row = build(spark).mapInArrow(
        probe, "before long, after long").collect()[0]
    assert row.before > 0, "the worker has no zip on its path; gate is void"
    assert row.after == 0, "%s left %d zip importers" % (name, row.after)
