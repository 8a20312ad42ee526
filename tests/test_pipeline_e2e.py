"""End-to-end span-sequence equality: synthetic corpus ground truth vs the
full pipeline (north-rule invariant: (kind, text, media_ref, order) per
document)."""

import pytest
from pyspark.sql import DataFrame, functions as F

from pdftabextract_spark.sources import synth
from pdftabextract_spark.operators import curation
from pdftabextract_spark.operators.clustering import cluster_centers
from pdftabextract_spark.operators.model import fit_and_repair
from pdftabextract_spark.plans import pipeline
from pdftabextract_spark.plans.pipeline import (
    PipelineParams, extract_from_span_table, extract_cells)
from pdftabextract_spark.sources.spans import textboxes_from_spans


PARAMS = synth.CorpusParams(seed=42, n_docs=24, n_cols=5)
PIPE = PipelineParams(n_cols=PARAMS.n_cols,
                      min_col_width=PARAMS.min_col_width,
                      min_row_height=PARAMS.min_row_height)


def _mismatches(result, expected):
    r = result.select("doc_id", "offset", "kind", "text", "media_ref")
    e = expected.select(
        "doc_id", "offset",
        F.col("kind").alias("e_kind"), F.col("text").alias("e_text"),
        F.col("media_ref").alias("e_media_ref"))
    joined = r.join(e, ["doc_id", "offset"], "full_outer")
    bad = joined.where(
        ~(F.col("kind").eqNullSafe(F.col("e_kind"))
          & F.col("text").eqNullSafe(F.col("e_text"))
          & F.col("media_ref").eqNullSafe(F.col("e_media_ref"))))
    return bad


def test_span_sequence_equality_text_corpus(spark):
    span_docs = synth.span_docs_df(spark, PARAMS)
    result = extract_from_span_table(span_docs, PIPE)
    expected = synth.expected_spans_df(spark, PARAMS)

    n_result = result.count()
    n_expected = expected.count()
    assert n_expected > 0
    assert n_result == n_expected

    bad = _mismatches(result, expected)
    rows = bad.limit(20).collect()
    assert not rows, "span mismatches: %s" % rows


def test_zero_area_boxes_dropped_at_scan(spark):
    span_docs = synth.span_docs_df(spark, PARAMS)
    boxes = textboxes_from_spans(span_docs)
    assert boxes.where(F.col("value") == "ZERO").count() == 0
    assert boxes.where((F.col("width") <= 0) | (F.col("height") <= 0)).count() == 0


def test_cells_match_ground_truth(spark):
    span_docs = synth.span_docs_df(spark, PARAMS)
    boxes = textboxes_from_spans(span_docs)
    cells = extract_cells(boxes, PIPE)
    gt = synth.gt_cells_df(spark, PARAMS)

    joined = cells.join(
        gt.withColumnRenamed("cell_text", "gt_text"),
        ["doc_id", "page", "row_idx", "col_idx"], "full_outer")
    bad = joined.where(~F.col("cell_text").eqNullSafe(F.col("gt_text")))
    rows = bad.limit(10).collect()
    assert not rows, "cell mismatches: %s" % rows


def test_packed_pages_unique_across_batch_splits(spark):
    """Pages straddling Arrow batches must not emit duplicate partial rows
    (regression: output depended on parallelism), and the span-table
    path (span kernels, no exchange) must emit exactly the spans the
    box-table path (exchange, packed pages, doc_id window) emits."""
    from pdftabextract_spark.plans.pipeline import (
        extract_cells_packed, result_spans_packed)
    # tiny Arrow batches force every page to straddle batch boundaries
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        span_docs = synth.span_docs_df(spark, PARAMS)
        expected = synth.expected_spans_df(spark, PARAMS).count()
        packed = extract_cells_packed(textboxes_from_spans(span_docs), PIPE)
        assert packed.count() == packed.select(
            "doc_id", "page").distinct().count()
        assert packed.agg(F.sum(F.size("cells"))).collect()[0][0] == expected
        spans = {"box": result_spans_packed(packed),
                 "span": extract_from_span_table(span_docs, PIPE)}
        for name, df in spans.items():
            assert df.count() == df.select(
                "doc_id", "offset").distinct().count() == expected, name
        assert spans["span"].exceptAll(spans["box"]).count() == 0
        assert spans["box"].exceptAll(spans["span"]).count() == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_pack_joined_raises_on_non_contiguous_input(spark):
    """Every per-page kernel must fail loudly (not emit silent duplicates)
    when its page-contiguity precondition is violated: the packing kernel
    (pack_joined), the profile pass (page_profiles) and the fused pass-2
    kernel (profile_and_pack). The public join path happens to restore
    contiguity under SMJ (sorted by join key), so drive the kernels
    directly with interleaved joined-shape rows (a superset of the box
    columns the other two read)."""
    import numpy as np
    from pdftabextract_spark.operators.clustering import page_profiles
    from pdftabextract_spark.operators.grid import pack_joined, profile_and_pack

    def row(doc, page, box_id, left):
        return (doc, page, box_id, left, 10.0, 5.0, 5.0, "v",
                [0.0, 50.0, 100.0], [0.0, 30.0, 60.0])

    schema = ("doc_id string, page int, box_id int, left double, "
              "top double, width double, height double, value string, "
              "col_positions array<double>, row_positions array<double>")
    kernels = {
        "pack_joined": pack_joined,
        "page_profiles": lambda df: page_profiles(df, 40.0, 15.0),
        "profile_and_pack": lambda df: profile_and_pack(
            df, np.array([0.0, 50.0]), 40.0, 15.0, 10.0, 8.0),
    }

    # page 1 recurs after page 2 closed it — within one partition: once
    # followed by another page, once as the last row of the batch
    rows = [row("d", 1, 0, 5.0), row("d", 2, 0, 5.0), row("d", 1, 1, 55.0),
            row("d", 3, 0, 5.0)]
    for bad_rows in (rows, rows[:3]):
        bad = spark.createDataFrame(bad_rows, schema).coalesce(1)
        for name, kernel in kernels.items():
            with pytest.raises(Exception) as exc:
                kernel(bad).count()
            assert "page-contiguous" in str(exc.value) \
                or "recurred" in str(exc.value), name

    # sanity: the same rows in contiguous order pass cleanly: 3 pages
    ok_rows = [rows[0], rows[2], rows[1], rows[3]]
    ok = spark.createDataFrame(ok_rows, schema).coalesce(1)
    for name, kernel in kernels.items():
        assert kernel(ok).count() == 3, name


def test_span_path_plan_has_no_box_exchange(spark):
    """The span-table path runs both passes narrow over the span-doc rows:
    the pass-1 frame (collected for the eager model fit, so it is not in
    the result's plan) has no Exchange and no cached relation, and the
    result's plan, with and without images, has neither. The box
    profile pass over decoded span boxes has no Exchange either."""
    from pdftabextract_spark.operators.clustering import page_profiles
    from pdftabextract_spark.plans.pipeline import span_center_counts

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")

    def plan(df):
        return df._jdf.queryExecution().explainString(mode)

    span_docs = synth.span_docs_df(spark, PARAMS)
    profiles = page_profiles(textboxes_from_spans(span_docs),
                             PIPE.col_break_dist, PIPE.row_break_dist)
    assert "Exchange" not in plan(profiles), plan(profiles)
    p = plan(span_center_counts(span_docs, PIPE.col_break_dist))
    assert "Exchange" not in p and "InMemory" not in p, p
    assert "MapInArrow" in p, p
    for with_images in (False, True):
        p = plan(extract_from_span_table(span_docs, PIPE,
                                         with_images=with_images))
        assert "Exchange" not in p and "InMemory" not in p, p
        assert "MapInArrow" in p, p


def test_span_path_runs_two_jobs(spark):
    """extract_from_span_table into a sink runs exactly two Spark jobs,
    with and without images: pass 1's one collect and pass 2's write. No
    count, no guard exchange and no cache add a job."""
    import dataclasses

    sc = spark.sparkContext
    for with_images in (False, True):
        params = dataclasses.replace(PARAMS, with_images=with_images)
        span_docs = synth.span_docs_df(spark, params)
        group = "span-path-jobs-%s" % with_images
        sc.setJobGroup(group, "span path job count")
        try:
            extract_from_span_table(span_docs, PIPE, with_images=with_images) \
                .write.format("noop").mode("overwrite").save()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2, \
                with_images
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def test_span_model_equals_pooled_fit(spark):
    """Pass 1's model (the collected (center, count) pairs, fit on the
    driver) is bit-equal to fit_column_model_pooled over the normalized
    page centers of the decoded span boxes, with and without a skewed
    page_dist."""
    import dataclasses
    from pdftabextract_spark.operators.clustering import page_profiles
    from pdftabextract_spark.operators.model import fit_column_model_pooled
    from pdftabextract_spark.plans.pipeline import (
        _pooled_centers, _span_model)

    skewed = dataclasses.replace(PARAMS, seed=43,
                                 page_dist=((1, .6), (2, .25), (40, .15)))
    for params in (PARAMS, skewed):
        span_docs = synth.span_docs_df(spark, params)
        pooled = _pooled_centers(page_profiles(
            textboxes_from_spans(span_docs), PIPE.col_break_dist,
            PIPE.row_break_dist))
        got = [x.hex() for x in _span_model(span_docs, PIPE)]
        want = fit_column_model_pooled(pooled, PIPE.n_cols,
                                       PIPE.model_break_dist)
        assert got == [x.hex() for x in want], params.seed


def test_image_page_attribution_with_sparse_images(spark):
    """Images must take the page of their ADJACENT text spans, not their
    rank among image spans (ADVICE r1): a doc where only pages 2 and 5
    carry images must map them to pages 2 and 5, not 1 and 2."""
    from pdftabextract_spark.sources.spans import pages_from_spans

    def tsp(page, off):
        return {"kind": "text",
                "text": '{"v":"x","l":10.0,"t":10.0,"w":5.0,"h":5.0,"p":%d}' % page,
                "media_ref": None, "offset": off}

    def isp(ref, off):
        return {"kind": "image", "text": None, "media_ref": ref, "offset": off}

    spans = []
    off = 0
    for page in range(1, 6):
        if page in (2, 5):  # only these pages were scanned
            spans.append(isp("mem://d/%d.png" % page, off)); off += 1
        spans.append(tsp(page, off)); off += 1
        spans.append(tsp(page, off)); off += 1
    docs = spark.createDataFrame(
        [("d", spans)],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>")

    got = {r["page"]: r["media_ref"]
           for r in pages_from_spans(docs).collect()}
    assert got == {2: "mem://d/2.png", 5: "mem://d/5.png"}


def test_image_page_attribution_trailing_and_imageonly(spark):
    """Fallbacks: a trailing image with no following text gets
    prev-text-page + 1; an all-image doc falls back to rank order."""
    from pdftabextract_spark.sources.spans import pages_from_spans

    trailing = [
        {"kind": "text",
         "text": '{"v":"x","l":1.0,"t":1.0,"w":2.0,"h":2.0,"p":1}',
         "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": "mem://t/2.png",
         "offset": 1},
    ]
    imageonly = [
        {"kind": "image", "text": None, "media_ref": "mem://i/1.png", "offset": 0},
        {"kind": "image", "text": None, "media_ref": "mem://i/2.png", "offset": 1},
    ]
    docs = spark.createDataFrame(
        [("t", trailing), ("i", imageonly)],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>")
    got = {(r["doc_id"], r["page"]): r["media_ref"]
           for r in pages_from_spans(docs).collect()}
    assert got == {("t", 2): "mem://t/2.png",
                   ("i", 1): "mem://i/1.png",
                   ("i", 2): "mem://i/2.png"}


def test_image_page_attribution_multi_trailing(spark):
    """VERDICT r2 item 8: several trailing images (no following text) must
    land on DISTINCT monotone pages prev+1, prev+2, ... — the old
    prev+1-for-all fallback collided them onto one page and the
    first-by-offset rule silently dropped all but the first."""
    from pdftabextract_spark.sources.spans import pages_from_spans

    spans = [
        {"kind": "text",
         "text": '{"v":"x","l":1.0,"t":1.0,"w":2.0,"h":2.0,"p":3}',
         "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": "mem://m/a.png",
         "offset": 1},
        {"kind": "image", "text": None, "media_ref": "mem://m/b.png",
         "offset": 2},
        {"kind": "image", "text": None, "media_ref": "mem://m/c.png",
         "offset": 3},
    ]
    docs = spark.createDataFrame(
        [("m", spans)],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>")
    got = {r["page"]: r["media_ref"]
           for r in pages_from_spans(docs).collect()}
    assert got == {4: "mem://m/a.png", 5: "mem://m/b.png",
                   6: "mem://m/c.png"}


def page_extents(boxes: DataFrame) -> DataFrame:
    """Per-page max right / max bottom (the closing column and row
    borders)."""
    return boxes.groupBy("doc_id", "page").agg(
        F.max(F.col("left") + F.col("width")).alias("max_right"),
        F.max(F.col("top") + F.col("height")).alias("max_bottom"))


def column_positions(boxes: DataFrame, params: PipelineParams,
                     extents: DataFrame) -> DataFrame:
    """Per-page column borders via a window clustering of text lefts +
    corpus model repair (schoollist_2-style columns, §3.3, with the
    catalogue's get_adjusted_cluster_centers model fit)."""
    centers = cluster_centers(
        boxes, "left", params.col_break_dist, ("doc_id", "page"), center="median")
    repaired = fit_and_repair(
        centers, params.n_cols, params.model_break_dist,
        same_size_use_model_arr_diff_thresh=params.same_size_use_model_arr_diff_thresh)
    # borders: each repaired center - pad, then a right border safely past
    # the last column (max box right + pad, but at least last center + 2*pad)
    pad = float(params.pad_x)
    return (
        repaired.join(extents.select("doc_id", "page", "max_right"), ["doc_id", "page"])
        .select(
            "doc_id", "page",
            F.concat(
                F.transform("centers_fixed", lambda c: c - F.lit(pad)),
                F.array(F.greatest(
                    F.col("max_right") + F.lit(pad),
                    F.element_at("centers_fixed", -1) + F.lit(2 * pad),
                )),
            ).alias("col_positions"),
        )
    )


def row_positions(boxes: DataFrame, params: PipelineParams,
                  extents: DataFrame) -> DataFrame:
    """Per-page row borders: window-cluster box tops, border = cluster min
    top - pad_y, closing border = page max bottom + pad_y (schoollist-style
    rows from text borders, §3.2 step 4)."""
    row_mins = cluster_centers(
        boxes, "top", params.row_break_dist, ("doc_id", "page"), center="min")
    pad = float(params.pad_y)
    return (
        row_mins.groupBy("doc_id", "page")
        .agg(F.array_sort(F.collect_list(F.col("center") - F.lit(pad))).alias("_tops"))
        .join(extents.select("doc_id", "page", "max_bottom"), ["doc_id", "page"])
        .select(
            "doc_id", "page",
            F.concat("_tops", F.array(F.col("max_bottom") + F.lit(pad))).alias("row_positions"),
        )
    )


def test_fused_profiles_equal_window_formulation(spark):
    """positions_fused (single-exchange Arrow kernel) must produce
    byte-identical per-page borders to the window+agg formulation."""
    from pyspark.sql import functions as F
    from pdftabextract_spark.sources import synth
    from pdftabextract_spark.sources.spans import textboxes_from_spans
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, positions_fused)

    params = synth.CorpusParams(seed=4242, n_docs=25, n_cols=5)
    pipe = PipelineParams(n_cols=5, min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    boxes = (textboxes_from_spans(synth.span_docs_df(spark, params))
             .where((F.col("width") > 0) & (F.col("height") > 0)))

    extents = page_extents(boxes)
    old = (column_positions(boxes, pipe, extents)
           .join(row_positions(boxes, pipe, extents), ["doc_id", "page"]))
    new = positions_fused(boxes, pipe)

    j = old.alias("o").join(new.alias("n"), ["doc_id", "page"], "full_outer")
    diff = j.where(~(
        F.col("o.col_positions").eqNullSafe(F.col("n.col_positions"))
        & F.col("o.row_positions").eqNullSafe(F.col("n.row_positions")))).count()
    assert diff == 0
    assert new.count() == old.count() > 0


def _box_input(spark):
    params = synth.CorpusParams(seed=4343, n_docs=6, n_cols=5)
    return textboxes_from_spans(synth.span_docs_df(spark, params))


def _curation_docs(spark):
    return spark.createDataFrame(
        [(i, " ".join("w%d" % ((i * 7 + j) % 23) for j in range(12)))
         for i in range(20)], "doc_id long, text string")


_NO_CACHE_CALLS = {
    "extract_cells": lambda s: pipeline.extract_cells(_box_input(s), PIPE),
    "extract_cells_packed": lambda s: pipeline.extract_cells_packed(
        _box_input(s), PIPE),
    "positions_fused": lambda s: pipeline.positions_fused(
        _box_input(s), PIPE),
    "contamination": lambda s: curation.contamination(
        _curation_docs(s), _curation_docs(s).limit(4), n=3),
    "boilerplate_fraction": lambda s: curation.boilerplate_fraction(
        _curation_docs(s), n=3),
    "duplicate_passage_rate": lambda s: curation.duplicate_passage_rate(
        _curation_docs(s), k=3),
}


@pytest.mark.parametrize("name", list(_NO_CACHE_CALLS))
def test_call_leaves_nothing_cached(spark, name):
    """The box-input text path and the curation operators cache nothing:
    after a call and an action, the session holds no new persisted RDD and
    the cache manager is still empty."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    assert _NO_CACHE_CALLS[name](spark).collect()
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_skewed_page_counts_extraction(spark):
    """North-star skew hardening: pages-per-doc is heavy-tailed at corpus
    scale. A corpus where a few docs carry 50x the median page count must
    extract with exact span-sequence equality. A document's pages stay in
    its scan partition (span-table boxes are page-contiguous, so neither
    pass exchanges them); the kernels stream that partition in Arrow
    batches, carrying at most one page across a batch boundary."""
    from pyspark.sql import functions as F
    from pdftabextract_spark.sources import synth
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_from_span_table)

    params = synth.CorpusParams(seed=97, n_docs=14, n_cols=5,
                                page_dist=((1, 0.6), (2, 0.25), (50, 0.15)))
    pipe = PipelineParams(n_cols=5, min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    result = extract_from_span_table(synth.span_docs_df(spark, params), pipe)
    expected = synth.expected_spans_df(spark, params)
    # the corpus really is skewed
    pages_per_doc = (synth.pages_df(spark, params)
                     .groupBy("doc_id").count().agg(
                         F.max("count"), F.expr("percentile(count, 0.5)"))
                     .first())
    assert pages_per_doc[0] >= 25 * max(pages_per_doc[1], 1)

    j = result.alias("r").join(expected.alias("e"),
                               ["doc_id", "offset"], "full_outer")
    bad = j.where(~(F.col("r.kind").eqNullSafe(F.col("e.kind"))
                    & F.col("r.text").eqNullSafe(F.col("e.text")))).count()
    assert bad == 0 and expected.count() > 0


def _span_docs(spark, boxes):
    """One doc of text spans, one per payload dict, in order."""
    import json
    spans = [{"kind": "text", "text": json.dumps(payload), "media_ref": None,
              "offset": off} for off, payload in enumerate(boxes)]
    return spark.createDataFrame(
        [("d", spans)],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>")


def test_span_without_value_is_skipped_in_cell_text(spark):
    """A text span whose payload has no "v" has a null value: its cell
    text joins only the other boxes, as array_join does in cell_texts
    (it used to come out as the text "None")."""
    box = dict(w=20.0, h=10.0, p=1)
    docs = _span_docs(spark, [
        dict(v="a", l=50.0, t=60.0, **box),
        dict(l=75.0, t=60.0, **box),            # no "v"
        dict(v="b", l=250.0, t=60.0, **box),
        dict(l=250.0, t=120.0, **box),          # no "v", alone in its cell
        dict(v="c", l=50.0, t=120.0, **box),
    ])
    pipe = PipelineParams(n_cols=2, min_col_width=80.0, min_row_height=30.0)
    got = [r["text"] for r in
           extract_from_span_table(docs, pipe).orderBy("offset").collect()]
    assert got == ["a", "b", "c", ""]


def test_cell_texts_strips_like_the_text_path(spark):
    """cell_texts (image, catalogue and schoollist paths) and the text
    path's batch pack give the same cell texts for the same assigned
    boxes: nulls skipped, every str.isspace character stripped (\\t, \\n,
    \\r and \\xa0 included; Spark's trim alone strips only spaces)."""
    import numpy as np
    import pyarrow as pa
    from pdftabextract_spark.kernels.pagegrid import pack_pages
    from pdftabextract_spark.operators.grid import cell_texts

    # (box_id, left, value, row_idx, col_idx) on a 2 x 2 grid
    boxes = [(0, 1.0, "\ta", 0, 0), (1, 2.0, None, 0, 0),
             (2, 3.0, "b\n", 0, 0), (3, 1.0, "\r\xa0c\xa0", 0, 1),
             (4, 1.0, None, 1, 0), (5, 9.0, "x", -1, -1),
             (6, 1.0, " 　d e ", 1, 1)]
    assigned = spark.createDataFrame(
        [("d", 1) + b for b in boxes],
        "doc_id string, page int, box_id int, left double, value string, "
        "row_idx int, col_idx int")
    positions = spark.createDataFrame(
        [("d", 1, [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])],
        "doc_id string, page int, col_positions array<double>, "
        "row_positions array<double>")
    spark_cells = {(r["row_idx"], r["col_idx"]): r["cell_text"]
                   for r in cell_texts(assigned, positions).collect()}

    box_id, left, value, ri, ci = zip(*boxes)
    cells, n_unmatched = pack_pages(
        np.array([0, len(boxes)]), np.array(ri), np.array(ci),
        np.array([2]), np.array([2]), np.array(left), np.array(box_id),
        pa.array(value))
    assert cells.to_pylist() == [["a b", "c", "", "d e"]]
    assert n_unmatched.tolist() == [1]
    assert [spark_cells[(r, c)] for r in range(2) for c in range(2)] \
        == cells.to_pylist()[0]
