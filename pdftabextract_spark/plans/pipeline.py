"""The flagship table-extraction pipeline as one Spark DAG.

Span-table input (``extract_from_span_table``) runs as two narrow
mapInArrow passes over the span-doc rows (doc_id, spans) themselves. Both
decode each frame of docs with sources/spans.decode_spans: flatten the
spans, parse the text payloads with the Arrow JSON reader, drop the boxes
the reference parse drops and sort each doc's boxes by (page, offset), so
every page is one run without any exchange.

  pass 1    one Spark job (``span_center_counts``, collected with
            toArrow): per partition, the distinct normalized column
            centers of its pages with their counts, and the doc_id of
            every doc row with a kept box. The driver checks that no
            doc_id comes from two input rows and fits the corpus column
            model (n_cols doubles) over the pool the (center, count)
            pairs stand for (kernels/clustering.fit_pooled_centers). No
            exchange, no cache, no count — and no bound on the driver:
            it holds the whole pool (8 bytes per page column) and one
            doc_id per doc, so its memory grows with the corpus.
  pass 2    with the model in its closure, per frame of docs: profile
            every page, repair every page's centers and build every
            page's borders, each in one frame-wide array pass
            (operators/grid.profile_grids: no per-page Python loop),
            assign every box at once (kernels/gridfit.assign_pages), pack
            the cell texts (kernels/pagegrid.pack_pages) and emit the
            result spans with per-doc offsets — plus the image spans,
            attributed to pages by sources/spans.image_pages, when
            ``with_images``.

Box-table input (``extract_cells_packed`` / ``extract_cells``) runs the
same two passes over box rows: one exchange by (doc_id, page) puts each
page's rows together, then operators/clustering.page_profiles -> model
fit -> operators/grid.profile_and_pack. Nothing is cached: each pass
scans and exchanges the boxes once, and a call leaves no persisted frame
in the session. ``result_spans_packed`` turns its packed pages into
result spans with a doc_id window.

[image]  media_ref -> page-image bytes -> Hough lines -> rotation/skew
         repair (operators/imgstage), the catalogue_30s path
         (``extract_cells_image_path``). It persists three frames that
         feed more than one branch (MEMORY_AND_DISK) and releases none.

Scale notes: the unit of work is a page, never a whole corpus; a span-doc
row carries all of its pages, so the span path moves no box across the
network. Each pass's tasks start in sources/spans.frames, which drops the
Python worker's zip importers (kernels/pyworker), so a reused worker's
next task skips 0.2-0.45 s of re-reading pyspark.zip and the spark-core
jar.
"""

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window as W, functions as F


@dataclass(frozen=True)
class PipelineParams:
    n_cols: int                      # expected column count (model size),
                                     # like the reference's N_COL_BORDERS
    min_col_width: float = 80.0      # -> column cluster break dist / 2
    min_row_height: float = 30.0     # -> row cluster break dist / 2
    pad_x: float = 10.0              # column border = center - pad_x
    pad_y: float = 8.0               # row border = cluster min top - pad_y
    model_dist_thresh: float = None  # pooled-center cluster break dist
    same_size_use_model_arr_diff_thresh: float = None

    @property
    def col_break_dist(self):
        return self.min_col_width / 2

    @property
    def row_break_dist(self):
        return self.min_row_height / 2

    @property
    def model_break_dist(self):
        return self.model_dist_thresh if self.model_dist_thresh is not None \
            else self.min_col_width / 2


def _pooled_centers(profiles: DataFrame) -> DataFrame:
    """Per-page sorted column centers -> the model fit's pooled column:
    each page's centers normalized to start at 0 by a JVM transform
    (centers - centers[0]) instead of a window min."""
    return profiles.select(
        F.explode(F.transform(
            "col_centers",
            lambda c: c - F.element_at("col_centers", 1))).alias("center_norm"))


def positions_fused(boxes: DataFrame, params: PipelineParams) -> DataFrame:
    """Per-page (col_positions, row_positions) as a frame: page profiles,
    the corpus model fit, the model-repair pandas UDF and the border
    assembly as array expressions on the one-row-per-page frame. Same
    precondition as page_profiles. extract_cells_packed computes the same
    borders inside its pack kernel and never materializes this frame."""
    from ..operators.clustering import page_profiles
    from ..operators.model import fit_column_model_pooled, repair_page_centers

    profiles = page_profiles(boxes, params.col_break_dist,
                             params.row_break_dist)
    model = fit_column_model_pooled(_pooled_centers(profiles), params.n_cols,
                                    params.model_break_dist)
    repaired = repair_page_centers(
        profiles, model, centers_col="col_centers",
        same_size_use_model_arr_diff_thresh=params.same_size_use_model_arr_diff_thresh)
    pad_x, pad_y = float(params.pad_x), float(params.pad_y)
    return repaired.select(
        "doc_id", "page",
        F.concat(
            F.transform("centers_fixed", lambda c: c - F.lit(pad_x)),
            F.array(F.greatest(
                F.col("max_right") + F.lit(pad_x),
                F.element_at("centers_fixed", -1) + F.lit(2 * pad_x)))
        ).alias("col_positions"),
        F.concat(
            F.transform("row_tops", lambda t: t - F.lit(pad_y)),
            F.array(F.col("max_bottom") + F.lit(pad_y))
        ).alias("row_positions"))


def extract_cells(boxes: DataFrame, params: PipelineParams) -> DataFrame:
    """boxes -> (doc_id, page, row_idx, col_idx, cell_text) full grid: the
    long form of extract_cells_packed, a pure JVM posexplode of the
    packed rows (no shuffle)."""
    packed = extract_cells_packed(boxes, params)
    return (packed.select(
        "doc_id", "page", "n_cols",
        F.posexplode("cells").alias("pos", "cell_text"))
        .select("doc_id", "page",
                (F.col("pos") / F.col("n_cols")).cast("int").alias("row_idx"),
                (F.col("pos") % F.col("n_cols")).cast("int").alias("col_idx"),
                "cell_text"))


def extract_cells_packed(boxes: DataFrame, params: PipelineParams) -> DataFrame:
    """boxes -> the packed per-page form (doc_id, page, n_rows, n_cols,
    cells array, n_unmatched) — the shape result_spans_packed consumes
    without any further wide shuffle. Two narrow passes over the boxes:

      1. page profiles -> pooled centers -> the corpus column model
         (a driver-side array of n_cols doubles);
      2. one kernel that profiles, repairs, builds the borders, assigns
         and packs each page with the model in its closure.

    Both passes need each page's rows contiguous within a partition, so
    the boxes go through one exchange + sort by (doc_id, page) here.
    Nothing is cached: each pass scans and exchanges the boxes once,
    which measured faster than building a cache of them, and a call
    leaves no persisted frame behind."""
    from ..operators.clustering import group_pages, page_profiles
    from ..operators.grid import profile_and_pack
    from ..operators.model import fit_column_model_pooled

    # scan-time zero-area drop (parse_pages rect validation,
    # common.py:138-141) — Catalyst pushes this into the source scan
    boxes = group_pages(
        boxes.where((F.col("width") > 0) & (F.col("height") > 0)))
    profiles = page_profiles(boxes, params.col_break_dist,
                             params.row_break_dist)
    model = fit_column_model_pooled(_pooled_centers(profiles), params.n_cols,
                                    params.model_break_dist)
    return profile_and_pack(
        boxes, model, params.col_break_dist, params.row_break_dist,
        params.pad_x, params.pad_y, params.same_size_use_model_arr_diff_thresh)


def assign_and_pack_from(boxes: DataFrame, positions: DataFrame,
                         page_contiguous: bool = False) -> DataFrame:
    from ..operators.grid import assign_and_pack
    return assign_and_pack(boxes, positions, page_contiguous)


def extract_cells_image_path(boxes: DataFrame, pages: DataFrame,
                             media: DataFrame, params: PipelineParams,
                             rot_thresh_deg=0.5, rot_same_dir_thresh_deg=1.0,
                             omit_on_rot_thresh_deg=0.5) -> DataFrame:
    """The catalogue_30s path (§3.1): columns from Hough-line clusters on
    the page images, rotation estimated from the lines and repaired on
    both lines and textboxes, rows from repaired text tops.
    ``pages`` needs (doc_id, page, media_ref, img_w, img_h).

    Three frames feed more than one branch and are persisted
    (MEMORY_AND_DISK, recomputable if an executor is lost): the line
    detector's enriched output, the rotated boxes and the line centers.
    Nothing releases them, so each call leaves them in the session."""
    import math
    from ..operators.imgstage import (
        detect_lines_with_rotation, apply_rotation_to_lines,
        rotate_boxes_back, line_border_centers)
    from ..operators.model import fit_and_repair

    boxes = boxes.where((F.col("width") > 0) & (F.col("height") > 0))
    # fused decode + Canny + Hough + per-page rotation decision in ONE
    # kernel stage (no groupBy exchange to reassemble per-page lines);
    # the detector persists the kernel OUTPUT, so the decode runs exactly
    # once across all downstream actions and the rotations/filtered split
    # is two narrow filters
    rotations, filtered = detect_lines_with_rotation(
        pages, media,
        math.radians(rot_thresh_deg), math.radians(rot_same_dir_thresh_deg),
        omit_on_rot_thresh=math.radians(omit_on_rot_thresh_deg))

    boxes_fixed = rotate_boxes_back(boxes, rotations).persist(
        StorageLevel.MEMORY_AND_DISK)

    lines_fixed = apply_rotation_to_lines(filtered)

    # column borders straight from vertical line clusters (model-repaired);
    # the model size is n_cols + 1 borders (N_COL_BORDERS semantics,
    # catalog_30s.py:46,161-166)
    # consumed twice: the model-fit collect and the repair join
    centers = line_border_centers(
        lines_fixed, pages, "v", params.col_break_dist).persist(
        StorageLevel.MEMORY_AND_DISK)
    repaired = fit_and_repair(
        centers, params.n_cols + 1, params.model_break_dist,
        same_size_use_model_arr_diff_thresh=params.same_size_use_model_arr_diff_thresh)
    cols = repaired.select("doc_id", "page",
                           F.col("centers_fixed").alias("col_positions"))

    # rows + extents via the FUSED profile kernel, exactly like the text
    # path — replaces the unfused cluster_centers window + extents agg +
    # join (3 exchanges over the box table). row_tops = break-dist
    # cluster MIN tops, identical to row_positions' center="min"
    # clustering (fused-vs-window parity is property-tested); the
    # kernel's col medians ride along unused. The rotated boxes come out
    # of a join, so one exchange by page restores the kernel's
    # page-contiguity precondition.
    from ..operators.clustering import group_pages, page_profiles
    prof = page_profiles(group_pages(boxes_fixed), params.col_break_dist,
                         params.row_break_dist)
    pad_y = float(params.pad_y)
    rows = prof.select(
        "doc_id", "page",
        F.concat(
            F.transform("row_tops", lambda t: t - F.lit(pad_y)),
            F.array(F.col("max_bottom") + F.lit(pad_y))
        ).alias("row_positions"))
    positions = cols.join(rows, ["doc_id", "page"])
    from ..operators.grid import assign_cells_joined, cell_texts
    assigned = assign_cells_joined(boxes_fixed, positions)
    return cell_texts(assigned, positions)


def result_spans_packed(packed: DataFrame) -> DataFrame:
    """Packed per-page cells (``extract_cells_packed``) -> ordered text
    result spans. Offsets come from a page-level cumulative sum (one
    window over #pages rows) instead of a document-wide row sort over
    every span."""
    per_page = packed.select("doc_id", "page", "cells",
                             F.size("cells").alias("_n_spans"))
    w = W.partitionBy("doc_id").orderBy("page") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    # duplicate-(doc_id,page) guard: a page split across kernel partitions
    # upstream would emit two partial packed rows and silently corrupt
    # every later offset in the doc. The check rides the window partition
    # the cumsum already needs (lag = no extra exchange) and fails the job
    # instead. Folded into _base so Catalyst cannot prune it.
    w_ord = W.partitionBy("doc_id").orderBy("page")
    no_dup = F.coalesce(F.lag("page").over(w_ord) != F.col("page"), F.lit(True))
    dup_probe = F.coalesce(
        F.assert_true(no_dup, F.lit(
            "result_spans_packed: duplicate (doc_id, page) packed row — "
            "upstream page contiguity was violated")).cast("long"),
        F.lit(0))
    per_page = per_page.withColumn(
        "_base", F.sum("_n_spans").over(w) - F.col("_n_spans") + dup_probe)
    return per_page.select(
        "doc_id", "_base", F.posexplode("cells").alias("_pos", "text"),
    ).select(
        "doc_id", F.lit("text").alias("kind"), "text",
        F.lit(None).cast("string").alias("media_ref"),
        (F.col("_base") + F.col("_pos")).cast("int").alias("offset"))


_RESULT_SPANS = ("doc_id string, kind string, text string, "
                 "media_ref string, offset int")


_CENTER_COUNTS = ("centers array<double>, counts array<bigint>, "
                  "doc_ids array<string>")


def span_center_counts(span_docs: DataFrame,
                       col_break_dist: float) -> DataFrame:
    """Pass 1 of ``extract_from_span_table`` as one narrow Arrow kernel
    over the span-doc rows. Per partition it emits one row: the distinct
    normalized column centers of its pages
    (kernels/pagegrid.normalized_column_centers, one frame of docs at a
    time) as ``centers`` with their ``counts``, and the doc_id of each
    doc row with a non-null doc_id and at least one kept box as
    ``doc_ids``. Boxes with a null doc_id or page count in the
    centers."""
    import numpy as np
    import pyarrow as pa
    from ..kernels.clustering import count_values
    from ..kernels.pagegrid import normalized_column_centers
    from ..kernels.pagegroups import column, page_bounds
    from ..sources.spans import decode_spans, frames

    cbd = float(col_break_dist)

    def one_list(values):
        return pa.ListArray.from_arrays(
            pa.array([0, len(values)], pa.int32()), values)

    def kernel(batches):
        pooled, doc_ids = [], []
        for frame in frames(batches):
            boxes, _ = decode_spans(frame)
            if not boxes.num_rows:
                continue
            row = column(boxes, "_row")
            pooled.append(normalized_column_centers(
                page_bounds(row, column(boxes, "page")),
                column(boxes, "left", float), cbd))
            doc_ids.append(frame.column("doc_id").take(
                pa.array(np.unique(row))).drop_null())
        if pooled:
            centers, counts = count_values(np.concatenate(pooled))
            yield pa.RecordBatch.from_arrays(
                [one_list(pa.array(centers)), one_list(pa.array(counts)),
                 one_list(pa.concat_arrays(doc_ids))],
                names=["centers", "counts", "doc_ids"])

    return span_docs.select("doc_id", "spans") \
        .mapInArrow(kernel, schema=_CENTER_COUNTS)


def _span_model(span_docs: DataFrame, params: PipelineParams):
    """Pass 1 in one Spark job: collect ``span_center_counts``, check that
    no doc_id comes from two input rows, and fit the corpus column model
    on the driver over the pool the (center, count) pairs stand for
    (kernels/clustering.fit_pooled_centers, as
    operators/model.fit_column_model_pooled fits a pooled frame). A doc_id
    whose kept boxes come from more than one input row would be packed as
    two docs with colliding offsets, so it raises instead, naming the
    doc_id; null doc_ids are exempt (they get no output). The driver
    holds the whole pool and every kept doc_id."""
    import numpy as np
    import pyarrow.compute as pc
    from ..kernels.clustering import fit_pooled_centers

    got = span_center_counts(span_docs, params.col_break_dist).toArrow()
    centers, counts, doc_ids = (pc.list_flatten(got.column(c))
                                for c in ("centers", "counts", "doc_ids"))
    seen = pc.value_counts(doc_ids)
    repeated = seen.filter(pc.greater(seen.field("counts"), 1))
    if len(repeated):
        raise ValueError("extract_from_span_table: doc_id '%s' comes from "
                         "more than one input row"
                         % repeated.field("values")[0].as_py())
    return fit_pooled_centers(
        np.repeat(centers.to_numpy(), counts.to_numpy()), params.n_cols,
        params.model_break_dist)


def _page_spans(doc_ids, row, page, cells, images):
    """The packed pages of a frame, in (doc row, page) order -> its result
    spans as an Arrow record batch (``_RESULT_SPANS``): per doc, pages
    ascending; each page's image span (when ``images``, sorted by (_row,
    page), holds one for it) then its cells row-major; offsets count from
    0 in every doc. ``doc_ids`` is the frame's doc_id column, ``row`` /
    ``page`` the pages' doc row and page number, ``cells`` their
    list<string> cells."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from ..kernels.pagegroups import column

    def key(rows, pages):
        return np.asarray(rows, np.int64) * (1 << 32) \
            + np.asarray(pages, np.int64) + (1 << 31)

    n_cells = pc.list_value_length(cells).to_numpy(zero_copy_only=False)
    slot = np.full(len(row), -1)
    media = pa.nulls(0, pa.string())
    if images is not None and images.num_rows:
        have, want = key(column(images, "_row"), column(images, "page")), \
            key(row, page)
        at = np.minimum(np.searchsorted(have, want), len(have) - 1)
        slot = np.where(have[at] == want, at, -1)
        media = images.column("media_ref")
    has_img = slot >= 0
    n_spans = n_cells + has_img
    start = np.cumsum(n_spans) - n_spans
    first = np.flatnonzero(np.diff(row, prepend=-1))
    doc_start = start[first].repeat(np.diff(np.append(first, len(row))))
    is_img = np.zeros(int(n_spans.sum()), dtype=bool)
    is_img[start[has_img]] = True
    flat = cells.flatten()
    text = np.full(len(is_img), len(flat))
    text[~is_img] = np.arange(len(flat))
    media_at = np.full(len(is_img), len(media))
    media_at[start[has_img]] = slot[has_img]

    def nullable(values, take):
        return pa.concat_arrays([values, pa.nulls(1, values.type)]) \
            .take(pa.array(take))

    return pa.RecordBatch.from_arrays([
        doc_ids.take(pa.array(np.repeat(row, n_spans))),
        pa.array(["text", "image"]).take(pa.array(is_img.astype(np.int8))),
        nullable(flat, text), nullable(media, media_at),
        pa.array(np.arange(len(is_img)) - doc_start.repeat(n_spans),
                 pa.int32())],
        names=["doc_id", "kind", "text", "media_ref", "offset"])


def extract_from_span_table(span_docs: DataFrame, params: PipelineParams,
                            with_images: bool = False) -> DataFrame:
    """North-rule span table in -> result spans out (exploded form:
    doc_id, kind, text, media_ref, offset), in the two narrow passes of
    the module docstring. Each doc_id must come from one input row (pass
    1 raises otherwise); boxes with a null doc_id or page count in the
    model fit but get no output."""
    import pyarrow.compute as pc
    from ..kernels.pagegroups import column, page_bounds
    from ..operators.grid import pack_frame, profile_grids
    from ..sources.spans import decode_spans, frames

    model = _span_model(span_docs, params)
    grids = profile_grids(model, params.col_break_dist, params.row_break_dist,
                          params.pad_x, params.pad_y,
                          params.same_size_use_model_arr_diff_thresh)

    def kernel(batches):
        for frame in frames(batches):
            boxes, images = decode_spans(frame, images=with_images)
            boxes = boxes.filter(pc.and_(boxes.column("doc_id").is_valid(),
                                         boxes.column("page").is_valid()))
            if not boxes.num_rows:
                continue
            row, page = column(boxes, "_row"), column(boxes, "page")
            bounds = page_bounds(row, page)
            _, _, cells, _ = pack_frame(boxes, bounds, grids)
            first = bounds[:-1]
            yield _page_spans(frame.column("doc_id"), row[first], page[first],
                             cells, images)

    return span_docs.select("doc_id", "spans").mapInArrow(
        kernel, schema=_RESULT_SPANS)
