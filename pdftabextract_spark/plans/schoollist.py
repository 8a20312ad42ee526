"""The reference's schoollist_1 example pipeline
(examples/schoollist_1/schoollist_1.py) as one Spark DAG over real
JPEG-scanned double pages: double-page split at the detected separator
line, per-split-page Hough + rotation repair, image-line-driven ROWS
with a school-number state machine, text-x-distribution COLUMNS with a
few-texts merge, grid assignment, lines-mode cell text.

Reference stages -> engine mapping (schoollist_1.py cites):
  63-121  read_xml(require_image) -> double pages; per double page:
          detect_lines(canny 50/150, rho 1, theta pi/500, votes
          ABSOLUTE 350), find_pages_separator_line(dist MIN_COL_WIDTH/2,
          around 0.5*img_w), split image at round(sep_img_x), split
          textboxes at sep_img_x/scaling_x, renumber 1..2N
  123-193 per split page: detect_lines (votes 0.2*img_w),
          find_rotation_or_skew(0.5deg, 1deg, omit 0.5deg), rotate
          textboxes by -angle about (0,0) REGARDLESS of rot-vs-skew
          ("assume it's always rotated"), repair lines with -angle,
          horizontal clusters dist=MIN_ROW_HEIGHT/2 with empty-section
          removal (ratio 0.1, scaling_y)
  205-257 rows: scaled hori-line centers + page height; walk segments
          (prev < bottom <= line_y, prev only advances on NON-empty
          segments) with the ^\\d{6}$ school-number state machine;
          columns: cluster text lefts of in-table rows (dist
          MIN_COL_WIDTH/2/scaling_x), drop borders whose band holds
          fewer center-x texts than len(row_positions), append
          half-gap + rightmost borders
  285-303 make_grid_from_positions, fit_texts_into_grid,
          datatable_to_dataframe(split_texts_in_lines=True), from_page

Spark shape: media kernels are batched mapInPandas; split/renumber are
joins + window; the per-page sequential row/column walk is one
cogrouped applyInPandas over a page's boxes + line centers (tens of
rows each); assignment + lines-mode cell text are the shared grid
operators."""

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels.clustering import (
    find_clusters_1d_break_dist, zip_clusters_and_values,
    calc_cluster_centers_1d)
from ..operators.imgstage import (
    detect_lines, detect_lines_with_rotation, apply_rotation_to_lines,
    rotate_boxes_back, line_border_centers, filter_empty_cluster_sections)
from ..operators.splitpages import (
    find_separator_positions, split_boxes, split_media)
from ..operators.grid import assign_cells_joined, cell_texts_lines
from ..operators.multimodal import probe_media
from ..sources.pdf2xml import read_pdf2xml_dir

MIN_ROW_HEIGHT = 260.0   # px in the scanned image (schoollist_1.py:45)
MIN_COL_WIDTH = 194.0    # px in the scanned image (schoollist_1.py:46)
SCHOOLNUM_PATTERN = r"^\d{6}$"


def load_schoollist(spark: SparkSession, data_dir: str,
                    glob: str = "*.jpg"):
    """pdf2xml XML + page-scan JPEGs in one directory -> (boxes, pages,
    media). Pages carry PROBED image dims (the reference's scaling basis
    is the decoded scan, schoollist_1.py:83-86)."""
    boxes, pages = read_pdf2xml_dir(spark, data_dir)
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(data_dir))
    media = files.select(
        F.element_at(F.split("path", "/"), -1).alias("media_ref"),
        F.col("content").alias("bytes"))
    dims = probe_media(media).select(
        "media_ref", F.col("width").alias("img_w"),
        F.col("height").alias("img_h"))
    pages = pages.drop("img_w", "img_h").join(dims, "media_ref")
    return boxes, pages, media


def split_double_pages(boxes: DataFrame, pages: DataFrame,
                       media: DataFrame, votes_abs: int = 350,
                       min_col_width: float = MIN_COL_WIDTH):
    """Stage 2 (schoollist_1.py:70-121): detect the separator line on
    each double page (ABSOLUTE Hough votes threshold 350), split
    textboxes in page space and the scan in image space, renumber split
    pages 1..2N per doc.

    Returns (boxes_split, pages_split, media_split)."""
    dbl_lines = detect_lines(pages, media, hough_votes_abs=votes_abs)
    vcenters = line_border_centers(dbl_lines, pages, "v", min_col_width / 2)
    sep_img = find_separator_positions(
        vcenters.select("doc_id", "page", "center"), pages, "v", 0.5)
    # textboxes split in PAGE space: sep_page = sep_img / (img_w / width)
    scale = pages.select(
        "doc_id", "page", (F.col("img_w") / F.col("width")).alias("sx"))
    sep_page = (sep_img.join(scale, ["doc_id", "page"])
                .select("doc_id", "page",
                        (F.col("split_pos") / F.col("sx")).alias("split_pos")))

    boxes_split, page_map = split_boxes(boxes, sep_page, pages, "v")
    media_split = split_media(media, pages, sep_img, "v")

    dims = probe_media(media_split).select(
        "media_ref", F.col("width").alias("img_w"),
        F.col("height").alias("img_h"))
    ref = (pages.select("doc_id", "page", "media_ref")
           .join(page_map.select("doc_id", "page", "half", "new_page",
                                 "new_width", "new_height"),
                 ["doc_id", "page"])
           .select("doc_id",
                   F.col("new_page").alias("page"),
                   F.col("new_width").alias("width"),
                   F.col("new_height").alias("height"),
                   F.concat("media_ref",
                            F.when(F.col("half") == 0, F.lit("#A"))
                             .otherwise(F.lit("#B"))).alias("media_ref")))
    pages_split = ref.join(dims, "media_ref").select(
        "doc_id", "page", "width", "height", "media_ref", "img_w", "img_h")
    return boxes_split, pages_split, media_split


def schoollist_row_line_centers(boxes: DataFrame, pages: DataFrame,
                                media: DataFrame,
                                min_row_height: float = MIN_ROW_HEIGHT,
                                empty_section_ratio: float = 0.1):
    """Stage 3 (schoollist_1.py:123-193): per split page Hough (votes
    0.2*img_w) -> rotation repair (always-rotate on boxes, typed on
    lines) -> horizontal cluster centers with empty-section removal.

    Returns (centers (doc_id,page,cluster_id,center,n), boxes_fixed)."""
    rotations, filtered = detect_lines_with_rotation(
        pages, media, math.radians(0.5), math.radians(1.0),
        omit_on_rot_thresh=math.radians(0.5))
    boxes_fixed = rotate_boxes_back(boxes, rotations, force_rotation=True)
    lines_fixed = apply_rotation_to_lines(filtered)

    centers = line_border_centers(lines_fixed, pages, "h", min_row_height / 2)
    scaling = pages.select(
        "doc_id", "page", (F.col("img_h") / F.col("height")).alias("sy"))
    centers = centers.join(scaling, ["doc_id", "page"])
    centers = filter_empty_cluster_sections(
        boxes=boxes_fixed, centers=centers, direction="h",
        n_texts_ratio=empty_section_ratio, scaling_col="sy")
    return centers, boxes_fixed


def schoollist_positions(boxes_fixed: DataFrame, pages: DataFrame,
                         centers: DataFrame,
                         schoolnum_pattern: str = SCHOOLNUM_PATTERN,
                         min_col_width: float = MIN_COL_WIDTH) -> DataFrame:
    """Stage 4 (schoollist_1.py:205-283): the per-page sequential walk —
    rows from scaled line centers gated by the school-number state
    machine, columns from the x-distribution of in-table text lefts with
    the fewer-than-n_rows band merge. One cogrouped kernel per page."""
    pattern = re.compile(schoolnum_pattern)

    meta = (centers.groupBy("doc_id", "page")
            .agg(F.array_sort(F.collect_list("center")).alias("line_centers"))
            .join(pages.select("doc_id", "page", "width", "height",
                               (F.col("img_w") / F.col("width")).alias("sx"),
                               (F.col("img_h") / F.col("height")).alias("sy")),
                  ["doc_id", "page"]))

    def kern(key, boxes_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id, page = key
        cols_out = ["doc_id", "page", "col_positions", "row_positions"]
        if len(meta_pdf) == 0 or len(boxes_pdf) == 0:
            return pd.DataFrame(columns=cols_out)
        m = meta_pdf.iloc[0]
        page_h = float(m["height"])
        sx, sy = float(m["sx"]), float(m["sy"])

        # reference iterates p['texts'] in document order — restore it
        boxes_pdf = boxes_pdf.sort_values("box_id", kind="stable")
        left = boxes_pdf["left"].to_numpy(dtype=float)
        top = boxes_pdf["top"].to_numpy(dtype=float)
        width = boxes_pdf["width"].to_numpy(dtype=float)
        height = boxes_pdf["height"].to_numpy(dtype=float)
        value = boxes_pdf["value"].to_numpy()
        bottom = top + height
        right = left + width

        hori_lines = [c / sy for c in m["line_centers"]]
        hori_lines.append(page_h)

        # rows: segment walk with the in-table state machine
        # (schoollist_1.py:219-244). prev only advances on NON-empty
        # segments (the `continue` skips the update).
        prev_y = 0.0
        row_positions = []
        row_text_idx = []
        in_table = False
        for line_y in hori_lines:
            seg = np.flatnonzero((bottom > prev_y) & (bottom <= line_y))
            if seg.size == 0:
                continue
            matched = False
            for i in seg:
                if pattern.search(str(value[i]).strip()):
                    matched = True
                    break
            if matched:
                if not in_table:
                    in_table = True
                    row_positions.append(prev_y)
            else:
                if in_table:
                    in_table = False
            if in_table:
                row_text_idx.append(seg)
                row_positions.append(line_y)
            prev_y = line_y

        # columns from the x-distribution of in-table text lefts
        # (schoollist_1.py:246-283)
        filtered_cols = []
        if row_text_idx:
            text_xs = np.concatenate([left[s] for s in row_text_idx])
            clusters = find_clusters_1d_break_dist(
                text_xs, min_col_width / 2 / sx)
            cw = zip_clusters_and_values(clusters, text_xs)
            col_positions = list(calc_cluster_centers_1d(cw))

            n_rows = len(row_positions)
            n_cols = len(col_positions)
            if n_cols > 1 and n_rows > 1:
                top_y = row_positions[0]
                bottom_y = row_positions[-1]
                rightmost = float(np.max(right))
                col_positions.append(rightmost)

                cy = top + height / 2
                in_tab = (cy > top_y) & (cy <= bottom_y)
                cx = left + width / 2
                prev_col = col_positions[0]
                for col_x in col_positions[1:]:
                    n_here = int(np.count_nonzero(
                        in_tab & (cx > prev_col) & (cx <= col_x)))
                    if n_here >= n_rows:
                        filtered_cols.append(prev_col)
                    prev_col = col_x
                if filtered_cols:
                    filtered_cols.append(
                        filtered_cols[-1] + (rightmost - filtered_cols[-1]) / 2)
                    filtered_cols.append(rightmost)

        if not filtered_cols:
            return pd.DataFrame(columns=cols_out)
        return pd.DataFrame(
            [(doc_id, int(page),
              [float(x) for x in filtered_cols],
              [float(y) for y in row_positions])], columns=cols_out)

    return (boxes_fixed.groupBy("doc_id", "page")
            .cogroup(meta.groupBy("doc_id", "page"))
            .applyInPandas(kern, schema="doc_id string, page int, "
                                        "col_positions array<double>, "
                                        "row_positions array<double>"))


def schoollist1_extract(spark: SparkSession, data_dir: str):
    """Full schoollist_1 pipeline: directory of pdf2xml XML + double-page
    JPEG scans -> (cells long-form DF (lines-mode text), positions DF,
    boxes_split DF). Semantics match the reference example's committed
    outputs (generated_output/)."""
    boxes, pages, media = load_schoollist(spark, data_dir)
    pages = pages.persist()
    boxes_split, pages_split, media_split = split_double_pages(
        boxes, pages, media)
    pages_split = pages_split.persist()
    boxes_split = boxes_split.persist()
    media_split = media_split.persist()
    centers, boxes_fixed = schoollist_row_line_centers(
        boxes_split, pages_split, media_split)
    boxes_fixed = boxes_fixed.persist()
    positions = schoollist_positions(boxes_fixed, pages_split, centers)
    positions = positions.persist()
    assigned = assign_cells_joined(boxes_fixed, positions)
    cells = cell_texts_lines(assigned, positions, boxes_fixed)
    return cells, positions, boxes_fixed


# --------------------------------------------------------- schoollist_2

N_COLS_SL2 = 4                # schoollist_2.py:44
HEADER_ROW_HEIGHT = 90.0      # schoollist_2.py:45
MIN_ROW_GAP = 80.0            # schoollist_2.py:46
MIN_COL_WIDTH_SL2 = 410.0     # schoollist_2.py:47 (unused downstream)
SMALLTEXTS_WIDTH = 15.0       # schoollist_2.py:48
CORRECT_COLS_MIN_DIFFSUM = 10.0  # schoollist_2.py:50


def split_double_pages_midline(boxes: DataFrame, pages: DataFrame,
                               media: DataFrame):
    """schoollist_2 stage 2 (schoollist_2.py:93-103): the separator is
    DEFINED as the image midline (img_w / 2, float) — no line detection.
    Returns (boxes_split, pages_split, media_split)."""
    sep_img = pages.select(
        "doc_id", "page", (F.col("img_w") / 2.0).alias("split_pos"))
    scale = pages.select(
        "doc_id", "page", (F.col("img_w") / F.col("width")).alias("sx"))
    sep_page = (sep_img.join(scale, ["doc_id", "page"])
                .select("doc_id", "page",
                        (F.col("split_pos") / F.col("sx")).alias("split_pos")))

    boxes_split, page_map = split_boxes(boxes, sep_page, pages, "v")
    media_split = split_media(media, pages, sep_img, "v")

    dims = probe_media(media_split).select(
        "media_ref", F.col("width").alias("img_w"),
        F.col("height").alias("img_h"))
    ref = (pages.select("doc_id", "page", "media_ref")
           .join(page_map.select("doc_id", "page", "half", "new_page",
                                 "new_width", "new_height"),
                 ["doc_id", "page"])
           .select("doc_id",
                   F.col("new_page").alias("page"),
                   F.col("new_width").alias("width"),
                   F.col("new_height").alias("height"),
                   F.concat("media_ref",
                            F.when(F.col("half") == 0, F.lit("#A"))
                             .otherwise(F.lit("#B"))).alias("media_ref")))
    pages_split = ref.join(dims, "media_ref").select(
        "doc_id", "page", "width", "height", "media_ref", "img_w", "img_h")
    return boxes_split, pages_split, media_split


def schoollist2_row_line_centers(boxes: DataFrame, pages: DataFrame,
                                 media: DataFrame,
                                 header_row_height: float = HEADER_ROW_HEIGHT):
    """schoollist_2 stage 3 (schoollist_2.py:117-186): per split page
    Hough (votes 0.2*img_w) -> rotation decision restricted to
    HORIZONTAL lines -> always-rotate box repair -> horizontal cluster
    centers at dist HEADER_ROW_HEIGHT/2, NO empty-section removal (the
    clusters only locate the table header)."""
    rotations, filtered = detect_lines_with_rotation(
        pages, media, math.radians(0.5), math.radians(1.0),
        omit_on_rot_thresh=math.radians(0.5), only_direction="h")
    boxes_fixed = rotate_boxes_back(boxes, rotations, force_rotation=True)
    lines_fixed = apply_rotation_to_lines(filtered)
    centers = line_border_centers(lines_fixed, pages, "h",
                                  header_row_height / 2)
    return centers, boxes_fixed


def schoollist2_raw_positions(boxes_fixed: DataFrame, pages: DataFrame,
                              centers: DataFrame,
                              n_cols: int = N_COLS_SL2,
                              min_row_gap: float = MIN_ROW_GAP,
                              smalltexts_width: float = SMALLTEXTS_WIDTH) -> DataFrame:
    """schoollist_2 stage 4 per-page part (schoollist_2.py:197-259):
    header from top-quarter line clusters (>= 2 or no table), rows from
    text top/bottom border clusters (gap-midpoint borders, the LAST
    cluster's top is the bottom border), columns from the n_cols LARGEST
    left-border clusters of non-small texts + the rightmost text's right.
    Emits the page's UNCORRECTED col_positions (the corpus median
    correction is a separate distributed stage)."""

    meta = (centers.groupBy("doc_id", "page")
            .agg(F.array_sort(F.collect_list("center")).alias("line_centers"))
            .join(pages.select("doc_id", "page", "width", "height",
                               (F.col("img_h") / F.col("height")).alias("sy")),
                  ["doc_id", "page"]))

    def kern(key, boxes_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id, page = key
        cols_out = ["doc_id", "page", "col_positions", "row_positions"]
        if len(meta_pdf) == 0 or len(boxes_pdf) == 0:
            return pd.DataFrame(columns=cols_out)
        m = meta_pdf.iloc[0]
        page_h = float(m["height"])
        page_w = float(m["width"])
        sy = float(m["sy"])

        boxes_pdf = boxes_pdf.sort_values("box_id", kind="stable")
        left = boxes_pdf["left"].to_numpy(dtype=float)
        top = boxes_pdf["top"].to_numpy(dtype=float)
        width = boxes_pdf["width"].to_numpy(dtype=float)
        height = boxes_pdf["height"].to_numpy(dtype=float)
        bottom = top + height
        right = left + width

        hori_lines = [c / sy for c in m["line_centers"]]
        header = [y for y in hori_lines if y < page_h * 0.25]
        if len(header) < 2:
            return pd.DataFrame(columns=cols_out)
        table_top_y = sorted(header)[-1]

        in_table = top >= table_top_y
        # rows: cluster BOTH borders (top+bottom) of table texts
        # (border_positions_from_texts(DIRECTION_VERTICAL) returns the
        # sorted union, textboxes.py:27-52)
        texts_ys = np.sort(np.concatenate([top[in_table], bottom[in_table]]))
        clusters = find_clusters_1d_break_dist(
            texts_ys, min_row_gap / 2 / sy)
        cw = zip_clusters_and_values(clusters, texts_ys)
        row_positions = []
        prev_bottom = None
        for _, ys in cw:
            row_top = float(np.min(ys))
            if not row_positions:
                row_positions.append(row_top)
            else:
                row_positions.append(row_top - (row_top - prev_bottom) / 2)
            prev_bottom = float(np.max(ys))
        if not row_positions:
            return pd.DataFrame(columns=cols_out)

        # columns: n_cols LARGEST left-border clusters of big texts
        in_rows = in_table & (bottom <= row_positions[-1])
        big = in_rows & (width >= smalltexts_width)
        texts_xs = np.sort(left[big])
        ccl = zip_clusters_and_values(
            find_clusters_1d_break_dist(texts_xs, smalltexts_width),
            texts_xs)
        # stable sort by size desc keeps ascending-x order among ties
        by_size = sorted(ccl, key=lambda c: len(c[0]), reverse=True)
        col_positions = sorted(float(np.min(xs)) for _, xs in by_size[:n_cols])
        if not col_positions:
            return pd.DataFrame(columns=cols_out)
        last_sel = in_rows & (left >= col_positions[-1]) & (left < page_w)
        if last_sel.any():
            col_positions.append(float(np.max(right[last_sel])))

        return pd.DataFrame(
            [(doc_id, int(page),
              [float(x) for x in col_positions],
              [float(y) for y in row_positions])], columns=cols_out)

    return (boxes_fixed.groupBy("doc_id", "page")
            .cogroup(meta.groupBy("doc_id", "page"))
            .applyInPandas(kern, schema="doc_id string, page int, "
                                        "col_positions array<double>, "
                                        "row_positions array<double>"))


def correct_columns_by_doc_median(raw: DataFrame, n_cols: int = N_COLS_SL2,
                                  min_diffsum: float = CORRECT_COLS_MIN_DIFFSUM
                                  ) -> DataFrame:
    """schoollist_2 stage 5 (schoollist_2.py:265-297): normalize each
    VALID page's column borders to its first border, take per-index
    medians across the doc's pages, and replace a page's borders with
    (medians + first border) when the page is invalid (wrong border
    count) or deviates by more than ``min_diffsum``.

    Distributed shape: the reference pools over the whole (single-doc)
    corpus; at 10^12 scale the natural model unit is the document, so
    the median is a per-(doc_id, border-index) exact percentile — a
    posexplode + groupBy, no driver loop, no collect."""
    k = n_cols + 1
    valid = raw.where(F.size("col_positions") == k)
    norm = valid.select(
        "doc_id", "page",
        F.transform("col_positions",
                    lambda x: x - F.col("col_positions")[0]).alias("norm"))
    med = (norm.select("doc_id", F.posexplode("norm").alias("i", "x"))
           .groupBy("doc_id", "i")
           .agg(F.percentile("x", F.lit(0.5)).alias("m"))
           .groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_im"))
           .select("doc_id",
                   F.transform("_im", lambda s: s["m"]).alias("medians")))
    j = raw.join(med, "doc_id", "left")
    is_valid = F.size("col_positions") == k
    diffsum = F.aggregate(
        F.zip_with("col_positions", "medians",
                   lambda c, m: F.abs(c - F.col("col_positions")[0] - m)),
        F.lit(0.0), lambda acc, x: acc + x)
    corrected = F.transform(
        "medians", lambda m: m + F.col("col_positions")[0])
    use_corrected = F.col("medians").isNotNull() & (
        ~is_valid | (diffsum > F.lit(min_diffsum)))
    return j.select(
        "doc_id", "page",
        F.when(use_corrected, corrected)
         .otherwise(F.col("col_positions")).alias("col_positions"),
        "row_positions")


def schoollist2_extract(spark: SparkSession, data_dir: str):
    """Full schoollist_2 pipeline: directory of pdf2xml XML + double-page
    color JPEG scans -> (cells long-form DF (lines-mode text), positions
    DF, boxes_split DF). Semantics match the reference example's
    committed outputs (generated_output/)."""
    boxes, pages, media = load_schoollist(spark, data_dir)
    pages = pages.persist()
    boxes_split, pages_split, media_split = split_double_pages_midline(
        boxes, pages, media)
    pages_split = pages_split.persist()
    boxes_split = boxes_split.persist()
    media_split = media_split.persist()
    centers, boxes_fixed = schoollist2_row_line_centers(
        boxes_split, pages_split, media_split)
    boxes_fixed = boxes_fixed.persist()
    raw = schoollist2_raw_positions(boxes_fixed, pages_split, centers)
    positions = correct_columns_by_doc_median(raw).persist()
    assigned = assign_cells_joined(boxes_fixed, positions)
    cells = cell_texts_lines(assigned, positions, boxes_fixed)
    return cells, positions, boxes_fixed
