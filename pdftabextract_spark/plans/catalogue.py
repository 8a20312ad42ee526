"""The reference's flagship pipeline (examples/catalogue_30s/catalog_30s.py)
as one Spark DAG over real scanned pages: image-line-driven COLUMNS with a
corpus model fit, text-driven ROWS with regex table-top / footer-heuristic
table-bottom detection, grid assignment, wide export.

Reference stages -> engine mapping (catalog_30s.py cites):
  72-145  per page: Canny+Hough (canny 50/150, rho 1, theta pi/500,
          votes 0.2*img_w), find_rotation_or_skew(0.5deg, 1deg, omit
          0.5deg), rotate/deskew textboxes by -angle about (0,0), repair
          lines with -angle (note: the example NEGATES the angle at the
          call site), vertical clusters dist=MIN_COL_WIDTH/2 with
          empty-section removal (ratio 0.1, per-page image scaling)
  161-166 get_adjusted_cluster_centers(N_COL_BORDERS=17) in image space,
          divided by per-page scaling -> page-space column borders
  174-251 per page rows: stable texts (first two columns, height within
          median/2), top/bottom border clustering dist=median_height/2,
          exact medians, +page height; table top via row-start regex over
          middle-aligned line splits; table bottom via footer heuristics
          (wide text >= 0.8*page span, or all footer words; lower 30%,
          height >= 1.5*median)
  261-296 make_grid_from_positions, fit_texts_into_grid,
          datatable_to_dataframe (colNN + from_page), CSV

Spark shape: everything is per-page (applyInPandas kernels / windows)
except the single corpus-wide column-model aggregation, which reduces to
O(pages x columns) doubles and broadcasts back (operators/model).
"""

import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels.clustering import (
    find_clusters_1d_break_dist, zip_clusters_and_values,
    calc_cluster_centers_1d)
from ..operators.imgstage import (
    detect_lines_with_rotation, apply_rotation_to_lines,
    rotate_boxes_back, line_border_centers, filter_empty_cluster_sections)
from ..operators.model import fit_and_repair
from ..operators.grid import assign_cells_joined, cell_texts
from ..sources.pdf2xml import read_pdf2xml_dir

ROW_PATTERN = r"^[\d Oo][\d Oo]{2,} +[A-ZÄÖÜ]"
FOOTER_WORDS = ("anzeige", "annahme", "ala")


def load_catalogue(spark: SparkSession, data_dir: str):
    """pdf2xml XML + page-image PNGs in one directory -> (boxes, pages,
    media). Page rows carry the PROBED image dimensions (the scaling
    basis, catalog_30s.py:83-86 uses the decoded image's w/h, not the
    XML image tag's page-space attributes)."""
    boxes, pages = read_pdf2xml_dir(spark, data_dir)
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.png").load(data_dir))
    media = files.select(
        F.element_at(F.split("path", "/"), -1).alias("media_ref"),
        F.col("content").alias("bytes"))
    from ..operators.multimodal import probe_media
    dims = probe_media(media).select(
        "media_ref", F.col("width").alias("img_w"), F.col("height").alias("img_h"))
    pages = pages.drop("img_w", "img_h").join(dims, "media_ref")
    return boxes, pages, media


def catalogue_column_positions(boxes: DataFrame, pages: DataFrame,
                               media: DataFrame, n_col_borders=17,
                               min_col_width=60.0,
                               empty_section_ratio=0.1):
    """Stages 2-4 of the catalogue: Hough lines -> rotation repair ->
    vertical clusters (image space) -> empty-section filter -> corpus
    model fit -> page-space column borders.

    Returns (col_positions DF (doc_id, page, col_positions array<double>),
    boxes_fixed DF)."""
    # the Canny+Hough kernel is the expensive stage; the rotation kernel
    # persists its enriched output (tiny line rows) so every downstream
    # action (model-fit collect, rotation join, centers, assignment)
    # reuses one image pass, and the filtered lines already carry the
    # decision
    rotations, filtered = detect_lines_with_rotation(
        pages, media, math.radians(0.5), math.radians(1.0),
        omit_on_rot_thresh=math.radians(0.5), edge_method="canny")
    boxes_fixed = rotate_boxes_back(boxes, rotations)
    lines_fixed = apply_rotation_to_lines(filtered)

    centers = line_border_centers(lines_fixed, pages, "v", min_col_width / 2)
    scaling = pages.select(
        "doc_id", "page",
        (F.col("img_w") / F.col("width")).alias("sx"))
    centers = centers.join(scaling, ["doc_id", "page"])
    centers = filter_empty_cluster_sections(
        boxes=boxes_fixed, centers=centers, direction="v",
        n_texts_ratio=empty_section_ratio, scaling_col="sx")

    repaired = fit_and_repair(centers, n_col_borders, min_col_width / 2)
    cols = (repaired.join(scaling, ["doc_id", "page"])
            .select("doc_id", "page",
                    F.transform("centers_fixed",
                                lambda c: c / F.col("sx")).alias("col_positions")))
    return cols, boxes_fixed


def catalogue_row_positions(boxes_fixed: DataFrame, pages: DataFrame,
                            col_positions: DataFrame,
                            row_pattern: str = ROW_PATTERN,
                            footer_words=FOOTER_WORDS) -> DataFrame:
    """Stage 5: per-page row borders (catalog_30s.py:174-251). Sequential
    per-page logic (regex scan down the lines, footer walk) -> one
    cogrouped applyInPandas kernel; a page's boxes are tiny."""
    pattern = re.compile(row_pattern)
    footer = tuple(footer_words)

    meta = col_positions.join(
        pages.select("doc_id", "page", F.col("height").alias("page_h")),
        ["doc_id", "page"])

    def kern(key, boxes_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id, page = key
        if len(meta_pdf) == 0 or len(boxes_pdf) == 0:
            return pd.DataFrame(
                columns=["doc_id", "page", "row_positions"])
        colpos = np.asarray(meta_pdf.iloc[0]["col_positions"], dtype=float)
        page_h = float(meta_pdf.iloc[0]["page_h"])

        left = boxes_pdf["left"].to_numpy(dtype=float)
        top = boxes_pdf["top"].to_numpy(dtype=float)
        width = boxes_pdf["width"].to_numpy(dtype=float)
        height = boxes_pdf["height"].to_numpy(dtype=float)
        value = boxes_pdf["value"].to_numpy()
        right = left + width
        bottom = top + height

        med_h = float(np.median(height))
        col2_right = colpos[2]
        stable = (right <= col2_right) & (np.abs(height - med_h) <= med_h / 2)

        borders_y = np.sort(np.concatenate([top[stable], bottom[stable]]))
        clusters = find_clusters_1d_break_dist(borders_y, med_h / 2)
        cw = zip_clusters_and_values(clusters, borders_y)
        pos_y = list(calc_cluster_centers_1d(cw))
        pos_y.append(page_h)

        def split_by_positions(mask, positions):
            """(prev, pos] sections over box middles — split_texts_by_
            positions with alignment='middle' (textboxes.py:81-86)."""
            mid = top[mask] + height[mask] / 2
            idx = np.flatnonzero(mask)
            prev = -1.0
            out = []
            for pos in positions:
                sel = idx[(mid > prev) & (mid <= pos)]
                if sel.size:
                    out.append((sel, (prev, pos)))
                prev = pos
            return out

        def join_line(sel):
            order = np.argsort(left[sel], kind="stable")
            return " ".join(str(v) for v in value[sel[order]]).strip()

        # 1. table top: first stable line matching the row-start pattern
        top_y = 0.0
        for sel, (line_top, _) in split_by_positions(stable, pos_y):
            if pattern.match(join_line(sel)):
                top_y = line_top
                break

        # 2. table bottom: footer heuristics over the lower 30%
        min_footer_h = med_h * 1.5
        min_footer_y = page_h * 0.7
        bottom_mask = (top >= min_footer_y) & (height >= min_footer_h)
        page_span = colpos[-1] - colpos[0]
        min_footer_w = page_span * 0.8
        bottom_y = page_h
        for sel, (line_top, _) in split_by_positions(
                bottom_mask, pos_y + [page_h]):
            line_str = join_line(sel)
            wide = bool(np.any(width[sel] >= min_footer_w))
            # all_a_in_b is a SUBSTRING test on the raw line string,
            # case-sensitive (common.py:423-425; catalog_30s.py:237)
            if wide or all(wf in line_str for wf in footer):
                bottom_y = line_top
                break

        kept = [y for y in pos_y if top_y <= y <= bottom_y]
        return pd.DataFrame(
            [(doc_id, int(page), [float(y) for y in kept])],
            columns=["doc_id", "page", "row_positions"])

    return (boxes_fixed.groupBy("doc_id", "page")
            .cogroup(meta.groupBy("doc_id", "page"))
            .applyInPandas(kern, schema="doc_id string, page int, "
                                        "row_positions array<double>"))


def catalogue_extract(spark: SparkSession, data_dir: str,
                      n_col_borders=17, min_col_width=60.0):
    """Full catalogue pipeline: directory of pdf2xml XML + page PNGs ->
    (cells long-form DF, positions DF). Cell/row/column semantics match
    the reference example's committed outputs (generated_output/)."""
    boxes, pages, media = load_catalogue(spark, data_dir)
    pages = pages.persist()
    boxes = boxes.persist()
    cols, boxes_fixed = catalogue_column_positions(
        boxes, pages, media, n_col_borders, min_col_width)
    cols = cols.persist()
    boxes_fixed = boxes_fixed.persist()
    rows = catalogue_row_positions(boxes_fixed, pages, cols)
    positions = cols.join(rows, ["doc_id", "page"]).persist()
    assigned = assign_cells_joined(boxes_fixed, positions)
    cells = cell_texts(assigned, positions)
    return cells, positions
