"""The flagship table-extraction pipeline as one Spark DAG.

Stages (SURVEY.md §3.4):
  scan      span table -> textbox rows + page rows (JVM-side, sources/spans)
  [image]   media_ref -> page-image bytes -> Hough lines -> rotation/skew
            repair (operators/imgstage) — optional, catalogue_30s path
  profiles  one narrow Arrow kernel over the persisted boxes: per-page
            column cluster medians, row cluster min tops and extents
            (operators/clustering.page_profiles)
  columns   corpus column model fit over the pooled per-page centers
            (operators/model) — reduces to O(distinct offsets) rows on
            the driver; the model is n_cols doubles
  grid      one narrow mapInArrow kernel over the same boxes, with the
            model in its closure: per page it re-profiles, repairs the
            centers and builds the borders; then it assigns every box of
            the Arrow batch in one call (kernels/gridfit.assign_pages)
            and packs all of the batch's pages at once
            (kernels/pagegrid.pack_pages), one packed row per page
            (operators/grid.profile_and_pack)
  output    packed pages -> ordered result spans via page-level offsets

Scale notes: the unit of work is a page, never a whole document. Both
passes need each page's rows contiguous within a partition: span-table
boxes are by construction, so the text path moves no box across the
network; other inputs get one exchange by (doc_id, page) first. All heavy
expressions are JVM-side; Python runs only in the two page kernels.
"""

from dataclasses import dataclass

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
    cache: str = "persist"           # reuse strategy for tables consumed
                                     # by >1 downstream branch (boxes,
                                     # profiles, line centers): "persist"
                                     # (MEMORY_AND_DISK columnar — the
                                     # cluster-safe default: lineage
                                     # recomputes on executor loss),
                                     # "checkpoint" (localCheckpoint:
                                     # row-format cache + lineage cut —
                                     # builds 4-40x faster than the
                                     # columnar cache in single-JVM
                                     # microbenches, but a lost executor
                                     # kills the job; full-path A/B on
                                     # this host is swamped by 10x
                                     # hypervisor drift), or "none"
                                     # (recompute per branch)

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


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    """Materialization for frames consumed by multiple downstream
    branches. ``checkpoint`` = localCheckpoint (lazy): caches the
    internal rows and truncates lineage — no columnar re-encode, which
    on this host intermittently costs 10x the scan it saves; recovery
    on executor loss is a job retry (acceptable: the engine's jobs are
    idempotent and externally checkpointed, plans/checkpoint.py).
    ``persist`` = classic MEMORY_AND_DISK columnar cache (recomputable
    lineage). ``none`` = no reuse."""
    if mode == "checkpoint":
        return df.localCheckpoint(eager=False)
    if mode == "persist":
        from pyspark import StorageLevel
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def _pooled_centers(profiles: DataFrame) -> DataFrame:
    """Per-page sorted column centers -> the model fit's pooled column:
    each page's centers normalized to start at 0 by a JVM transform
    (centers - centers[0]) instead of a window min."""
    return profiles.select(
        F.explode(F.transform(
            "col_centers",
            lambda c: c - F.element_at("col_centers", 1))).alias("center_norm"))


def positions_fused(boxes: DataFrame, params: PipelineParams,
                    persist: bool = True) -> DataFrame:
    """Per-page (col_positions, row_positions) as a frame: page profiles,
    the corpus model fit, the model-repair pandas UDF and the border
    assembly as array expressions on the one-row-per-page frame. Same
    precondition as page_profiles. extract_cells_packed computes the same
    borders inside its pack kernel and never materializes this frame."""
    from ..operators.clustering import page_profiles
    from ..operators.model import fit_column_model_pooled, repair_page_centers

    profiles = page_profiles(boxes, params.col_break_dist,
                             params.row_break_dist)
    if persist:
        profiles = _materialize(profiles, params.cache)
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


def extract_cells(boxes: DataFrame, params: PipelineParams,
                  persist: bool = True, page_contiguous: bool = False) -> DataFrame:
    """boxes -> (doc_id, page, row_idx, col_idx, cell_text) full grid: the
    long form of extract_cells_packed, a pure JVM posexplode of the
    packed rows (no shuffle)."""
    packed = extract_cells_packed(boxes, params, persist, page_contiguous)
    return (packed.select(
        "doc_id", "page", "n_cols",
        F.posexplode("cells").alias("pos", "cell_text"))
        .select("doc_id", "page",
                (F.col("pos") / F.col("n_cols")).cast("int").alias("row_idx"),
                (F.col("pos") % F.col("n_cols")).cast("int").alias("col_idx"),
                "cell_text"))


def extract_cells_packed(boxes: DataFrame, params: PipelineParams,
                         persist: bool = True, page_contiguous: bool = False) -> DataFrame:
    """boxes -> the packed per-page form (doc_id, page, n_rows, n_cols,
    cells array, n_unmatched) — the shape the span assembler consumes
    without any further wide shuffle. Two narrow passes over the boxes:

      1. page profiles -> pooled centers -> the corpus column model
         (a driver-side array of n_cols doubles);
      2. one kernel that profiles, repairs, builds the borders, assigns
         and packs each page with the model in its closure.

    Both passes need each page's rows contiguous within a partition.
    Span-table boxes are (``page_contiguous=True``: one doc row explodes
    into one run, spans in offset order); any other input goes through
    ONE exchange + sort by (doc_id, page) here, before the persist.

    ``persist``: the box table feeds both passes; one materialization
    beats re-scanning the span table (scan + explode + JSON parse) per
    pass."""
    from ..operators.clustering import group_pages, page_profiles
    from ..operators.grid import profile_and_pack
    from ..operators.model import fit_column_model_pooled

    # scan-time zero-area drop (parse_pages rect validation,
    # common.py:138-141) — Catalyst pushes this into the source scan
    boxes = boxes.where((F.col("width") > 0) & (F.col("height") > 0))
    if not page_contiguous:
        boxes = group_pages(boxes)
    if persist:
        boxes = _materialize(boxes, params.cache)
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
                             omit_on_rot_thresh_deg=0.5,
                             persist: bool = True) -> DataFrame:
    """The catalogue_30s path (§3.1): columns from Hough-line clusters on
    the page images, rotation estimated from the lines and repaired on
    both lines and textboxes, rows from repaired text tops.
    ``pages`` needs (doc_id, page, media_ref, img_w, img_h)."""
    import math
    from ..operators.imgstage import (
        detect_lines_with_rotation, apply_rotation_to_lines,
        rotate_boxes_back, line_border_centers)
    from ..operators.model import fit_and_repair

    boxes = boxes.where((F.col("width") > 0) & (F.col("height") > 0))
    # fused decode + Canny + Hough + per-page rotation decision in ONE
    # kernel stage (no groupBy exchange to reassemble per-page lines);
    # persisting the kernel OUTPUT means the decode runs exactly once
    # across all downstream actions and the rotations/filtered split is
    # two narrow filters
    rotations, filtered = detect_lines_with_rotation(
        pages, media,
        math.radians(rot_thresh_deg), math.radians(rot_same_dir_thresh_deg),
        omit_on_rot_thresh=math.radians(omit_on_rot_thresh_deg),
        persist=params.cache if persist else False)

    boxes_fixed = rotate_boxes_back(boxes, rotations)
    if persist:
        boxes_fixed = _materialize(boxes_fixed, params.cache)

    lines_fixed = apply_rotation_to_lines(filtered)

    # column borders straight from vertical line clusters (model-repaired);
    # the model size is n_cols + 1 borders (N_COL_BORDERS semantics,
    # catalog_30s.py:46,161-166)
    centers = line_border_centers(lines_fixed, pages, "v", params.col_break_dist)
    if persist:
        # consumed twice: the model-fit probe action and the repair join
        centers = _materialize(centers, params.cache)
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


def result_spans_packed(packed: DataFrame, pages: DataFrame = None) -> DataFrame:
    """Packed per-page cells -> ordered result spans. Offsets come from a
    page-level cumulative sum (one window over #pages rows) instead of a
    document-wide row sort over every span — the scale-defining change for
    wide corpora."""
    per_page = packed.select(
        "doc_id", "page", "n_cols", "cells",
        F.size("cells").alias("_n_text"))
    if pages is not None:
        media = pages.select("doc_id", "page", "media_ref")
        per_page = per_page.join(media, ["doc_id", "page"], "left")
        has_img = F.col("media_ref").isNotNull()
    else:
        per_page = per_page.withColumn("media_ref", F.lit(None).cast("string"))
        has_img = F.lit(False)
    per_page = per_page.withColumn("_n_spans",
                                   F.col("_n_text") + F.when(has_img, 1).otherwise(0))
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

    text_spans = per_page.select(
        "doc_id", "_base", "media_ref",
        F.posexplode("cells").alias("_pos", "text"),
    ).select(
        "doc_id", F.lit("text").alias("kind"), "text",
        F.lit(None).cast("string").alias("media_ref"),
        (F.col("_base") + F.col("_pos")
         + F.when(F.col("media_ref").isNotNull(), 1).otherwise(0)
         ).cast("int").alias("offset"),
    )
    if pages is None:
        return text_spans
    image_spans = per_page.where(F.col("media_ref").isNotNull()).select(
        "doc_id", F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        "media_ref", F.col("_base").cast("int").alias("offset"))
    return text_spans.unionByName(image_spans)


def extract_from_span_table(span_docs: DataFrame, params: PipelineParams,
                            with_images: bool = False) -> DataFrame:
    """North-rule span table in -> result spans out (exploded form)."""
    from ..sources.spans import textboxes_from_spans, pages_from_spans

    boxes = textboxes_from_spans(span_docs)
    # exploded span-table boxes are page-contiguous by construction
    packed = extract_cells_packed(boxes, params, page_contiguous=True)
    pages = pages_from_spans(span_docs) if with_images else None
    return result_spans_packed(packed, pages)
