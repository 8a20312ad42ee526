"""Textbox-flow operators over DataFrames: band joins, reading-line
assembly, nearby-box merging, section merging. Each mirrors a reference
function (cited) as a Catalyst plan — windows + aggregations, no Python in
the hot path.

Box rows carry (doc_id, page, box_id, left, top, width, height, value).
"""

from pyspark.sql import DataFrame, Window as W, functions as F

PAGE_KEY = ("doc_id", "page")


def with_edges(boxes: DataFrame) -> DataFrame:
    """Derived right/bottom columns (common.py:199-223 corner fields as
    projections)."""
    return (boxes
            .withColumn("right", F.col("left") + F.col("width"))
            .withColumn("bottom", F.col("top") + F.col("height")))


def border_positions(boxes: DataFrame, direction: str, only_attr=None) -> DataFrame:
    """border_positions_from_texts (textboxes.py:19-52): per page, the
    sorted array of low/high borders for a direction."""
    if direction not in ("h", "v"):
        raise ValueError("direction must be 'h' or 'v'")
    b = with_edges(boxes)
    lo = F.col("top") if direction == "v" else F.col("left")
    hi = F.col("bottom") if direction == "v" else F.col("right")
    if only_attr == "low":
        vals = F.array(lo)
    elif only_attr == "high":
        vals = F.array(hi)
    else:
        vals = F.array(lo, hi)
    return (b.select(*PAGE_KEY, F.explode(vals).alias("pos"))
             .groupBy(*PAGE_KEY)
             .agg(F.array_sort(F.collect_list("pos")).alias("positions")))


def split_by_positions(boxes: DataFrame, positions: DataFrame,
                       direction: str, alignment: str = "high",
                       positions_col: str = "positions") -> DataFrame:
    """split_texts_by_positions (textboxes.py:55-106) as a band join:
    assigns each box a section_id = index of the first position p with
    prev < edge <= p (half-open (lo, hi], virtual start -1); boxes past
    the last position get section_id = size(positions) and boxes at or
    below -1 get -1 (both 'outside', matching the reference where such
    boxes simply never appear in any section).

    JVM-side binary search via array filtering — no Python, no explode.
    """
    if alignment not in ("low", "middle", "high"):
        raise ValueError("alignment must be low|middle|high")
    b = with_edges(boxes).join(positions, list(PAGE_KEY))
    if direction == "v":
        edge = {"low": F.col("top"), "high": F.col("bottom"),
                "middle": F.col("top") + F.col("height") / 2}[alignment]
    else:
        edge = {"low": F.col("left"), "high": F.col("right"),
                "middle": F.col("left") + F.col("width") / 2}[alignment]
    pos = F.col(positions_col)
    # count of positions strictly below edge == index of first pos >= edge
    below = F.size(F.filter(pos, lambda p: p < edge))
    sec = F.when(edge <= F.lit(-1.0), F.lit(-1)).otherwise(below)
    return b.withColumn("section_id", sec.cast("int"))


def line_ids(boxes: DataFrame) -> DataFrame:
    """put_texts_in_lines (textboxes.py:109-151) as windows: per page,
    sort by top; break after a box when the NEXT box's spacing
    (next.top - cur.bottom) >= -mean_height/2; line_id = cumulative breaks.
    The reference's trailing zero-spacing and dead empty-line insertion
    are preserved/dropped as documented in kernels.textflow.line_ids."""
    b = with_edges(boxes)
    mean_h = F.avg(F.col("height")).over(W.partitionBy(*PAGE_KEY))
    w = W.partitionBy(*PAGE_KEY).orderBy("top", "box_id")
    spacing_prev = F.col("top") - F.lag("bottom").over(w)  # spacing of CURRENT vs prev
    brk = F.when(spacing_prev >= -mean_h / 2, 1).otherwise(0)
    # first row of each page: lag is NULL -> no break
    brk = F.when(spacing_prev.isNull(), 0).otherwise(brk)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return b.withColumn("line_id", F.sum(brk).over(cum).cast("int"))


def merge_nearby_boxes(boxes: DataFrame, direction: str,
                       max_nearby_dist: float, max_same_axis_dist: float,
                       axis_align: str = "low", merge_on_overlap: bool = False,
                       join_str: str = None) -> DataFrame:
    """merge_nearby_textboxes_in_page (clustering.py:168-241) as
    gaps-and-islands: group boxes by axis alignment (cluster the cross-axis
    coordinate), order along the merge direction, chain-merge while the gap
    (next.low - prev.high) stays <= max_nearby_dist (and >= 0 unless
    merge_on_overlap). Merged box: min left/top, value concatenation in
    order, extent grown to the chain's max high edge.

    Faithful to the reference's row semantics for the supported
    axis_align='low' ('top'/'left') mode; the reference's 'center' mode
    feeds raw centers into a gap-clustering function (its documented
    quirk, clustering.py:201-204 — SURVEY §2.9) and is exposed as
    axis_align='center_quirk' reproducing exactly that: clustering center
    VALUES with the break-dist threshold.
    """
    if direction not in ("h", "v"):
        raise ValueError("direction must be 'h' or 'v'")
    if max_same_axis_dist < 0:
        raise ValueError("`max_same_axis_dist` must be positive")
    if join_str is None:
        join_str = " " if direction == "h" else "\n"

    b = with_edges(boxes)
    if direction == "h":
        near_lo, near_hi = "left", "right"
        axis_attr, axis_dim = "top", "height"
    else:
        near_lo, near_hi = "top", "bottom"
        axis_attr, axis_dim = "left", "width"

    if axis_align == "center_quirk":
        axis_val = F.col(axis_attr) + F.col(axis_dim) / 2
    else:
        axis_val = F.col(axis_attr)
    b = b.withColumn("_axis", axis_val)

    # cluster on the axis coordinate (same break-dist window op)
    wa = W.partitionBy(*PAGE_KEY).orderBy("_axis", "box_id")
    gap_a = F.col("_axis") - F.lag("_axis").over(wa)
    brk_a = F.when(gap_a >= F.lit(float(max_same_axis_dist)), 1).otherwise(0)
    b = b.withColumn("_axis_grp",
                     F.sum(brk_a).over(wa.rowsBetween(W.unboundedPreceding, W.currentRow)))

    # chain-merge along the direction within each axis group
    wd = W.partitionBy(*PAGE_KEY, "_axis_grp").orderBy(near_lo, "box_id")
    gap_d = F.col(near_lo) - F.lag(near_hi).over(wd)
    mergeable = (gap_d <= F.lit(float(max_nearby_dist))) & \
        (F.lit(bool(merge_on_overlap)) | (gap_d >= 0))
    brk_d = F.when(gap_d.isNull() | ~mergeable, 1).otherwise(0)
    b = b.withColumn("_chain",
                     F.sum(brk_d).over(wd.rowsBetween(W.unboundedPreceding, W.currentRow)))

    # reference extent semantics (clustering.py:211,226-232): the merged
    # box keeps the FIRST member's origin and cross-dimension; the merge
    # dimension extends to the LAST member's far edge
    ordered = F.array_sort(F.collect_list(F.struct(
        F.col(near_lo).alias("_k"), F.col("box_id").alias("box_id"),
        "left", "top", "width", "height", "right", "bottom", "value")))
    agg = (b.groupBy(*PAGE_KEY, "_axis_grp", "_chain")
           .agg(ordered.alias("_m")))
    first = F.element_at("_m", 1)
    last = F.element_at("_m", -1)
    if direction == "h":
        width = last["right"] - first["left"]
        height = first["height"]
    else:
        width = first["width"]
        height = last["bottom"] - first["top"]
    return agg.select(
        *PAGE_KEY,
        first["box_id"].alias("box_id"),
        first["left"].alias("left"), first["top"].alias("top"),
        width.alias("width"), height.alias("height"),
        F.array_join(F.transform("_m", lambda x: x["value"]), join_str).alias("value"))


def merge_overlapping_sections(sections: DataFrame, overlap_thresh: float) -> DataFrame:
    """merge_overlapping_sections_of_texts (clustering.py:244-288) on a
    sections DataFrame (doc_id, page, section_id, sec_lo, sec_hi):
    consecutive sections whose gap (cur.lo - prev.hi) < thresh merge into
    one island. NOTE the reference computes each section's lo as the MAX
    of member lows (its sorted(...,reverse=True)[0] quirk,
    clustering.py:262) — callers must supply sec_lo accordingly.
    Returns sections with an ``island`` id to regroup members by."""
    w = W.partitionBy(*PAGE_KEY).orderBy("section_id")
    gap = F.col("sec_lo") - F.lag("sec_hi").over(w)
    brk = F.when(gap.isNull() | (gap >= F.lit(float(overlap_thresh))), 1).otherwise(0)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return sections.withColumn("island", F.sum(brk).over(cum).cast("int"))


def merge_small_sections(sections: DataFrame, min_num_texts: int) -> DataFrame:
    """merge_small_sections_of_texts (clustering.py:291-316): a section
    with n_texts <= min merges into its predecessor. The reference tests
    only the CURRENT section's own size (clustering.py:302), so island ids
    are a cumulative sum over 'starts new section' flags."""
    w = W.partitionBy(*PAGE_KEY).orderBy("section_id")
    first = F.lag("section_id").over(w).isNull()
    starts_new = first | (F.col("n_texts") > F.lit(int(min_num_texts)))
    brk = F.when(starts_new, 1).otherwise(0)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return sections.withColumn("island", F.sum(brk).over(cum).cast("int"))
