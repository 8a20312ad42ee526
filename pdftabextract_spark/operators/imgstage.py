"""Image stage: media_ref -> page-image bytes -> Hough lines -> page
rotation/skew estimate -> repaired textboxes and line-derived grid borders.

This is the catalogue_30s path (/root/reference/examples/catalogue_30s/
catalog_30s.py:72-166): per page, detect lines (Canny+Hough), classify
h/v, estimate rotation/skew from angle-deviation medians, repair textbox
coordinates by rotating them back, and take COLUMN borders from the
vertical line clusters (corpus model fit applied downstream).

All pixel work happens in one Arrow-batched mapInPandas kernel over
(media_ref, bytes) rows joined to pages — one decoded image at a time,
bounded memory; group key is the page, so pages-per-doc skew cannot
concentrate work (north rule). Line analytics beyond the kernel are
DataFrame ops.
"""

import math

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..kernels import imgproc as K
from ..kernels.pyworker import forget_zip_importers
from ..kernels.raster import decode_raster

_LINES_SCHEMA = ("doc_id string, page int, rho double, theta double, "
                 "theta_norm double, direction string")

_ENRICHED_SCHEMA = _LINES_SCHEMA + ", rot_type string, rot_radians double"

_LINE_COLS = ["doc_id", "page", "rho", "theta", "theta_norm", "direction"]

_ENRICHED_COLS = _LINE_COLS + ["rot_type", "rot_radians"]


def _batch_lines(pdf, canny_low=50, canny_high=150, hough_rho_res=1.0,
                 hough_theta_res=math.pi / 500, hough_votes_rel=0.2,
                 edge_method="canny", hough_votes_abs=None):
    """Yield (row, classified Hough lines [(rho, theta, theta_norm,
    direction)]) for each page image of a batch: decode, edges, Hough,
    h/v classification.

    One loop body, not a per-page call: a page's frames stay alive until
    the next page's replace them, so the allocator reuses their memory
    rather than returning it to the OS and faulting it back in per page
    (a per-page helper made the kernel ~20% slower on a 4-vCPU host)."""
    edge_fn = K.canny_edges if edge_method == "canny" else K.edges_simple
    for r in pdf.itertuples(index=False):
        gray = decode_raster(bytes(r.bytes), luma_only=True)
        edges = edge_fn(gray, canny_low, canny_high)
        votes = (int(hough_votes_abs) if hough_votes_abs is not None
                 else int(round(hough_votes_rel * gray.shape[1])))
        lines = K.hough_lines(edges, hough_rho_res, hough_theta_res,
                              max(votes, 2))
        yield r, K.classify_hough_lines(lines)


def _enriched(lines: DataFrame):
    """Persist the enriched line frame (both outputs consume it through
    separate downstream actions; without this the whole upstream lineage,
    typically decode+Canny+Hough, would run per consumer) and split it
    into (rotations, filtered lines) with two narrow filters."""
    enriched = lines.persist(StorageLevel.MEMORY_AND_DISK)
    rotations = enriched.where(F.col("direction").isNull()).select(
        "doc_id", "page", "rot_type", "rot_radians")
    filtered_lines = enriched.where(F.col("direction").isNotNull())
    return rotations, filtered_lines


def line_batches(batches, **detect):
    """``detect_lines``' kernel: it drops the worker's zip importers
    (kernels/pyworker), then emits each page image's classified lines.
    ``detect``: the keyword arguments of ``_batch_lines``."""
    forget_zip_importers()
    for pdf in batches:
        rows = []
        for r, lh in _batch_lines(pdf, **detect):
            rows.extend((r.doc_id, r.page, *line) for line in lh)
        yield pd.DataFrame(rows, columns=_LINE_COLS)


def detect_lines(pages: DataFrame, media: DataFrame,
                 canny_low=50, canny_high=150,
                 hough_rho_res=1.0, hough_theta_res=math.pi / 500,
                 hough_votes_rel=0.2, edge_method="canny",
                 hough_votes_abs=None) -> DataFrame:
    """pages(doc_id,page,media_ref) x media(media_ref,bytes) -> classified
    Hough lines per page. votes threshold = hough_votes_rel * image width
    (catalog_30s.py:89-92).

    ``edge_method``: 'canny' (default — full NMS+hysteresis Canny, the
    algorithm the reference runs via cv2.Canny; required for real scans,
    where thick glyph-edge blobs otherwise flood the Hough accumulator)
    or 'simple' (thresholded gradient — cheaper, adequate only for clean
    synthetic renders)."""
    joined = pages.select("doc_id", "page", "media_ref").join(media, "media_ref")
    detect = dict(canny_low=canny_low, canny_high=canny_high,
                  hough_rho_res=hough_rho_res, hough_theta_res=hough_theta_res,
                  hough_votes_rel=hough_votes_rel, edge_method=edge_method,
                  hough_votes_abs=hough_votes_abs)
    return joined.mapInPandas(lambda batches: line_batches(batches, **detect),
                              schema=_LINES_SCHEMA)


def rotation_group(pdf: pd.DataFrame, rot_thresh, rot_same_dir_thresh,
                   omit_on_rot_thresh=None, only_direction=None):
    """``find_rotation_per_page``'s grouped kernel: it drops the worker's
    zip importers (kernels/pyworker), then returns one page's header row
    (direction NULL) and its filtered lines, each carrying the page's
    rotation decision."""
    forget_zip_importers()
    doc_id = pdf.iloc[0]["doc_id"]
    page = int(pdf.iloc[0]["page"])
    lh = list(zip(pdf["rho"], pdf["theta"], pdf["theta_norm"], pdf["direction"]))
    (rs_type, rs_rad), filtered = K.find_rotation_or_skew(
        lh, rot_thresh, rot_same_dir_thresh,
        omit_on_rot_thresh=omit_on_rot_thresh, only_direction=only_direction)
    rows = [(np.nan, np.nan, np.nan, None)] + list(filtered)
    out = pd.DataFrame(rows, columns=["rho", "theta", "theta_norm", "direction"])
    out.insert(0, "doc_id", doc_id)
    out.insert(1, "page", page)
    out["rot_type"] = rs_type
    out["rot_radians"] = np.nan if rs_rad is None else float(rs_rad)
    return out


def find_rotation_per_page(lines: DataFrame, rot_thresh, rot_same_dir_thresh,
                           omit_on_rot_thresh=None, only_direction=None):
    """Per-page rotation/skew decision + stray-line filter.

    Returns (rotations DF, filtered lines DF). The decision logic is the
    reference's sequential conditional chain (imgproc.py:189-275) — medians
    per direction feed threshold logic — run in ONE applyInPandas over the
    page's lines (tens of rows per page). The kernel emits a HEADER row
    per page (direction NULL — also the ADVICE-r1 sentinel: the decision
    is filter-independent, so a page whose lines were all filtered still
    carries it) plus the filtered line rows; both outputs are then narrow
    filters over the same frame — no second groupBy exchange for the
    rotations, and the filtered lines carry rot_type/rot_radians so
    apply_rotation_to_lines needs no join back to the rotations.

    The shared enriched frame is persisted (MEMORY_AND_DISK) and never
    released, so the lines' upstream runs once for both outputs."""
    return _enriched(lines.groupBy("doc_id", "page").applyInPandas(
        lambda pdf: rotation_group(pdf, rot_thresh, rot_same_dir_thresh,
                                   omit_on_rot_thresh, only_direction),
        schema=_ENRICHED_SCHEMA))


def rotation_line_batches(batches, rot_thresh, rot_same_dir_thresh,
                          omit_on_rot_thresh=None, only_direction=None,
                          **detect):
    """``detect_lines_with_rotation``'s kernel: it drops the worker's zip
    importers (kernels/pyworker), then emits, per page image with lines,
    a header row (direction NULL) and the filtered lines, each carrying
    the page's rotation decision. ``detect``: the keyword arguments of
    ``_batch_lines``."""
    forget_zip_importers()
    for pdf in batches:
        rows = []
        for r, lh in _batch_lines(pdf, **detect):
            if not lh:
                continue
            (rs_type, rs_rad), filtered = K.find_rotation_or_skew(
                lh, rot_thresh, rot_same_dir_thresh,
                omit_on_rot_thresh=omit_on_rot_thresh,
                only_direction=only_direction)
            rad = np.nan if rs_rad is None else float(rs_rad)
            rows.append((r.doc_id, r.page, np.nan, np.nan, np.nan,
                         None, rs_type, rad))
            rows.extend((r.doc_id, r.page, rho, theta, tn, d, rs_type, rad)
                        for rho, theta, tn, d in filtered)
        yield pd.DataFrame(rows, columns=_ENRICHED_COLS)


def detect_lines_with_rotation(pages: DataFrame, media: DataFrame,
                               rot_thresh, rot_same_dir_thresh,
                               omit_on_rot_thresh=None, only_direction=None,
                               canny_low=50, canny_high=150,
                               hough_rho_res=1.0, hough_theta_res=math.pi / 500,
                               hough_votes_rel=0.2, edge_method="canny",
                               hough_votes_abs=None):
    """Fused detect_lines + find_rotation_per_page: decode -> Canny ->
    Hough -> classify -> per-page rotation decision + stray-line filter,
    all inside ONE mapInPandas kernel (round 5).

    The decode kernel already holds each page's complete line set, so
    routing it through a groupBy("doc_id","page").applyInPandas only to
    re-assemble the same per-page groups costs a full shuffle exchange
    plus a second Python-worker round trip per image job. Semantics are
    identical to the unfused pair (differential-tested row-for-row):
    pages whose Hough output is empty emit nothing, exactly like the
    groupBy path where an empty group never forms, and the decision
    chain is the same K.find_rotation_or_skew call. Returns
    (rotations, filtered_lines) with the same schemas, off one persisted
    enriched frame, so the decode runs once for both."""
    joined = pages.select("doc_id", "page", "media_ref").join(media, "media_ref")
    detect = dict(canny_low=canny_low, canny_high=canny_high,
                  hough_rho_res=hough_rho_res, hough_theta_res=hough_theta_res,
                  hough_votes_rel=hough_votes_rel, edge_method=edge_method,
                  hough_votes_abs=hough_votes_abs)
    return _enriched(joined.mapInPandas(
        lambda batches: rotation_line_batches(
            batches, rot_thresh, rot_same_dir_thresh, omit_on_rot_thresh,
            only_direction, **detect),
        schema=_ENRICHED_SCHEMA))


def apply_rotation_to_lines(lines_with_rot: DataFrame, sign: float = -1.0) -> DataFrame:
    """apply_found_rotation_or_skew (imgproc.py:153-176) as a projection:
    theta += sign*radians for affected-direction lines, theta_norm
    renormalized. Expects rho/theta/theta_norm/direction/rot_type/
    rot_radians columns.

    ``sign`` — WHICH CONVENTION DIFFERS (pinned, see
    tests/test_image_path.py::test_rotation_sign_convention): under the
    cv2 parameterization rho = x*cos(theta) + y*sin(theta) (used by
    cv2.HoughLines, our Hough kernel, and the synthetic renderer alike),
    rotating page content by +alpha moves a vertical line's theta from 0
    to +alpha, and the reference's deviation chain
    (imgproc.py:214-228: d=-theta_norm, +pi fold, append(-d)) then
    returns found = +alpha. Straightening therefore requires
    theta -= found. The reference's literal `theta += radians`
    (imgproc.py:169) moves lines AWAY from straight — residual tilt 2*alpha
    — a latent quirk of the reference itself, invisible at its <1 degree
    use cases because downstream only consumes approximate line midpoints.
    Default sign=-1.0 is the corrective (straightening) convention;
    sign=+1.0 reproduces the reference's literal semantics for parity
    experiments. Note the reference's own flagship example calls the
    repair with the NEGATED angle (catalog_30s.py:122:
    ``apply_found_rotation_or_skew(type, -radians)``), i.e. sign=-1 IS
    reference-example behavior — the literal `+=` path never fires with
    a positive found angle in practice."""
    affected = (
        F.col("rot_type").isNotNull() & ~F.isnan(F.col("rot_radians")) & (
            (F.col("rot_type") == "r")
            | ((F.col("rot_type") == "sy") & (F.col("direction") == "h"))
            | ((F.col("rot_type") == "sx") & (F.col("direction") == "v"))
        )
    )
    new_theta = F.when(affected,
                       F.col("theta") + F.lit(float(sign)) * F.col("rot_radians")
                       ).otherwise(F.col("theta"))
    # normalize_angle parity for the practical range (-2pi, 4pi): note the
    # reference REFLECTS negative angles (abs(theta)), it does not wrap —
    # geom.py:232-236
    twopi = 2 * math.pi
    norm = (F.when(new_theta >= twopi, new_theta - twopi)
             .when(new_theta < 0, F.abs(new_theta))
             .otherwise(new_theta))
    return (lines_with_rot
            .withColumn("theta", new_theta)
            .withColumn("theta_norm",
                        F.when(affected, norm).otherwise(F.col("theta_norm"))))


def rotate_boxes_back(boxes: DataFrame, rotations: DataFrame,
                      force_rotation: bool = False) -> DataFrame:
    """rotate_textboxes / deskew_textboxes repair (catalog_30s.py:110-115:
    rotate by the NEGATED found angle about (0,0)) as pure projections —
    no Python, exact trig expressions.

    ``force_rotation``: treat every non-null decision as a rotation
    (schoollist_1.py:161-165 "assume that it's always rotated" — it calls
    rotate_textboxes regardless of whether the decision was skew)."""
    b = boxes.join(rotations, ["doc_id", "page"], "left")
    has = F.col("rot_type").isNotNull() & ~F.isnan(F.col("rot_radians"))
    if force_rotation:
        b = b.withColumn("rot_type",
                         F.when(has, F.lit("r")).otherwise(F.col("rot_type")))
    ang = -F.col("rot_radians")
    cos_t, sin_t = F.cos(ang), F.sin(ang)

    rot_left = cos_t * F.col("left") - sin_t * F.col("top")
    rot_top = sin_t * F.col("left") + cos_t * F.col("top")

    # skew repair (textboxes.py:191-219): sx shifts left by
    # -sin(a)*(center_y), sy shifts top by sin(a)*(center_x), about (0,0)
    sk = F.sin(ang)
    sx_left = F.col("left") - sk * (F.col("top") + F.col("height") / 2)
    sy_top = F.col("top") + sk * (F.col("left") + F.col("width") / 2)

    new_left = (F.when(has & (F.col("rot_type") == "r"), rot_left)
                 .when(has & (F.col("rot_type") == "sx"), sx_left)
                 .otherwise(F.col("left")))
    new_top = (F.when(has & (F.col("rot_type") == "r"), rot_top)
                .when(has & (F.col("rot_type") == "sy"), sy_top)
                .otherwise(F.col("top")))
    return (b.withColumn("left", new_left)
             .withColumn("top", new_top)
             .drop("rot_type", "rot_radians"))


def line_border_centers(lines: DataFrame, pages: DataFrame,
                        direction: str, dist_thresh: float) -> DataFrame:
    """Vertical (or horizontal) line positions per page -> 1-D cluster
    centers (the catalogue's column borders before model repair).

    Line position = midpoint of the canvas-projected segment
    (imgproc.py:311-314), computed in a vectorized kernel, then clustered
    with the standard window op and reduced to exact medians."""
    from ..operators.clustering import cluster_centers

    sel = lines.where(F.col("direction") == direction).join(
        pages.select("doc_id", "page", "img_w", "img_h"), ["doc_id", "page"])
    positions = sel.mapInPandas(
        lambda batches: border_position_batches(batches, direction),
        schema="doc_id string, page int, pos double")
    return cluster_centers(positions, "pos", dist_thresh, ("doc_id", "page"),
                           center="median")


def border_position_batches(batches, direction):
    """``line_border_centers``' kernel: it drops the worker's zip
    importers (kernels/pyworker), then emits the canvas-projected
    midpoint of every ``direction`` line, per page."""
    forget_zip_importers()
    coord_idx = 0 if direction == "v" else 1
    for pdf in batches:
        rows = []
        for (doc_id, page, img_w, img_h), grp in pdf.groupby(
                ["doc_id", "page", "img_w", "img_h"], sort=False):
            pos = K.hough_line_midpoints(
                grp["rho"].to_numpy(), grp["theta"].to_numpy(),
                float(img_w), float(img_h), coord_idx)
            rows.extend((doc_id, int(page), float(p)) for p in pos)
        yield pd.DataFrame(rows, columns=["doc_id", "page", "pos"])


def filter_empty_cluster_sections(centers: DataFrame, boxes: DataFrame,
                                  direction: str, n_texts_ratio: float,
                                  scaling: float = 1.0,
                                  scaling_col: str = None) -> DataFrame:
    """Empty-section removal (imgproc.py:330-360): drop line clusters whose
    preceding band contains too few textboxes; the cluster right before
    the first kept one is re-included. Sequential per page (prev-center
    chaining) -> cogrouped applyInPandas calling the numpy kernel.

    ``centers``: (doc_id, page, cluster_id, center, n);
    ``direction``: 'v' filters column clusters against box left/right,
    'h' against top/bottom;
    ``scaling_col``: name of a per-page column in ``centers`` holding the
    image->textbox-space scaling (catalog_30s.py:136: positions live in
    scanned-image space, boxes in page space); overrides the scalar."""
    import pandas as pd
    from ..kernels.imgproc import remove_empty_cluster_sections

    if direction == "v":
        lo_col, hi_col = "left", "right"
    else:
        lo_col, hi_col = "top", "bottom"
    b = boxes.select(
        "doc_id", "page",
        F.col("left" if direction == "v" else "top").alias("lo"),
        ((F.col("left") + F.col("width")) if direction == "v"
         else (F.col("top") + F.col("height"))).alias("hi"))

    def kern(key, centers_pdf: pd.DataFrame, boxes_pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id, page = key
        if len(centers_pdf) == 0:
            return pd.DataFrame(columns=["doc_id", "page", "cluster_id", "center", "n"])
        page_scaling = (float(centers_pdf.iloc[0][scaling_col])
                        if scaling_col else scaling)
        # kernel operates on (indices, values); feed each cluster's center
        # as a singleton value set (centers already reduced) — the band
        # semantics depend only on the centers and box borders
        cw = [(np.array([i]), np.array([c]))
              for i, c in zip(centers_pdf["cluster_id"], centers_pdf["center"])]
        kept = remove_empty_cluster_sections(
            cw, boxes_pdf["lo"].to_numpy(), boxes_pdf["hi"].to_numpy(),
            n_texts_ratio, page_scaling)
        kept_ids = {int(ind[0]) for ind, _ in kept}
        out = centers_pdf[centers_pdf["cluster_id"].isin(kept_ids)].copy()
        out["doc_id"] = doc_id
        out["page"] = page
        return out[["doc_id", "page", "cluster_id", "center", "n"]]

    return (centers.groupBy("doc_id", "page")
            .cogroup(b.groupBy("doc_id", "page"))
            .applyInPandas(kern, schema="doc_id string, page int, "
                                        "cluster_id int, center double, n long"))
