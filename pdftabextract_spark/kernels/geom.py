"""2-D geometry kernels.

Semantics match the reference implementation (pdftabextract/geom.py in
/root/reference — cited per function); code is re-derived and vectorized
where useful. These run inside Arrow-batched pandas UDFs and in plain
pytest, never per-row on the JVM boundary.
"""

import math

import numpy as np


def pt(x, y, dtype=float):
    """2-D point as ndarray. Parity: /root/reference/pdftabextract/geom.py:15-17."""
    return np.array((x, y), dtype=dtype)


def ptdist(p1, p2):
    """Euclidean distance. Parity: geom.py:20-22."""
    return np.linalg.norm(np.asarray(p2) - np.asarray(p1))


def vecangle(v1, v2):
    """Angle between vectors in radians; NaN for zero vectors, always the
    smaller (non-reflex) angle. Parity: geom.py:25-41."""
    zero = np.zeros(2)
    if np.allclose(v1, zero) or np.allclose(v2, zero):
        return np.nan
    if np.allclose(v1, v2):
        return 0
    num = np.vdot(v1, v2)
    denom = np.linalg.norm(v1) * np.linalg.norm(v2)
    if np.isclose(num, denom):
        return 0
    return math.acos(num / denom)


def vecrotate(v, theta, about=(0.0, 0.0)):
    """Rotate vector ``v`` by ``theta`` radians about point ``about``.
    Parity: geom.py:44-52."""
    c, s = math.cos(theta), math.sin(theta)
    ax, ay = about[0], about[1]
    return pt(
        c * v[0] - s * v[1] + ax - c * ax + s * ay,
        s * v[0] + c * v[1] + ay - s * ax - c * ay,
    )


def rotate_xy(x, y, theta, about_x=0.0, about_y=0.0):
    """Vectorized ``vecrotate`` over coordinate arrays. Returns (x', y')."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    c, s = math.cos(theta), math.sin(theta)
    nx = c * x - s * y + about_x - c * about_x + s * about_y
    ny = s * x + c * y + about_y - s * about_x - c * about_y
    return nx, ny


def overlap(a1, a2, b1, b2):
    """1-D interval overlap predicate (inclusive of touching endpoints).
    Parity: geom.py:55-65."""
    a_min, a_max = min(a1, a2), max(a1, a2)
    b_min, b_max = min(b1, b2), max(b1, b2)
    return a_min <= b_max and b_min <= a_max


def lineintersect(p1, p2, p3, p4, check_in_segm=True):
    """Intersection of lines/segments (p1,p2) and (p3,p4).

    Returns the intersection point, ``pt(nan, nan)`` for coincident
    parallels, and None when there is no (in-segment) intersection.
    Parity: geom.py:68-132 (Wolfram line-line intersection determinants).
    """
    p1 = np.asarray(p1, dtype=float)
    p2 = np.asarray(p2, dtype=float)
    p3 = np.asarray(p3, dtype=float)
    p4 = np.asarray(p4, dtype=float)

    d12 = p1[0] * p2[1] - p1[1] * p2[0]  # det[p1; p2]
    d34 = p3[0] * p4[1] - p3[1] * p4[0]
    dx12, dy12 = p1[0] - p2[0], p1[1] - p2[1]
    dx34, dy34 = p3[0] - p4[0], p3[1] - p4[1]
    den = dx12 * dy34 - dy12 * dx34

    if den == 0:  # parallel
        isect = pt(np.nan, np.nan)
        if not check_in_segm:
            return isect
        # coincident only if the segments' bounding ranges overlap on both axes
        if overlap(p1[0], p2[0], p3[0], p4[0]) and overlap(p1[1], p2[1], p3[1], p4[1]):
            return isect
        return None

    ix = (d12 * dx34 - dx12 * d34) / den
    iy = (d12 * dy34 - dy12 * d34) / den
    isect = pt(ix, iy)

    if not check_in_segm:
        return isect

    in_seg = (
        min(p1[0], p2[0]) <= ix <= max(p1[0], p2[0])
        and min(p3[0], p4[0]) <= ix <= max(p3[0], p4[0])
        and min(p1[1], p2[1]) <= iy <= max(p1[1], p2[1])
        and min(p3[1], p4[1]) <= iy <= max(p3[1], p4[1])
    )
    return isect if in_seg else None


def rect(lefttop, rightbottom):
    """2x2 rect matrix [[l,t],[r,b]]; raises ValueError unless l<r and t<b
    and dtypes match (this is how zero-area textboxes get dropped at scan —
    parity: geom.py:135-151, common.py:138-141)."""
    lefttop = np.asarray(lefttop)
    rightbottom = np.asarray(rightbottom)
    if lefttop.dtype != rightbottom.dtype:
        raise ValueError("dtypes of lefttop and rightbottom must match")
    if not (lefttop[0] < rightbottom[0] and lefttop[1] < rightbottom[1]):
        raise ValueError("points do not form a rectangle (need l<r and t<b)")
    return np.array((lefttop, rightbottom), dtype=lefttop.dtype)


def rectcenter(r):
    """Center point of rect. Parity: geom.py:159-164."""
    return pt((r[0][0] + r[1][0]) / 2, (r[0][1] + r[1][1]) / 2)


def rectcenter_dist(r1, r2):
    """Distance between rect centers. Parity: geom.py:167-169."""
    return ptdist(rectcenter(r1), rectcenter(r2))


def rectarea(r):
    """Area of rect. Parity: geom.py:172-174."""
    return (r[1][0] - r[0][0]) * (r[1][1] - r[0][1])


def rectintersect(a, b, norm_intersect_area=None):
    """Intersection area of rects ``a`` and ``b``; None when disjoint, 0 for
    a mere touch, optionally normalized by area(a) or area(b), clamped to
    min(area_a, area_b). Parity: geom.py:177-220 including the clamp and the
    "touch counts as 0 not None" semantics (all four deltas >= 0)."""
    if a.dtype != b.dtype:
        raise ValueError("dtypes of a and b must match")
    if norm_intersect_area not in (None, "a", "b"):
        raise ValueError("norm_intersect_area must be None, 'a' or 'b'")

    area_a, area_b = rectarea(a), rectarea(b)
    if area_a <= 0 or area_b <= 0:
        raise ValueError("rect areas must be > 0")

    dx1 = b[1][0] - a[0][0]
    dx2 = a[1][0] - b[0][0]
    dy1 = b[1][1] - a[0][1]
    dy2 = a[1][1] - b[0][1]
    if dx1 < 0 or dx2 < 0 or dy1 < 0 or dy2 < 0:
        return None

    raw = min(abs(dx1), abs(dx2)) * min(abs(dy1), abs(dy2))
    raw = min(min(area_a, area_b), raw)
    if norm_intersect_area == "a":
        return raw / area_a
    if norm_intersect_area == "b":
        return raw / area_b
    return raw / 1.0


def normalize_angle(theta):
    """Normalize angle into [0, 2*pi), with the reference's 0.99999
    rounding-error fudge. Parity: geom.py:223-240."""
    twopi = 2 * np.pi
    if theta >= twopi:
        m = math.floor(theta / twopi)
        if theta / twopi - m > 0.99999:
            m += 1
        return theta - m * twopi
    if theta < 0:
        m = math.ceil(theta / twopi)
        if theta / twopi - m < -0.99999:
            m -= 1
        return abs(theta - m * twopi)
    return theta


def normalize_angle_halfcircle(theta):
    """Fold into [0, pi). Parity: geom.py:243-245."""
    tn = normalize_angle(theta)
    return tn if tn < np.pi else tn - np.pi


def project_polarcoord_lines(lines, img_w, img_h):
    """Project (rho, theta) polar lines onto a img_w x img_h canvas,
    returning [(p1, p2)] endpoint pairs clipped to the canvas with the
    reference's nearest-border correction for out-of-canvas candidate
    points. Parity: geom.py:248-312."""
    if img_w <= 0:
        raise ValueError("img_w must be > 0")
    if img_h <= 0:
        raise ValueError("img_h must be > 0")

    out = []
    for rho, theta in ((l[0], l[1]) for l in lines):
        cos_t = np.cos(theta)
        sin_t = np.sin(theta)

        # a denormal sin/cos overflows the division to inf, which the
        # nearest-border correction below handles identically to the
        # exact-zero branch — the warning is noise, the value is right
        with np.errstate(over="ignore"):
            x_at_y0 = rho / cos_t if cos_t != 0 else float("inf")
            y_at_x0 = rho / sin_t if sin_t != 0 else float("inf")
            # note: the reference swaps img_w/img_h in these two formulas
            # (geom.py:268-269) — replicated for exact parity
            x_at_ymax = (rho - img_w * sin_t) / cos_t if cos_t != 0 \
                else float("inf")
            y_at_xmax = (rho - img_h * cos_t) / sin_t if sin_t != 0 \
                else float("inf")

        def _borderdist(v, border):
            return v if v <= 0 else v - border

        candidates = [
            ([x_at_y0, 0], (_borderdist(x_at_y0, img_w), 0)),
            ([0, y_at_x0], (_borderdist(y_at_x0, img_h), 1)),
            ([x_at_ymax, img_h], (_borderdist(x_at_ymax, img_w), 0)),
            ([img_w, y_at_xmax], (_borderdist(y_at_xmax, img_h), 1)),
        ]

        valid = []
        dismissed = []
        for p, dist in candidates:
            if 0 <= p[0] <= img_w and 0 <= p[1] <= img_h:
                valid.append(p)
            else:
                dismissed.append((p, dist))

        needed = 2 - len(valid)
        if needed > 0:
            dismissed.sort(key=lambda x: abs(x[1][0]), reverse=True)
            for _ in range(needed):
                p, (dist, coord_idx) = dismissed.pop()
                p[coord_idx] -= dist
                valid.append(p)

        out.append((pt(*valid[0]), pt(*valid[1])))

    return out


def hough_line_midpoints(rhos, thetas, img_w, img_h, coord_idx):
    """Vectorized midpoint coordinate (x for vertical lines, y for
    horizontal) of polar lines projected onto the canvas.
    Parity with imgproc.py:311-314 (mean of the two projected endpoint
    coords)."""
    pts = project_polarcoord_lines(list(zip(rhos, thetas)), img_w, img_h)
    return np.array([(p1[coord_idx] + p2[coord_idx]) / 2 for p1, p2 in pts])
