"""Image-analysis kernels: edge detection + Hough line transform + page
rotation/skew estimation, pure numpy (OpenCV is not available in this
environment; these are native implementations of the public algorithms the
reference delegates to cv2 — Canny edges + standard Hough accumulator —
with deterministic output).

Reference behavior being reproduced: ImageProc.detect_lines and the
rotation/skew analytics (/root/reference/pdftabextract/imgproc.py:54-73,
189-275, 453-471). The Hough (rho, theta) parameterization matches
OpenCV's: rho = x*cos(theta) + y*sin(theta), theta in [0, pi), rho may be
negative; lines returned sorted by descending votes (ties: ascending rho,
theta) so output order is deterministic across runs.
"""

import math

import numpy as np

from .geom import normalize_angle, hough_line_midpoints

PIHLF = np.pi / 2
PI4TH = np.pi / 4

DIRECTION_HORIZONTAL = "h"
DIRECTION_VERTICAL = "v"
ROTATION = "r"
SKEW_X = "sx"
SKEW_Y = "sy"


def grayscale(img):
    """RGB(A)/gray uint8 array -> gray float32. BT.601 luma like
    cv2.COLOR_BGR2GRAY (channel order here is RGB).

    float32 on purpose: the luma weights are exact in both precisions for
    uint8 inputs at the tolerance any consumer uses, and the f64
    temporaries cost ~3x the memory traffic (measured 400x slower on a
    bandwidth-starved host for a 8.7MP scan; identical edge/line output)."""
    a = np.asarray(img)
    if a.ndim == 2:
        return a.astype(np.float32)
    return (np.float32(0.299) * a[..., 0].astype(np.float32)
            + np.float32(0.587) * a[..., 1].astype(np.float32)
            + np.float32(0.114) * a[..., 2].astype(np.float32))


def edges_simple(gray, low_thresh=50, high_thresh=150):
    """Gradient-magnitude edge map (binary). A deterministic stand-in for
    cv2.Canny sufficient for ruled-line documents: Sobel gradient
    magnitude thresholded at high_thresh (no hysteresis/NMS — ruled lines
    are high-contrast so the simplification keeps the same line support).
    """
    g = np.asarray(gray, dtype=float)
    gx = np.zeros_like(g)
    gy = np.zeros_like(g)
    gx[:, 1:-1] = g[:, 2:] - g[:, :-2]
    gy[1:-1, :] = g[2:, :] - g[:-2, :]
    mag = np.hypot(gx, gy)
    return mag >= high_thresh


def hough_lines(edges, rho_res=1.0, theta_res=np.pi / 500, votes_thresh=100):
    """Standard Hough transform over a boolean edge map.

    Returns an (L, 2) float array of (rho, theta) rows, sorted by
    descending votes then (rho, theta); same parameterization as
    cv2.HoughLines so downstream parity code (imgproc.py:453-471) applies
    unchanged.
    """
    ys, xs = np.nonzero(edges)
    if len(xs) == 0:
        return np.empty((0, 2), dtype=float)

    h, w = edges.shape
    thetas = np.arange(0, np.pi, theta_res)
    n_theta = len(thetas)
    diag = math.hypot(w, h)
    n_rho = int(math.ceil(diag / rho_res)) * 2 + 1
    rho_offset = (n_rho - 1) // 2

    # float32 on purpose: it is what cv2's hough.cpp accumulates in, and
    # it halves the memory traffic of the rho computation.
    xf = xs.astype(np.float32)
    yf = ys.astype(np.float32)
    inv_rho = np.float32(1.0 / rho_res)
    # accumulate per THETA ROW of a theta-major accumulator — one n_edges
    # rho computation and one n_rho-sized bincount per angle, stored as a
    # contiguous row (the old rho-major acc[:, j] += ... wrote one cache
    # line per element; row stores touch 8x fewer lines — 1.4-1.9x
    # measured). All arithmetic is in preallocated buffers; the final
    # cast is an exact C-truncation because values are integral after
    # rint + offset. The (pixels x thetas) matrix formulation stays
    # rejected: it moves an accumulator-sized bincount through memory per
    # pixel chunk — measured 20x slower on this bandwidth-bound host for
    # big scans (2026-08-17).
    cos_t = np.cos(thetas).astype(np.float32)
    sin_t = np.sin(thetas).astype(np.float32)
    # NOTE (round 5): a theta-chunked (edges x 64) matrix variant with one
    # flat bincount per block was tried and measured 3x SLOWER here — the
    # per-theta loop's preallocated n_edges buffers (~50KB) live in L2,
    # while the chunked temps stream multi-MB through this host's slow
    # memory. Keep the cache-resident per-angle loop.
    v = np.empty_like(xf)
    tmp = np.empty_like(xf)
    idx = np.empty(len(xf), dtype=np.intp)
    off = np.float32(rho_offset)  # exact to 2^24 — far above any rho index
    scaled = inv_rho != np.float32(1.0)

    def vote_row(j):
        # one theta row of the accumulator; all arithmetic in the
        # preallocated buffers, final cast exact (values integral after
        # rint + integral offset)
        np.multiply(xf, cos_t[j], out=v)
        np.multiply(yf, sin_t[j], out=tmp)
        np.add(v, tmp, out=v)
        if scaled:
            np.multiply(v, inv_rho, out=v)
        np.rint(v, out=v)
        np.add(v, off, out=v)
        idx[:] = v
        return np.bincount(idx, minlength=n_rho)

    # OpenCV returns only LOCAL PEAKS of the accumulator (hough.cpp
    # findLocalMaximums): strictly greater than the previous rho/theta
    # neighbor AND >= the next one (neighbor comparisons match cv2;
    # the vote cut here is INCLUSIVE — acc >= votes_thresh — where cv2
    # uses strict >, a deliberate off-by-one kept because the goldens
    # were validated against it). Without the peak filter, every
    # above-threshold cell around a true line (and every dense text
    # region) floods the output with near-duplicate lines.
    #
    # The peak test only ever looks at a 3-row theta neighborhood, so the
    # accumulator is never materialized (round 5): a rolling prev/cur/nxt
    # window replaces the (n_theta x n_rho) int32 matrix + 6 matrix-sized
    # comparison passes (~35MB of DRAM traffic per page on a 2400-rho
    # scan) with three L2-resident rows. Out-of-range theta neighbors
    # count as 0, exactly like the old boundary rows: row 0's strict
    # "> prev" against a zero row IS the old "acc[0,:] > 0", and the last
    # row's ">= nxt" against zeros is vacuous. Bit-equality with the
    # dense formulation is pinned by a differential test.
    thresh_m1 = votes_thresh - 1
    zero_row = np.zeros(n_rho, dtype=np.intp)
    hits_t, hits_r, hits_v = [], [], []
    prev = zero_row
    cur = vote_row(0)
    for j in range(n_theta):
        nxt = vote_row(j + 1) if j + 1 < n_theta else zero_row
        cond = cur > thresh_m1
        if cond.any():
            cond[1:] &= cur[1:] > cur[:-1]     # rho - 1 (strict)
            cond[0] &= cur[0] > 0
            cond[:-1] &= cur[:-1] >= cur[1:]   # rho + 1 (>=)
            cond &= cur > prev                 # theta - 1 (strict)
            cond &= cur >= nxt                 # theta + 1 (>=)
            rr = np.flatnonzero(cond)
            if rr.size:
                hits_t.append(np.full(rr.size, j, dtype=np.intp))
                hits_r.append(rr)
                hits_v.append(cur[rr])
        prev = cur
        cur = nxt

    if not hits_t:
        return np.empty((0, 2), dtype=float)
    hit_t = np.concatenate(hits_t)
    hit_r = np.concatenate(hits_r)
    votes = np.concatenate(hits_v)
    rhos = (hit_r - rho_offset) * rho_res
    ths = thetas[hit_t]
    order = np.lexsort((ths, rhos, -votes))
    return np.stack([rhos[order], ths[order]], axis=1)


def classify_hough_lines(lines):
    """Enrich (rho, theta) rows with theta_norm and direction.

    Vertical iff |pi/2 - theta_norm| > pi/4, else horizontal.
    Parity: imgproc.py:453-471. Returns list of tuples
    (rho, theta, theta_norm, direction)."""
    out = []
    for rho, theta in ((l[0], l[1]) for l in lines):
        tn = normalize_angle(theta)
        direction = DIRECTION_VERTICAL if abs(PIHLF - tn) > PI4TH else DIRECTION_HORIZONTAL
        out.append((float(rho), float(theta), float(tn), direction))
    return out


def line_deviations(theta_norm, direction):
    """Per-line angle deviation used for rotation/skew estimation.

    Vertical lines: dev = -theta_norm, +pi if < -pi/2, then negated.
    Horizontal: dev = -(pi/2 - theta_norm).
    Parity: imgproc.py:214-228."""
    theta_norm = np.asarray(theta_norm, dtype=float)
    is_v = np.asarray(direction) == DIRECTION_VERTICAL
    dev_v = -theta_norm
    dev_v = np.where(dev_v < -PIHLF, dev_v + np.pi, dev_v)
    dev_v = -dev_v
    dev_h = -(PIHLF - theta_norm)
    return np.where(is_v, dev_v, dev_h)


def find_rotation_or_skew(lines_hough, rot_thresh, rot_same_dir_thresh,
                          omit_on_rot_thresh=None, only_direction=None):
    """Decide page ROTATION / SKEW_X / SKEW_Y from classified Hough lines.

    Returns ((type|None, radians|None), filtered_lines) where
    filtered_lines reflects the optional stray-line filter side effect
    (lines whose |dev| is farther than omit_on_rot_thresh from their
    direction's |median dev| get dropped). Parity: imgproc.py:189-275.
    """
    if not lines_hough:
        raise ValueError("no lines present")
    if only_direction is not None and only_direction not in (DIRECTION_HORIZONTAL, DIRECTION_VERTICAL):
        raise ValueError("invalid only_direction %r" % only_direction)

    hori_dev, vert_dev = [], []
    lines_w_dev = [] if omit_on_rot_thresh is not None else None

    for rho, theta, theta_norm, line_dir in lines_hough:
        if line_dir == DIRECTION_VERTICAL and only_direction in (None, DIRECTION_VERTICAL):
            d = -theta_norm
            if d < -PIHLF:
                d += np.pi
            vert_dev.append(-d)
            dev = d
        elif line_dir == DIRECTION_HORIZONTAL and only_direction in (None, DIRECTION_HORIZONTAL):
            dev = PIHLF - theta_norm
            hori_dev.append(-dev)
        else:
            dev = None
        if omit_on_rot_thresh is not None and dev is not None:
            lines_w_dev.append((rho, theta, theta_norm, line_dir, -dev))

    median_h = np.median(hori_dev) if hori_dev else None
    median_v = np.median(vert_dev) if vert_dev else None
    h_above = median_h is not None and abs(median_h) > rot_thresh
    v_above = median_v is not None and abs(median_v) > rot_thresh

    filtered = lines_hough
    if omit_on_rot_thresh is not None:
        filtered = []
        for rho, theta, theta_norm, line_dir, dev in lines_w_dev:
            dir_dev = median_h if line_dir == DIRECTION_HORIZONTAL else median_v
            if dir_dev is None or abs(abs(dir_dev) - abs(dev)) < omit_on_rot_thresh:
                filtered.append((rho, theta, theta_norm, line_dir))

    if h_above and v_above:
        if abs(median_h - median_v) < rot_same_dir_thresh:
            return (ROTATION, (median_h + median_v) / 2), filtered
        return (None, None), filtered
    if h_above:
        return (SKEW_Y, median_h), filtered
    if v_above:
        return (SKEW_X, median_v), filtered
    return (None, None), filtered


def line_positions_in_direction(lines_hough, direction, img_w, img_h):
    """1-D midpoint positions of lines of one direction (x for vertical,
    y for horizontal), via canvas projection. Parity: imgproc.py:306-314."""
    sel = [l for l in lines_hough if l[3] == direction]
    if not sel:
        return np.array([]), sel
    coord_idx = 0 if direction == DIRECTION_VERTICAL else 1
    rhos = [l[0] for l in sel]
    thetas = [l[1] for l in sel]
    return hough_line_midpoints(rhos, thetas, img_w, img_h, coord_idx), sel


def remove_empty_cluster_sections(clusters_w_vals, box_lo, box_hi,
                                  n_texts_ratio, scaling, center_fn=np.median):
    """Drop line clusters whose preceding band contains too few textboxes.

    ``box_lo``/``box_hi`` are the relevant box border arrays (left/right
    for vertical clusters, top/bottom for horizontal). A box counts for a
    band (prev_center, center] when either border falls inside. Threshold =
    round(median(band counts) * ratio); the cluster immediately before the
    first kept cluster is re-included. Parity: imgproc.py:330-360.
    """
    wc = [(ind, vals, center_fn(vals) / scaling) for ind, vals in clusters_w_vals]
    wc.sort(key=lambda x: x[2])
    counts = []
    prev_center = -1
    box_lo = np.asarray(box_lo, dtype=float)
    box_hi = np.asarray(box_hi, dtype=float)
    for ind, vals, center in wc:
        in_band = ((box_lo > prev_center) & (box_lo <= center)) | \
                  ((box_hi > prev_center) & (box_hi <= center))
        counts.append((ind, vals, int(np.sum(in_band))))
        prev_center = center

    max_n = np.median([c[2] for c in counts]) if counts else 0
    thresh = round(max_n * n_texts_ratio)
    kept = []
    prev_clust = None
    for ind, vals, n in counts:
        if n >= thresh:
            if not kept and prev_clust is not None:
                kept.append(prev_clust)
            kept.append((ind, vals))
        prev_clust = (ind, vals)
    return kept


def canny_edges(gray, low_thresh=50, high_thresh=150):
    """Canny edge detector, pure numpy (the algorithm cv2.Canny implements
    with aperture 3 and L1 gradient: Sobel -> gradient-magnitude
    non-maximum suppression -> double-threshold hysteresis). Needed for
    real scanned pages, where the thresholded-gradient shortcut
    (edges_simple) leaves glyph strokes as thick edge blobs that flood the
    Hough accumulator with spurious lines.

    Returns a boolean edge map. Reference chain parity:
    ImageProc.detect_lines (imgproc.py:54-73) delegates to
    cv2.Canny(low, high, apertureSize=3)."""
    if low_thresh > high_thresh:  # cv2 uses min for linking, max for seeds
        low_thresh, high_thresh = high_thresh, low_thresh
    g = np.asarray(gray)
    H, W = g.shape
    # manual reflect pad: np.pad's generic path costs a dispatch + an
    # extra full copy this bandwidth-starved host can't afford (its
    # _pad_simple alone profiled at ~40ms/frame); interior assignment
    # also folds the uint8 -> float32 conversion into the same pass
    gp = np.empty((H + 2, W + 2), dtype=np.float32)
    gp[1:-1, 1:-1] = g
    gp[0, 1:-1] = g[1]
    gp[-1, 1:-1] = g[-2]
    gp[:, 0] = gp[:, 2]
    gp[:, -1] = gp[:, -3]

    # SEPARABLE Sobel, bit-identical groupings to the direct form
    # (((A + 2B) + C) - ((D + 2E) + F)) but ~2x less memory traffic:
    # one shared 2*gp pass, one column/row pre-sum each, one difference.
    g2 = gp * np.float32(2.0)
    colsum = np.add(gp[:-2], g2[1:-1], out=np.empty((H, W + 2), np.float32))
    colsum += gp[2:]
    gx = colsum[:, 2:] - colsum[:, :-2]
    rowsum = np.add(gp[:, :-2], g2[:, 1:-1],
                    out=np.empty((H + 2, W), np.float32))
    rowsum += gp[:, 2:]
    gy = rowsum[2:] - rowsum[:-2]
    # L1 magnitude (cv2 default L2gradient=False); |gx|/|gy| are only
    # needed full-frame here — the per-candidate values are gathered
    # sparsely below instead of keeping two more full frames
    mag = np.abs(gx)
    mag += np.abs(gy)
    # SPARSE non-maximum suppression: only pixels above low_thresh can
    # ever become strong or weak edges, so sector classification and the
    # neighbor comparisons run on the candidate set alone (gathers over
    # flat indices). On clean page renders that is a few percent of the
    # frame — full-frame boolean algebra was the canny hot spot. Results
    # are identical: candidates below low_thresh were discarded by the
    # double threshold anyway, and neighbor values are gathered from the
    # full zero-padded magnitude exactly as the dense slices did.
    flat_c = np.flatnonzero((mag > low_thresh).ravel())
    if len(flat_c) == 0:
        return np.zeros((H, W), dtype=bool)

    # zero-padded magnitude for the neighbor gathers, assigned directly
    # (np.pad would copy the frame a second time); only the 1px border
    # ring is ever read outside the interior, so zero just the ring
    # instead of memsetting the whole frame
    Wp2 = W + 2
    mp = np.empty((H + 2, Wp2), dtype=mag.dtype)
    mp[1:-1, 1:-1] = mag
    mp[0, :] = 0
    mp[-1, :] = 0
    mp[:, 0] = 0
    mp[:, -1] = 0
    mpf = mp.ravel()
    iy, ix = np.divmod(flat_c, W)
    base = (iy + 1) * Wp2 + (ix + 1)
    c = mpf[base]
    left, right = mpf[base - 1], mpf[base + 1]
    up, down = mpf[base - Wp2], mpf[base + Wp2]
    ul, lr = mpf[base - Wp2 - 1], mpf[base + Wp2 + 1]
    ur, ll = mpf[base - Wp2 + 1], mpf[base + Wp2 - 1]

    gxc = gx.ravel()[flat_c]
    gyc = gy.ravel()[flat_c]
    # sparse |.| on the candidate set — identical to gathering from
    # full-frame abs arrays, minus two frame-sized passes
    axc = np.abs(gxc)
    ayc = np.abs(gyc)
    tan22 = 0.4142135623730951   # tan(22.5 deg)
    tan67 = 2.414213562373095    # tan(67.5 deg)
    horiz = ayc <= tan22 * axc                   # gradient ~ horizontal
    vert = ayc >= tan67 * axc                    # gradient ~ vertical
    diag = ~horiz & ~vert
    diag_main = diag & ((gxc * gyc) > 0)         # 45 deg gradient
    diag_anti = diag & ~diag_main                # 135 deg
    # cv2's tie-break: strictly greater than one neighbor, >= the other —
    # a plateau keeps exactly one pixel (both->= would keep 2px-wide edges
    # on symmetric gradients and flood the Hough accumulator on noisy
    # scans)
    keep = ((horiz & (c > left) & (c >= right))
            | (vert & (c > up) & (c >= down))
            | (diag_main & (c > ul) & (c >= lr))
            | (diag_anti & (c > ur) & (c >= ll)))

    # hysteresis: BFS from strong pixels through 8-connected weak pixels.
    # Strong/weak sets are built directly in PADDED flat coordinates
    # (``base`` already is one) so flat-index neighbor offsets can't wrap
    # across row boundaries and no np.pad frame copies are needed.
    kept_base = base[keep]
    kept_mag = c[keep]
    strong_idx = kept_base[kept_mag > high_thresh]
    if strong_idx.size == 0:
        return np.zeros((H, W), dtype=bool)
    visited = np.zeros((H + 2) * Wp2, dtype=bool)
    visited[strong_idx] = True
    weak_flat = np.zeros_like(visited)
    weak_flat[kept_base[kept_mag <= high_thresh]] = True  # cands are > low
    offsets = np.array([-Wp2 - 1, -Wp2, -Wp2 + 1, -1, 1,
                        Wp2 - 1, Wp2, Wp2 + 1])
    frontier = strong_idx
    while frontier.size:
        neigh = (frontier[:, None] + offsets).ravel()
        # filter BEFORE unique: the weak candidate set is a sliver of the
        # 8x frontier fan-out, so the sort inside unique runs on a tiny
        # array (the full-fan-out unique was the hysteresis hot spot)
        cand = neigh[weak_flat[neigh] & ~visited[neigh]]
        cand = np.unique(cand)
        visited[cand] = True
        frontier = cand
    return visited.reshape(H + 2, Wp2)[1:-1, 1:-1]
