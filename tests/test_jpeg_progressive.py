"""Progressive (SOF2) JPEG decode tests.

Oracle: encode_jpeg_progressive quantizes EXACTLY like the baseline
encoder, so a progressive stream and a baseline stream of the same image
must decode pixel-identically at 4:4:4 — any entropy/scan-machinery bug
breaks the identity. The scan script exercises spectral selection, EOB
runs across blocks, ZRL-in-refinement, and successive approximation on
both DC and AC. 4:2:0 pins the subsampled MCU geometry (interleaved DC
with 4 luma blocks per MCU, non-interleaved AC over component rasters,
pad blocks DC-only) at the coefficient level."""

import numpy as np
import pytest

import jpeg_encoders as E
from pdftabextract_spark.kernels import jpeg as J
from pdftabextract_spark.kernels.jpeg import decode_jpeg
from jpeg_encoders import encode_jpeg, encode_jpeg_progressive


def _noisy(seed, h, w):
    return np.random.default_rng(seed).integers(0, 256, (h, w)).astype(np.uint8)


@pytest.mark.parametrize("seed,shape,q", [
    (0, (64, 80), 90),
    (1, (57, 43), 85),   # non-multiple-of-8 dims
    (2, (128, 96), 75),
    (3, (8, 8), 95),     # single block
])
def test_progressive_equals_baseline_gray(seed, shape, q):
    img = _noisy(seed, *shape)
    base = decode_jpeg(encode_jpeg(img, quality=q))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=q))
    assert np.array_equal(base, prog)


def test_progressive_equals_baseline_color_and_luma():
    g = _noisy(7, 41, 53)
    rgb = np.stack([g, np.roll(g, 5, 0), 255 - g], -1)
    base = decode_jpeg(encode_jpeg(rgb, quality=88))
    prog_buf = encode_jpeg_progressive(rgb, quality=88)
    assert np.array_equal(base, decode_jpeg(prog_buf))
    assert np.array_equal(decode_jpeg(encode_jpeg(rgb, 88), luma_only=True),
                          decode_jpeg(prog_buf, luma_only=True))


def test_progressive_sparse_page_content():
    # ruled-page-like content: long zero runs -> deep EOB runs + ZRL
    page = np.full((120, 200), 255, np.uint8)
    page[::37, :] = 0
    page[:, ::53] = 0
    base = decode_jpeg(encode_jpeg(page, quality=90))
    prog = decode_jpeg(encode_jpeg_progressive(page, quality=90))
    assert np.array_equal(base, prog)


def _decode_coefs(buf):
    """Run only the scan machinery; return per-component zigzag coef
    arrays (the test-side window into _decode_progressive)."""
    qtabs, frame, scans = J._parse_progressive(bytes(buf))
    H, W, comps = frame
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcus_x, mcus_y = -(-W // (8 * hmax)), -(-H // (8 * vmax))
    dims, coef = [], []
    for comp in comps:
        cw_b, ch_b = mcus_x * comp.h, mcus_y * comp.v
        comp_w = -(-W * comp.h // hmax)
        comp_h = -(-H * comp.v // vmax)
        dims.append((cw_b, ch_b, -(-comp_w // 8), -(-comp_h // 8)))
        coef.append([0] * (cw_b * ch_b * 64))
    for cis, dcs, acs, Ss, Se, Ah, Al, restart, intervals in scans:
        if Ss == 0:
            J._prog_dc_scan(coef, dims, comps, cis, dcs, Ah, Al,
                            mcus_x, mcus_y, mcus_x * mcus_y, restart, intervals)
        else:
            J._prog_ac_scan(coef[cis[0]], dims[cis[0]], acs[0],
                            Ss, Se, Ah, Al, restart, intervals)
    return [np.asarray(c).reshape(-1, 64) for c in coef], dims


def test_progressive_420_coefficients_exact():
    g = _noisy(11, 41, 53)
    rgb = np.stack([g, g // 2 + 40, 255 - g], -1).astype(np.uint8)
    buf = encode_jpeg_progressive(rgb, quality=88, subsample=True)
    got, dims = _decode_coefs(buf)

    H, W = 41, 53
    f = rgb.astype(np.float64)
    y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    cb = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
    cr = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
    qy = E._scale_qtab(J.QTAB_LUMA.ravel()[J.ZIGZAG], 88)
    qc = E._scale_qtab(J.QTAB_CHROMA.ravel()[J.ZIGZAG], 88)
    qyn = np.empty(64, np.int64); qyn[J.ZIGZAG] = qy
    qcn = np.empty(64, np.int64); qcn[J.ZIGZAG] = qc
    mcus_x, mcus_y = -(-W // 16), -(-H // 16)

    def prep(p, hi, vi, qn):
        if (hi, vi) != (2, 2):
            p = p[::2, ::2]
        cwb, chb = mcus_x * hi, mcus_y * vi
        p = np.pad(p, ((0, chb * 8 - p.shape[0]), (0, cwb * 8 - p.shape[1])),
                   mode="edge")
        return E._fdct_quant(p, qn.reshape(8, 8))

    exp = [prep(y, 2, 2, qyn), prep(cb, 1, 1, qcn), prep(cr, 1, 1, qcn)]
    for ci in range(3):
        cw_b, ch_b, nw, nh = dims[ci]
        e = exp[ci].copy().reshape(ch_b, cw_b, 64)
        # pad blocks beyond the component's nw x nh grid are not covered
        # by non-interleaved AC scans (spec); only their DC is coded
        e[:, nw:, 1:] = 0
        e[nh:, :, 1:] = 0
        assert np.array_equal(got[ci], e.reshape(-1, 64)), f"comp {ci}"
    # the full pixel decode of the same stream must also run clean
    px = decode_jpeg(buf)
    assert px.shape == (41, 53, 3)


def test_masqueraded_baseline_scan_rejected():
    # flipping SOF0 -> SOF2 leaves a baseline scan header (Ss=0, Se=63),
    # which is malformed progressive — rejected, not misdecoded
    buf = bytearray(encode_jpeg(_noisy(3, 32, 32)))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(buf))
