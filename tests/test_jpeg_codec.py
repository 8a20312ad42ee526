"""Pure-numpy baseline JPEG codec tests.

Correctness strategy: (a) encoder->decoder roundtrip must land within
normal lossy-quantization error on synthetic images; (b) the decoder is
cross-validated against libjpeg ground truth using the reference's
committed cv2-written PNG overlay of the SAME scan
(generated_output/*-lines-orig.png is libjpeg's decode of data/*.jpg with
colored lines drawn on top — every non-colored pixel is libjpeg output).
"""

import os

import numpy as np
import pytest

from jpeg_encoders import encode_jpeg
from pdftabextract_spark.kernels.jpeg import decode_jpeg
from pdftabextract_spark.kernels.png import decode_png
from pdftabextract_spark.kernels.raster import decode_raster

REF1 = "/root/reference/examples/schoollist_1"
REF2 = "/root/reference/examples/schoollist_2"


def _noisy_gradient(rng, h, w):
    x = np.linspace(0, 4 * np.pi, w)
    y = np.linspace(0, 3 * np.pi, h)
    img = 127 + 80 * np.sin(x)[None, :] * np.cos(y * 0.7)[:, None]
    return (img + rng.normal(0, 3, (h, w))).clip(0, 255).astype(np.uint8)


def test_gray_roundtrip():
    rng = np.random.default_rng(0)
    img = _noisy_gradient(rng, 257, 253)  # non-multiple-of-8 dims
    dec = decode_jpeg(encode_jpeg(img, quality=92))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 3.0 and err.max() < 40


def test_rgb_roundtrip_and_luma_only():
    rng = np.random.default_rng(1)
    g = _noisy_gradient(rng, 120, 144)
    rgb = np.stack([g, np.roll(g, 13, 0), 255 - g], -1)
    buf = encode_jpeg(rgb, quality=92)
    dec = decode_jpeg(buf)
    assert dec.shape == rgb.shape
    assert np.abs(dec.astype(int) - rgb.astype(int)).mean() < 4.0
    # luma_only == BT.601 gray of the full decode (within rounding)
    y = decode_jpeg(buf, luma_only=True)
    gray = 0.299 * dec[..., 0] + 0.587 * dec[..., 1] + 0.114 * dec[..., 2]
    assert np.abs(y.astype(float) - gray).max() <= 1.5


def test_sharp_page_like_content():
    rng = np.random.default_rng(2)
    page = np.full((400, 600), 255, np.uint8)
    page[::37, :] = 0
    page[:, ::53] = 0
    spots = rng.random((400, 600)) < 0.02
    page[spots] = 0
    dec = decode_jpeg(encode_jpeg(page, quality=90))
    assert np.abs(dec.astype(int) - page.astype(int)).mean() < 2.0


def test_unsupported_sof_rejected():
    # progressive (SOF2) is supported now (tests/test_jpeg_progressive.py);
    # lossless sequential (SOF3) is not and must raise loudly
    rng = np.random.default_rng(3)
    buf = bytearray(encode_jpeg(_noisy_gradient(rng, 32, 32)))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC3  # flip SOF0 -> SOF3 (lossless)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(buf))


def test_raster_dispatch():
    rng = np.random.default_rng(4)
    img = _noisy_gradient(rng, 40, 40)
    assert decode_raster(encode_jpeg(img)).shape == (40, 40)
    with pytest.raises(NotImplementedError):
        decode_raster(b"GIF89a" + b"\x00" * 32)


@pytest.mark.slow
@pytest.mark.skipif(not os.path.exists(REF1), reason="reference absent")
def test_decode_matches_libjpeg_grayscale_scan():
    """schoollist_1 scans: 1-component baseline with restart intervals.
    The committed overlay PNG holds libjpeg's decode wherever no colored
    line was drawn (~94% of pixels)."""
    jpg = decode_jpeg(open(os.path.join(
        REF1, "data/schoollist_1.pdf-1_1.jpg"), "rb").read(), luma_only=True)
    png = decode_png(open(os.path.join(
        REF1, "generated_output/schoollist_1.pdf-1_1-bothpages-lines-orig.png"),
        "rb").read())
    assert jpg.shape == png.shape[:2]
    is_gray = (png[..., 0] == png[..., 1]) & (png[..., 1] == png[..., 2])
    assert is_gray.mean() > 0.9
    d = np.abs(jpg.astype(int) - png[..., 0].astype(int))[is_gray]
    assert d.max() <= 1 and d.mean() < 0.01


@pytest.mark.slow
@pytest.mark.skipif(not os.path.exists(REF2), reason="reference absent")
def test_decode_matches_libjpeg_color_scan():
    """schoollist_2 scans: YCbCr 4:2:0 baseline. Compare luma decode to
    the BT.601 gray of libjpeg's RGB (chroma upsampling differences
    cancel in the luma recombination; tolerance ±2)."""
    jpg = decode_jpeg(open(os.path.join(
        REF2, "data/schoollist_2.pdf-1_1.jpg"), "rb").read(), luma_only=True)
    png = decode_png(open(os.path.join(
        REF2, "generated_output/schoollist_2.pdf.split_1-lines-orig.png"),
        "rb").read())
    # the split overlay is only half the double page; compare the shared
    # top-left region not covered by drawn lines
    h = min(jpg.shape[0], png.shape[0])
    w = min(jpg.shape[1], png.shape[1])
    a, b = jpg[:h, :w], png[:h, :w]
    is_gray = (b[..., 0] == b[..., 1]) & (b[..., 1] == b[..., 2])
    gray = (0.299 * b[..., 0].astype(float) + 0.587 * b[..., 1].astype(float)
            + 0.114 * b[..., 2].astype(float))
    d = np.abs(a.astype(float) - gray)[is_gray]
    assert (d <= 2.0).mean() > 0.99


def test_cmyk_and_ycck_decode():
    """4-component Adobe decode: YCCK must match the plain RGB 4:4:4
    decode within 1 LSB (identical coefficients modulo the K=255 plane);
    raw CMYK (transform 0) is a lossy roundtrip of the original."""
    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (48, 56)).astype(np.uint8)
    rgb = np.stack([g, np.roll(g, 3, 1), 255 - g], -1)
    from jpeg_encoders import encode_jpeg_cmyk
    ref = decode_jpeg(encode_jpeg(rgb, quality=90))
    ycck = decode_jpeg(encode_jpeg_cmyk(rgb, quality=90, ycck=True))
    assert ycck.shape == (48, 56, 3)
    assert np.abs(ycck.astype(int) - ref.astype(int)).max() <= 1
    cmyk = decode_jpeg(encode_jpeg_cmyk(rgb, quality=90, ycck=False))
    err = np.abs(cmyk.astype(int) - rgb.astype(int))
    assert err.mean() < 4.0
    # luma_only works on 4-component streams too
    lum = decode_jpeg(encode_jpeg_cmyk(rgb, quality=90, ycck=True),
                      luma_only=True)
    assert lum.shape == (48, 56)


def _rewrite_app14(buf: bytes, new_payload) -> bytes:
    """Remove (new_payload=None) or replace the APP14 segment payload."""
    out = bytearray()
    i = 0
    assert buf[:2] == b"\xff\xd8"
    out += buf[:2]
    i = 2
    while i < len(buf):
        assert buf[i] == 0xFF
        marker = buf[i + 1]
        if marker == 0xDA:  # SOS: copy the rest verbatim
            out += buf[i:]
            break
        ln = int.from_bytes(buf[i + 2:i + 4], "big")
        if marker == 0xEE:
            if new_payload is not None:
                out += b"\xff\xee"
                out += (2 + len(new_payload)).to_bytes(2, "big")
                out += new_payload
            # None -> drop the segment entirely
        else:
            out += buf[i:i + 2 + ln]
        i += 2 + ln
    return bytes(out)


def test_cmyk_no_adobe_marker_straight_convention():
    """4-component stream WITHOUT an APP14 marker decodes under the
    straight (non-inverted) CMYK convention: the encoder's stored K=255
    plane then means full black ink, so the decode is near-black —
    NOT the Adobe-inverted read (which would reproduce the RGB)."""
    rng = np.random.default_rng(11)
    g = rng.integers(64, 192, (32, 40)).astype(np.uint8)
    rgb = np.stack([g, 255 - g, np.roll(g, 5, 1)], -1)
    from jpeg_encoders import encode_jpeg_cmyk
    buf = encode_jpeg_cmyk(rgb, quality=90, ycck=False)
    stripped = _rewrite_app14(buf, None)
    dec = decode_jpeg(stripped)
    assert dec.shape == rgb.shape
    # straight K=255 -> (255-C)*(255-K)/255 == 0 (+-DCT quantization)
    assert dec.astype(float).mean() < 3.0
    # sanity: with the marker intact the same bytes reproduce the RGB
    adobe = decode_jpeg(buf)
    assert np.abs(adobe.astype(int) - rgb.astype(int)).mean() < 4.0


def test_truncated_app14_treated_as_no_marker():
    """An Adobe APP14 segment too short to carry the transform byte is
    ignored (no IndexError) — the stream decodes as unmarked CMYK."""
    rng = np.random.default_rng(12)
    g = rng.integers(64, 192, (24, 24)).astype(np.uint8)
    rgb = np.stack([g, g, g], -1)
    from jpeg_encoders import encode_jpeg_cmyk
    buf = encode_jpeg_cmyk(rgb, quality=90, ycck=False)
    short = _rewrite_app14(buf, b"Adobe\x00\x64")  # 7-byte payload < 12
    dec = decode_jpeg(short)
    stripped = decode_jpeg(_rewrite_app14(buf, None))
    assert np.array_equal(dec, stripped)
