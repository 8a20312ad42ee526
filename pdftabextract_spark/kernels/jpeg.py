"""Minimal pure-numpy baseline JPEG codec (stdlib + numpy only).

The runtime has no OpenCV/Pillow/libjpeg, but the reference's schoollist
examples run Hough-line detection on JPEG page scans
(/root/reference/examples/schoollist_{1,2}/data/*.jpg — baseline SOF0,
restart intervals, grayscale and YCbCr 4:2:0). This module decodes those:

- baseline sequential DCT (SOF0), 8-bit precision
- progressive DCT (SOF2): spectral selection + successive approximation
  on DC and AC, EOB runs, interleaved and non-interleaved scans
- 1 component (grayscale), 3 components (JFIF YCbCr), or 4 components
  (Adobe CMYK / YCCK via the APP14 transform flag, baseline only);
  sampling factors 1x1 / 2x1 / 1x2 / 2x2 (4:4:4, 4:2:2, 4:4:0, 4:2:0)
- restart intervals (DRI / RSTn)
- huffman decode via a fused 16-bit peek lookup table (one table probe
  resolves symbol + EXTENDed value for most coefficients), coefficients
  collected sparsely and IDCT'd as one (n*64)x(64x64) GEMM

Not supported (raise NotImplementedError): arithmetic coding, 12-bit
precision, progressive CMYK, hierarchical (SOF3+).

Parity note: libjpeg (what cv2.imread wraps) uses a fixed-point IDCT and
"fancy" chroma upsampling; this decoder uses the exact float IDCT and
pixel-replication upsampling, so outputs may differ by ~±1 LSB. The
consumers here (Canny+Hough with relative vote thresholds) are tolerant
to that by construction, and for the gray path the chroma choice is
irrelevant: BT.601 luma of the reconstructed RGB is algebraically the Y
channel again.

The encoders that build the decoder's test streams live in
tests/jpeg_encoders.py.
"""

import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# ITU-T T.81 Annex K quantization tables
QTAB_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.int64).reshape(8, 8)
QTAB_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.int64).reshape(8, 8)

# Annex K huffman specs: (bits per code length 1..16, values)
HUFF_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
HUFF_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# exact 8x8 DCT-II basis; IDCT(block) = B.T @ coef @ B with B[k, x] =
# c(k) cos((2x+1) k pi / 16) / 2
_k = np.arange(8).reshape(8, 1)
_x = np.arange(8).reshape(1, 8)
_DCT_B = np.cos((2 * _x + 1) * _k * np.pi / 16) / 2.0
_DCT_B[0, :] /= np.sqrt(2.0)
# flattened 64x64 IDCT operator: _IDCT_M[k*8+y, x*8+u] = B[k,x] * B[y,u],
# so the per-component IDCT is ONE dense GEMM over all blocks at once
_IDCT_M = np.kron(_DCT_B, _DCT_B)


# ----------------------------------------------------- huffman machinery

def _build_decode_lut(bits, values):
    """(bits[16], values) -> (lut, maxlen). lut is a 2^16 int32 array:
    lut[peek16] = (symbol << 5) | code_length; 0 = invalid."""
    lut = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[vi]; vi += 1
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            lut[lo:hi] = (sym << 5) | length
            code += 1
        code <<= 1
    return lut


# fused decode LUT: one 16-bit peek resolves the huffman symbol AND, when
# code_len + magnitude_bits <= 16, the EXTENDed coefficient value itself —
# one table probe per coefficient instead of probe + refill + extract.
# Entry layout (int): bits 0-4 total bits consumed, 5-6 kind
# (1=full: value included; 2=partial: magnitude still to read; 3=control:
# EOB / ZRL), 7-11 zero-run, 12+ payload (full: value + 32768;
# partial: magnitude bit count). 0 = invalid code.
_FUSED_CACHE = {}


def _build_fused_lut(bits, values, is_dc):
    key = (tuple(bits), tuple(values), is_dc)
    cached = _FUSED_CACHE.get(key)
    if cached is not None:
        return cached
    lut = np.zeros(1 << 16, dtype=np.int64)
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[vi]; vi += 1
            lo = code << (16 - length)
            span = 1 << (16 - length)
            run, s = (0, sym) if is_dc else (sym >> 4, sym & 15)
            if not is_dc and sym == 0x00:    # EOB
                lut[lo:lo + span] = (3 << 5) | length
            elif not is_dc and sym == 0xF0:  # ZRL
                lut[lo:lo + span] = (16 << 7) | (3 << 5) | length
            elif s == 0:                     # DC diff 0 (value known: 0)
                lut[lo:lo + span] = (32768 << 12) | (run << 7) | (1 << 5) | length
            elif length + s <= 16:           # magnitude fits the peek
                idxs = np.arange(lo, lo + span, dtype=np.int64)
                v = (idxs >> (16 - length - s)) & ((1 << s) - 1)
                v = np.where(v < (1 << (s - 1)), v - (1 << s) + 1, v)
                lut[lo:lo + span] = ((v + 32768) << 12) | (run << 7) | \
                    (1 << 5) | (length + s)
            else:                            # rare long code: two-step
                lut[lo:lo + span] = (s << 12) | (run << 7) | (2 << 5) | length
            code += 1
        code <<= 1
    out = lut.tolist()
    _FUSED_CACHE[key] = out
    return out


# The MSB-first bit reader (peek16/skip/read over de-stuffed entropy
# bytes, 1-padding past the end per spec) lives inlined in decode_jpeg's
# entropy loop as buf/cnt/pos locals — attribute access per symbol was
# the decode hot spot.

# ---------------------------------------------------------------- decode

class _Component:
    __slots__ = ("cid", "h", "v", "tq", "dc_tab", "ac_tab")


def _parse_segments(data):
    """Walk markers up to SOS. Returns (qtabs, huff_dc, huff_ac, frame,
    scan_comps, restart_interval, scan_start, adobe_transform).
    adobe_transform: APP14 color-transform flag (None if no Adobe
    marker; 0 = untransformed CMYK/RGB, 1 = YCbCr, 2 = YCCK)."""
    qtabs = {}
    huff_dc, huff_ac = {}, {}
    frame = None
    restart = 0
    adobe = None
    i = 0
    if data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("marker desync at offset %d" % i)
        marker = data[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        ln = struct.unpack(">H", data[i + 2:i + 4])[0]
        seg = data[i + 4:i + 2 + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    tab = np.frombuffer(seg[p:p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                else:
                    tab = np.frombuffer(seg[p:p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                qtabs[tq] = tab  # zigzag order
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                values = list(seg[p + 17:p + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = (bits, values)
                p += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], \
                struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for c in range(nc):
                comp = _Component()
                comp.cid = seg[6 + 3 * c]
                comp.h = seg[7 + 3 * c] >> 4
                comp.v = seg[7 + 3 * c] & 0x0F
                comp.tq = seg[8 + 3 * c]
                comps.append(comp)
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential JPEG (SOF0/1) is supported; "
                "got SOF marker 0x%02X" % marker)
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14
            # transform byte lives at offset 11; a truncated Adobe segment
            # (seen in the wild from stream-clipping tools) is treated as
            # "no Adobe marker", matching libjpeg's tolerant parse
            adobe = seg[11] if len(seg) >= 12 else None
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append((cs, tabs >> 4, tabs & 0x0F))
            return qtabs, huff_dc, huff_ac, frame, scan, restart, i + 2 + ln, adobe
        i += 2 + ln
    raise ValueError("no SOS marker")


def _split_intervals(data, start):
    """Entropy-coded bytes -> list of de-stuffed per-restart-interval
    buffers. RST markers cannot occur inside entropy data (0xFF there is
    always stuffed as FF 00), so a flat scan is safe."""
    import re
    end = len(data)
    m = re.search(b"\xff\xd9", data[start:])
    if m:
        end = start + m.start()
    body = data[start:end]
    parts = re.split(b"\xff[\xd0-\xd7]", body)
    return [p.replace(b"\xff\x00", b"\xff") for p in parts]


def decode_jpeg(data: bytes, luma_only: bool = False) -> np.ndarray:
    """Baseline JPEG bytes -> uint8 array. Grayscale JPEG -> (H, W);
    color -> (H, W, 3) RGB, or (H, W) luma if ``luma_only`` (skips the
    chroma IDCT/upsample entirely — the gray consumers here only need Y,
    and BT.601 luma of the decoded RGB equals Y up to rounding/clipping).
    """
    data = bytes(data)
    if _sof_type(data) == 0xC2:
        return _decode_progressive(data, luma_only)
    qtabs, huff_dc, huff_ac, frame, scan, restart, sstart, adobe = \
        _parse_segments(data)
    if frame is None:
        raise ValueError("no SOF before SOS")
    H, W, comps = frame
    if len(comps) not in (1, 3, 4):
        raise NotImplementedError("only 1-, 3- or 4-component JPEG")
    for cs, td, ta in scan:
        for comp in comps:
            if comp.cid == cs:
                comp.dc_tab = huff_dc[td]
                comp.ac_tab = huff_ac[ta]
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    n_mcus = mcus_x * mcus_y
    blocks_per_mcu = [c.h * c.v for c in comps]

    # luma_only can skip chroma for YCbCr; CMYK needs every component
    decode_comps = comps if not luma_only or len(comps) != 3 else comps[:1]
    skip_idx = set(range(len(decode_comps), len(comps)))

    # sparse coefficients per component, blocks in MCU order; each entry
    # packs (block_index << 24) | (zigzag_k << 18) | (value + 131072) so
    # the hot loop does ONE list append per coefficient
    n_comp = len(comps)
    packed = [[] for _ in range(n_comp)]
    blk_counter = [0] * n_comp

    # per-component decode context; fused huffman LUTs as plain lists
    # (python list indexing + int bit ops beat numpy scalar indexing ~5x
    # in this loop, and one fused probe resolves symbol + EXTENDed value
    # for the overwhelming majority of coefficients) with the bit reader
    # inlined into locals — the entropy decode is the whole-decoder hot
    # path on multi-MP scans
    comp_ctx = [(_build_fused_lut(*comp.dc_tab, True),
                 _build_fused_lut(*comp.ac_tab, False),
                 blocks_per_mcu[ci], ci in skip_idx,
                 packed[ci].append)
                for ci, comp in enumerate(comps)]

    intervals = _split_intervals(data, sstart)
    per_interval = restart if restart else n_mcus
    mcu_done = 0
    M48 = 0xFFFFFFFFFFFF
    for interval in intervals:
        if mcu_done >= n_mcus:
            break
        # halfword stream, 1-padded past the end per spec (a symbol can
        # overrun the interval tail by < 3 halfwords while draining)
        pad = interval + b"\xff" * 8
        u16 = np.frombuffer(pad[:len(pad) & ~1], dtype=">u2").tolist()
        hw = 0
        buf = 0
        cnt = 0
        preds = [0] * n_comp
        n_here = min(per_interval, n_mcus - mcu_done)
        for _ in range(n_here):
            for ci in range(n_comp):
                dc_tab, ac_tab, nblk, skip, p_app = comp_ctx[ci]
                pred = preds[ci]
                for _b in range(nblk):
                    bip = blk_counter[ci] << 24
                    blk_counter[ci] += 1
                    # DC
                    if cnt < 16:
                        buf = ((buf << 16) | u16[hw]) & M48
                        hw += 1
                        cnt += 16
                    e = dc_tab[(buf >> (cnt - 16)) & 0xFFFF]
                    if e == 0:
                        raise ValueError("invalid huffman code (DC)")
                    cnt -= e & 31
                    if e & 32:              # full: value in the entry
                        pred += (e >> 12) - 32768
                    else:                   # long code: read magnitude
                        s = e >> 12
                        while cnt < s:
                            buf = ((buf << 16) | u16[hw]) & M48
                            hw += 1
                            cnt += 16
                        cnt -= s
                        v = (buf >> cnt) & ((1 << s) - 1)
                        pred += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                    if not skip:
                        p_app(bip | (pred + 131072))
                    # AC
                    k = 1
                    while k < 64:
                        if cnt < 16:
                            buf = ((buf << 16) | u16[hw]) & M48
                            hw += 1
                            cnt += 16
                        e = ac_tab[(buf >> (cnt - 16)) & 0xFFFF]
                        if e == 0:
                            raise ValueError("invalid huffman code (AC)")
                        cnt -= e & 31
                        kind = e & 96
                        if kind == 32:      # full: run + value in the entry
                            k += (e >> 7) & 31
                            if k < 64 and not skip:
                                # value + 131072 == (e >> 12) + 98304
                                p_app(bip | (k << 18) | ((e >> 12) + 98304))
                            k += 1
                        elif kind == 96:    # control
                            if e & 0x800:   # ZRL
                                k += 16
                            else:           # EOB
                                break
                        else:               # partial: read magnitude bits
                            k += (e >> 7) & 31
                            s = e >> 12
                            while cnt < s:
                                buf = ((buf << 16) | u16[hw]) & M48
                                hw += 1
                                cnt += 16
                            cnt -= s
                            v = (buf >> cnt) & ((1 << s) - 1)
                            if v < (1 << (s - 1)):
                                v += 1 - (1 << s)
                            if k < 64 and not skip:
                                p_app(bip | (k << 18) | (v + 131072))
                            k += 1
                preds[ci] = pred
        mcu_done += n_here

    # per component: dense coeffs -> dequant -> IDCT -> plane
    planes = []
    inv_zz = ZIGZAG  # coef index k (zigzag) -> natural index
    for ci, comp in enumerate(comps):
        if ci in skip_idx:
            planes.append(None)
            continue
        nb = blk_counter[ci]
        coef = np.zeros((nb, 64), dtype=np.float64)
        if packed[ci]:
            arr = np.asarray(packed[ci], dtype=np.int64)
            kz = (arr >> 18) & 63
            flat = (arr >> 24) * 64 + inv_zz[kz]
            q = qtabs[comp.tq]  # zigzag order
            # dequantize on the SPARSE coefficients (int64-exact, values
            # < 2^53) instead of a dense (nb, 64) multiply pass
            coef.ravel()[flat] = ((arr & 0x3FFFF) - 131072) * q[kz]
        # one (nb*64) x (64x64) GEMM: pix[n, x*8+u] =
        # sum_{k,y} coef[n, k*8+y] * B[k,x] * B[y,u]
        pix = coef @ _IDCT_M
        pix += 128.0
        pix = pix.reshape(nb, 8, 8)
        # MCU-order blocks -> raster plane
        cw_b, ch_b = mcus_x * comp.h, mcus_y * comp.v
        plane = np.empty((ch_b * 8, cw_b * 8), dtype=np.float64)
        idx = np.arange(nb)
        mcu = idx // (comp.h * comp.v)
        within = idx % (comp.h * comp.v)
        bx = (mcu % mcus_x) * comp.h + (within % comp.h)
        by = (mcu // mcus_x) * comp.v + (within // comp.h)
        p4 = plane.reshape(ch_b, 8, cw_b, 8)
        p4[by, :, bx, :] = pix
        planes.append(plane)

    return _assemble_output(planes, comps, H, W, hmax, vmax, luma_only,
                            adobe)


def _assemble_output(planes, comps, H, W, hmax, vmax, luma_only,
                     adobe=None):
    """Component planes (float, block-padded, None for skipped chroma) ->
    uint8 output: luma crop or pixel-replication upsample + BT.601;
    4-component Adobe CMYK/YCCK converts to RGB first."""
    if len(comps) == 4:
        up = []
        for ci, comp in enumerate(comps):
            p = planes[ci]
            sy, sx = vmax // comp.v, hmax // comp.h
            if sy > 1 or sx > 1:
                p = np.repeat(np.repeat(p, sy, axis=0), sx, axis=1)
            up.append(p[:H, :W])
        if adobe == 2:  # YCCK: first three planes are YCbCr of (255-CMY)
            y, cb, cr = up[0], up[1] - 128.0, up[2] - 128.0
            c = y + 1.402 * cr
            m = y - 0.344136 * cb - 0.714136 * cr
            ye = y + 1.772 * cb
            k = up[3]
        elif adobe is not None:  # Adobe transform 0: inverted CMYK
            c, m, ye, k = up[0], up[1], up[2], up[3]
        else:
            # no APP14 marker: straight (non-inverted) CMYK — the common
            # libjpeg-consumer convention; invert the planes into the
            # Adobe representation so one conversion below serves both
            c, m, ye, k = (255.0 - up[0], 255.0 - up[1],
                           255.0 - up[2], 255.0 - up[3])
        # Adobe stores inverted CMYK (255 - value), so RGB = stored * K/255
        rgb = np.stack([c * k, m * k, ye * k], axis=-1)
        rgb /= 255.0
        np.rint(rgb, out=rgb)
        np.clip(rgb, 0, 255, out=rgb)
        rgb = rgb.astype(np.uint8)
        if not luma_only:
            return rgb
        gray = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                + 0.114 * rgb[..., 2])
        out = np.rint(gray)
        np.clip(out, 0, 255, out=out)
        return out.astype(np.uint8)
    if len(comps) == 1 or luma_only:
        y = planes[0]
        # luma plane covers H*v/vmax x W*h/hmax at component resolution;
        # for luma_only with subsampled chroma the Y plane is full-res
        sy, sx = vmax // comps[0].v, hmax // comps[0].h
        if sy > 1 or sx > 1:
            y = np.repeat(np.repeat(y, sy, axis=0), sx, axis=1)
        out = np.rint(y[:H, :W])
        np.clip(out, 0, 255, out=out)
        return out.astype(np.uint8)

    up = []
    for ci, comp in enumerate(comps):
        p = planes[ci]
        sy, sx = vmax // comp.v, hmax // comp.h
        if sy > 1 or sx > 1:
            p = np.repeat(np.repeat(p, sy, axis=0), sx, axis=1)
        up.append(p[:H, :W])
    y, cb, cr = up[0], up[1] - 128.0, up[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    np.rint(rgb, out=rgb)
    np.clip(rgb, 0, 255, out=rgb)
    return rgb.astype(np.uint8)


# ----------------------------------------------------------- progressive

def _sof_type(data):
    """Marker of the frame header (0xC0/0xC1 baseline, 0xC2 progressive,
    ...), walking the pre-scan marker stream only."""
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker
        if marker in (0xD9, 0xDA):
            return None
        i += 2 + struct.unpack(">H", data[i + 2:i + 4])[0]
    return None


def _entropy_end(data, i):
    """First offset >= i holding a real marker (not a stuffed 0xFF00 or a
    restart)."""
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            return n
        m = data[j + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7:
            i = j + 2
            continue
        return j


def _parse_progressive(data):
    """Walk ALL markers of a progressive stream. Returns (qtabs, frame,
    scans); each scan = (comp_indices, dc_specs, ac_specs, Ss, Se, Ah,
    Al, restart, intervals) with huffman specs snapshotted at scan time
    (tables may be redefined between scans)."""
    import re
    qtabs = {}
    huff_dc, huff_ac = {}, {}
    frame = None
    restart = 0
    scans = []
    if data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 2 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("marker desync at offset %d" % i)
        marker = data[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", data[i + 2:i + 4])[0]
        seg = data[i + 4:i + 2 + ln]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    qtabs[tq] = np.frombuffer(seg[p:p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                else:
                    qtabs[tq] = np.frombuffer(seg[p:p + 128], dtype=">u2").astype(np.int64)
                    p += 128
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                (huff_dc if tc == 0 else huff_ac)[th] = (bits, list(seg[p + 17:p + 17 + nv]))
                p += 17 + nv
        elif marker == 0xC2:
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], \
                struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for c in range(nc):
                comp = _Component()
                comp.cid = seg[6 + 3 * c]
                comp.h = seg[7 + 3 * c] >> 4
                comp.v = seg[7 + 3 * c] & 0x0F
                comp.tq = seg[8 + 3 * c]
                comps.append(comp)
            frame = (h, w, comps)
        elif marker == 0xDD:
            restart = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:
            ns = seg[0]
            cis, dcs, acs = [], [], []
            for c in range(ns):
                cs, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                ci = next(j for j, cc in enumerate(frame[2]) if cc.cid == cs)
                cis.append(ci)
                dcs.append(huff_dc.get(tabs >> 4))
                acs.append(huff_ac.get(tabs & 0x0F))
            Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            AhAl = seg[3 + 2 * ns]
            start = i + 2 + ln
            end = _entropy_end(data, start)
            body = data[start:end]
            intervals = [p.replace(b"\xff\x00", b"\xff")
                         for p in re.split(b"\xff[\xd0-\xd7]", body)]
            scans.append((cis, dcs, acs, Ss, Se, AhAl >> 4, AhAl & 15,
                          restart, intervals))
            i = end
            continue
        i += 2 + ln
    if frame is None:
        raise ValueError("no SOF2 frame")
    return qtabs, frame, scans


class _BitReader:
    """MSB-first reader over de-stuffed entropy bytes (halfword loads,
    1-padding past the end). Used by the progressive path, where scans
    are many and short — clarity over the baseline loop's raw locals."""
    __slots__ = ("u16", "hw", "buf", "cnt")

    def __init__(self, interval):
        pad = interval + b"\xff" * 8
        self.u16 = np.frombuffer(pad[:len(pad) & ~1], dtype=">u2").tolist()
        self.hw = 0
        self.buf = 0
        self.cnt = 0

    def bits(self, n):
        while self.cnt < n:
            self.buf = ((self.buf << 16) | self.u16[self.hw]) & 0xFFFFFFFFFFFF
            self.hw += 1
            self.cnt += 16
        self.cnt -= n
        return (self.buf >> self.cnt) & ((1 << n) - 1)

    def huff(self, lut):
        if self.cnt < 16:
            self.buf = ((self.buf << 16) | self.u16[self.hw]) & 0xFFFFFFFFFFFF
            self.hw += 1
            self.cnt += 16
        e = lut[(self.buf >> (self.cnt - 16)) & 0xFFFF]
        if e == 0:
            raise ValueError("invalid huffman code")
        self.cnt -= e & 31
        return e


def _decode_progressive(data, luma_only=False):
    """Progressive (SOF2) decode: spectral selection + successive
    approximation, huffman only. Coefficients accumulate across scans in
    per-component zigzag-order arrays; dequant + IDCT run once at the
    end through the same GEMM path as baseline."""
    qtabs, frame, scans = _parse_progressive(data)
    H, W, comps = frame
    if len(comps) not in (1, 3):
        raise NotImplementedError("only 1- or 3-component JPEG")
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    n_mcus = mcus_x * mcus_y

    # per-component coefficient store, RASTER block order, zigzag k;
    # flat python list (scalar updates dominate progressive decode)
    dims = []
    coef = []
    for comp in comps:
        cw_b, ch_b = mcus_x * comp.h, mcus_y * comp.v
        # non-interleaved scans cover only ceil(comp_resolution/8) blocks
        comp_w = -(-W * comp.h // hmax)
        comp_h = -(-H * comp.v // vmax)
        nw, nh = -(-comp_w // 8), -(-comp_h // 8)
        dims.append((cw_b, ch_b, nw, nh))
        coef.append([0] * (cw_b * ch_b * 64))

    for cis, dcs, acs, Ss, Se, Ah, Al, restart, intervals in scans:
        if Ss == 0:
            if Se != 0:
                raise ValueError(
                    "malformed progressive scan: Ss=0 requires Se=0 "
                    "(a baseline scan header under an SOF2 marker)")
            _prog_dc_scan(coef, dims, comps, cis, dcs, Ah, Al,
                          mcus_x, mcus_y, n_mcus, restart, intervals)
        else:
            if len(cis) != 1:
                raise ValueError("progressive AC scans must be "
                                 "non-interleaved (one component)")
            _prog_ac_scan(coef[cis[0]], dims[cis[0]], acs[0],
                          Ss, Se, Ah, Al, restart, intervals)

    decode_comps = comps if not luma_only or len(comps) == 1 else comps[:1]
    skip_idx = set(range(len(decode_comps), len(comps)))
    planes = []
    inv_zz = ZIGZAG
    for ci, comp in enumerate(comps):
        if ci in skip_idx:
            planes.append(None)
            continue
        cw_b, ch_b, _, _ = dims[ci]
        nb = cw_b * ch_b
        zz = np.asarray(coef[ci], dtype=np.int64).reshape(nb, 64)
        q = qtabs[comp.tq]          # zigzag order
        nat = np.zeros((nb, 64), dtype=np.float64)
        nat[:, inv_zz] = zz * q[None, :]
        pix = nat @ _IDCT_M
        pix += 128.0
        # raster block order -> plane directly
        plane = np.ascontiguousarray(
            pix.reshape(ch_b, cw_b, 8, 8).transpose(0, 2, 1, 3)
        ).reshape(ch_b * 8, cw_b * 8)
        planes.append(plane)
    return _assemble_output(planes, comps, H, W, hmax, vmax, luma_only)


def _prog_dc_scan(coef, dims, comps, cis, dcs, Ah, Al,
                  mcus_x, mcus_y, n_mcus, restart, intervals):
    """DC scan: first pass (Ah=0) huffman-codes point-transformed diffs;
    refinement (Ah>0) appends one bit per block."""
    interleaved = len(cis) > 1
    if interleaved:
        units_total = n_mcus
    else:
        _, _, nw, nh = dims[cis[0]]
        units_total = nw * nh
    luts = [(_build_fused_lut(*dcs[k], True) if Ah == 0 else None)
            for k in range(len(cis))]
    per_interval = restart if restart else units_total
    done = 0
    p1 = 1 << Al
    for interval in intervals:
        if done >= units_total:
            break
        br = _BitReader(interval)
        preds = [0] * len(cis)
        n_here = min(per_interval, units_total - done)
        for u in range(done, done + n_here):
            for k, ci in enumerate(cis):
                comp = comps[ci]
                cw_b = dims[ci][0]
                if interleaved:
                    mx, my = u % mcus_x, u // mcus_x
                    blocks = [( (my * comp.v + dy) * cw_b + mx * comp.h + dx)
                              for dy in range(comp.v) for dx in range(comp.h)]
                else:
                    nw = dims[ci][2]
                    blocks = [(u // nw) * cw_b + (u % nw)]
                for bi in blocks:
                    if Ah == 0:
                        e = br.huff(luts[k])
                        if e & 32:
                            preds[k] += (e >> 12) - 32768
                        else:
                            s = e >> 12
                            v = br.bits(s)
                            preds[k] += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                        coef[ci][bi * 64] = preds[k] << Al
                    else:
                        if br.bits(1):
                            coef[ci][bi * 64] |= p1
        done += n_here


def _prog_ac_scan(coef, dim, ac_spec, Ss, Se, Ah, Al, restart, intervals):
    """AC scan (always single-component, non-interleaved): first pass
    (Ah=0) codes point-transformed coefficients with EOB-run symbols;
    refinement (Ah>0) follows the T.81 G.1.2.3 correction-bit procedure."""
    cw_b, ch_b, nw, nh = dim
    units_total = nw * nh
    lut = _build_decode_lut(*ac_spec).tolist()
    per_interval = restart if restart else units_total
    done = 0
    p1 = 1 << Al
    m1 = (-1) << Al
    for interval in intervals:
        if done >= units_total:
            break
        br = _BitReader(interval)
        eobrun = 0
        n_here = min(per_interval, units_total - done)
        for u in range(done, done + n_here):
            base = ((u // nw) * cw_b + (u % nw)) * 64
            if Ah == 0:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = Ss
                while k <= Se:
                    e = br.huff(lut)
                    sym = e >> 5
                    r, s = sym >> 4, sym & 15
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.bits(r)
                        break
                    k += r
                    v = br.bits(s)
                    if v < (1 << (s - 1)):
                        v += 1 - (1 << s)
                    if k <= Se:
                        coef[base + k] = v << Al
                    k += 1
            else:
                k = Ss
                if eobrun == 0:
                    while k <= Se:
                        e = br.huff(lut)
                        sym = e >> 5
                        r, s = sym >> 4, sym & 15
                        val = 0
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.bits(r)
                                break
                            # r == 15: skip 16 zero-history positions
                        else:
                            val = p1 if br.bits(1) else m1
                        while k <= Se:
                            c = coef[base + k]
                            if c != 0:
                                if br.bits(1) and (c & p1) == 0:
                                    coef[base + k] = c + (p1 if c >= 0 else m1)
                            else:
                                r -= 1
                                if r < 0:
                                    break
                            k += 1
                        if val and k <= Se:
                            coef[base + k] = val
                        k += 1
                if eobrun > 0:
                    while k <= Se:
                        c = coef[base + k]
                        if c != 0:
                            if br.bits(1) and (c & p1) == 0:
                                coef[base + k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1
        done += n_here
