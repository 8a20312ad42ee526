"""Baseline, progressive and CMYK JPEG encoders: the test oracles of
pdftabextract_spark.kernels.jpeg's decoder, kept out of the library
because only tests call them.

encode_jpeg (baseline, grayscale or YCbCr 4:4:4) and
encode_jpeg_progressive (SOF2 scan script with successive approximation;
4:4:4 or 4:2:0) quantize identically, so progressive and baseline streams
of the same image must decode pixel-identically; encode_jpeg_cmyk writes
the 4-component Adobe CMYK / YCCK streams.
"""

import struct

import numpy as np

from pdftabextract_spark.kernels.jpeg import (
    HUFF_AC_CHROMA, HUFF_AC_LUMA, HUFF_DC_CHROMA, HUFF_DC_LUMA, QTAB_CHROMA,
    QTAB_LUMA, ZIGZAG, _DCT_B)


def _build_encode_table(bits, values):
    """symbol -> (code, length) dict for the encoder."""
    table = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[vi]] = (code, length)
            vi += 1
            code += 1
        code <<= 1
    return table


# ---------------------------------------------------------------- encode

class _BitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, code, length):
        self.buf = (self.buf << length) | code
        self.cnt += length
        while self.cnt >= 8:
            self.cnt -= 8
            b = (self.buf >> self.cnt) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.cnt:
            pad = 8 - self.cnt
            self.write((1 << pad) - 1, pad)


def _scale_qtab(tab, quality):
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (tab * scale + 50) // 100
    return np.clip(q, 1, 255)


def _encode_blocks(bw, blocks_zz, dc_table, ac_table, pred):
    """blocks_zz: (n, 64) int zigzag-quantized coeffs; returns new pred."""
    for row in blocks_zz:
        diff = int(row[0]) - pred
        pred = int(row[0])
        if diff == 0:
            c, ln = dc_table[0]
            bw.write(c, ln)
        else:
            s = int(abs(diff)).bit_length()
            c, ln = dc_table[s]
            bw.write(c, ln)
            v = diff if diff > 0 else diff + (1 << s) - 1
            bw.write(v & ((1 << s) - 1), s)
        nz = np.nonzero(row[1:])[0]
        run = 0
        prev = 0
        for i in nz:
            gap = int(i) - prev
            run += gap
            prev = int(i) + 1
            while run >= 16:
                c, ln = ac_table[0xF0]
                bw.write(c, ln)
                run -= 16
            v = int(row[1 + i])
            s = abs(v).bit_length()
            c, ln = ac_table[(run << 4) | s]
            bw.write(c, ln)
            vv = v if v > 0 else v + (1 << s) - 1
            bw.write(vv & ((1 << s) - 1), s)
            run = 0
        if prev < 63:
            c, ln = ac_table[0]  # EOB
            bw.write(c, ln)
    return pred


def _fdct_quant(plane, qtab_nat):
    """(H, W) float, H/W multiples of 8 -> (n_blocks, 64) zigzag ints."""
    H, W = plane.shape
    blocks = (plane.reshape(H // 8, 8, W // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0)
    # with the orthonormal basis B (c(k)cos(.)/2 rows), the T.81 forward
    # DCT is exactly B @ b @ B.T — no extra scale
    coef = np.einsum("kx,nxy,uy->nku", _DCT_B, blocks, _DCT_B,
                     optimize=True)
    q = np.round(coef / qtab_nat[None, :, :]).astype(np.int64)
    return q.reshape(-1, 64)[:, ZIGZAG]


def encode_jpeg(img: np.ndarray, quality: int = 85) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB -> baseline JPEG bytes
    (4:4:4 for color, Annex-K tables scaled by quality, no restarts)."""
    a = np.asarray(img)
    if a.dtype != np.uint8:
        a = np.clip(a, 0, 255).astype(np.uint8)
    gray = a.ndim == 2
    H, W = a.shape[:2]
    ph, pw = -(-H // 8) * 8, -(-W // 8) * 8

    qy = _scale_qtab(QTAB_LUMA.ravel()[ZIGZAG], quality)      # zigzag
    qc = _scale_qtab(QTAB_CHROMA.ravel()[ZIGZAG], quality)
    qy_nat = np.empty(64, dtype=np.int64); qy_nat[ZIGZAG] = qy
    qc_nat = np.empty(64, dtype=np.int64); qc_nat[ZIGZAG] = qc

    def pad(p):
        return np.pad(p, ((0, ph - H), (0, pw - W)), mode="edge")

    if gray:
        y = pad(a.astype(np.float64))
        planes = [(y, qy_nat.reshape(8, 8), 0)]
    else:
        f = a.astype(np.float64)
        y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        cb = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
        cr = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
        planes = [(pad(y), qy_nat.reshape(8, 8), 0),
                  (pad(cb), qc_nat.reshape(8, 8), 1),
                  (pad(cr), qc_nat.reshape(8, 8), 1)]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HHBB", 1, 1, 0, 0)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qy.astype(np.uint8))
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qc.astype(np.uint8))
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, H, W, nc)
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, spec):
        bits, values = spec
        payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload

    out += dht(0, 0, HUFF_DC_LUMA) + dht(1, 0, HUFF_AC_LUMA)
    if not gray:
        out += dht(0, 1, HUFF_DC_CHROMA) + dht(1, 1, HUFF_AC_CHROMA)

    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_y = _build_encode_table(*HUFF_DC_LUMA)
    ac_y = _build_encode_table(*HUFF_AC_LUMA)
    dc_c = _build_encode_table(*HUFF_DC_CHROMA)
    ac_c = _build_encode_table(*HUFF_AC_CHROMA)

    # 4:4:4 -> MCU = one block per component, interleaved
    zz = [_fdct_quant(p, q) for p, q, _ in planes]
    bw = _BitWriter()
    preds = [0] * nc
    for b in range(zz[0].shape[0]):
        for ci in range(nc):
            dc_t, ac_t = (dc_y, ac_y) if planes[ci][2] == 0 else (dc_c, ac_c)
            preds[ci] = _encode_blocks(bw, zz[ci][b:b + 1], dc_t, ac_t, preds[ci])
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------- progressive encoder

# complete huffman spec usable for every progressive symbol: symbols
# 0..254 at code length 8, symbol 255 at length 9 (the all-ones length-9
# code stays unused per T.81). Deliberately simple, not size-optimized —
# this encoder is the progressive DECODER's test oracle, emitting the
# same quantized coefficients as the baseline encoder through a
# DC + banded-AC successive-approximation scan script.
_HUFF_ALL = ([0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(256)))


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85,
                            subsample: bool = False) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB -> progressive (SOF2)
    baseline-huffman JPEG (Annex-K quant tables scaled by quality;
    4:4:4, or 4:2:0 with ``subsample`` for color). Scan script:
    interleaved DC at Al=1; per component AC bands (1-5) and (6-63) at
    Al=1; per component AC refinements of both bands to Al=0;
    interleaved DC refinement to Al=0 — exercising spectral selection,
    EOB runs, and successive approximation on both DC and AC. At 4:4:4,
    decode_jpeg of this stream equals decode_jpeg of encode_jpeg's
    baseline stream pixel-for-pixel (same coefficients); at 4:2:0 the
    tests pin the decoded coefficient arrays against this encoder's."""
    a = np.asarray(img)
    if a.dtype != np.uint8:
        a = np.clip(a, 0, 255).astype(np.uint8)
    gray = a.ndim == 2
    H, W = a.shape[:2]
    qy = _scale_qtab(QTAB_LUMA.ravel()[ZIGZAG], quality)
    qc = _scale_qtab(QTAB_CHROMA.ravel()[ZIGZAG], quality)
    qy_nat = np.empty(64, dtype=np.int64); qy_nat[ZIGZAG] = qy
    qc_nat = np.empty(64, dtype=np.int64); qc_nat[ZIGZAG] = qc

    if gray:
        samp = [(1, 1)]
    elif subsample:
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1)] * 3
    hmax = max(h for h, v in samp)
    vmax = max(v for h, v in samp)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))

    if gray:
        planes = [(a.astype(np.float64), qy_nat)]
    else:
        f = a.astype(np.float64)
        y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        cb = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
        cr = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
        planes = [(y, qy_nat), (cb, qc_nat), (cr, qc_nat)]
    zz, geom = [], []
    for (p, qn), (hi, vi) in zip(planes, samp):
        if (hi, vi) != (hmax, vmax):
            p = p[::vmax // vi, ::hmax // hi]  # decimation downsample
        cw_b, ch_b = mcus_x * hi, mcus_y * vi
        p = np.pad(p, ((0, ch_b * 8 - p.shape[0]), (0, cw_b * 8 - p.shape[1])),
                   mode="edge")
        zz.append(_fdct_quant(p, qn.reshape(8, 8)))
        comp_w = -(-W * hi // hmax)
        comp_h = -(-H * vi // vmax)
        geom.append((hi, vi, cw_b, -(-comp_w // 8), -(-comp_h // 8)))
    nc = len(zz)

    def dc_block_order():
        """(ci, block_index) pairs in interleaved-MCU scan order."""
        for m in range(mcus_x * mcus_y):
            mx, my = m % mcus_x, m // mcus_x
            for ci in range(nc):
                hi, vi, cw_b, _, _ = geom[ci]
                for dy in range(vi):
                    for dx in range(hi):
                        yield ci, (my * vi + dy) * cw_b + mx * hi + dx

    def ac_block_order(ci):
        """Non-interleaved raster over the component's own block grid."""
        hi, vi, cw_b, nw, nh = geom[ci]
        for u in range(nw * nh):
            yield (u // nw) * cw_b + (u % nw)

    table = _build_encode_table(*_HUFF_ALL)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HHBB", 1, 1, 0, 0)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qy.astype(np.uint8))
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qc.astype(np.uint8))
    sof = struct.pack(">BHHB", 8, H, W, nc)
    for c in range(nc):
        sof += bytes([c + 1, (samp[c][0] << 4) | samp[c][1], 0 if c == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    bits, values = _HUFF_ALL
    payload = bytes([0x00]) + bytes(bits) + bytes(values)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    payload = bytes([0x10]) + bytes(bits) + bytes(values)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload

    def sos_header(comp_ids, Ss, Se, Ah, Al):
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def sym(bw, s):
        c, ln = table[s]
        bw.write(c, ln)

    # --- scan 1: interleaved DC, Al=1 (point transform = arith shift)
    bw = _BitWriter()
    preds = [0] * nc
    for ci, b in dc_block_order():
        v = int(zz[ci][b, 0]) >> 1
        diff = v - preds[ci]
        preds[ci] = v
        s = abs(diff).bit_length()
        sym(bw, s)
        if s:
            vv = diff if diff > 0 else diff + (1 << s) - 1
            bw.write(vv & ((1 << s) - 1), s)
    bw.flush()
    out += sos_header(list(range(1, nc + 1)), 0, 0, 0, 1) + bw.out

    # --- AC first passes per component, Al=1, bands (1,5) and (6,63)
    def ac_first(ci, Ss, Se, Al):
        bw = _BitWriter()
        eobrun = 0

        def emit_eobrun():
            nonlocal eobrun
            if eobrun:
                n = eobrun.bit_length() - 1
                sym(bw, n << 4)
                if n:
                    bw.write(eobrun - (1 << n), n)
                eobrun = 0

        for b in ac_block_order(ci):
            r = 0
            for k in range(Ss, Se + 1):
                t = int(zz[ci][b, k])
                av = abs(t) >> Al
                if av == 0:
                    r += 1
                    continue
                emit_eobrun()
                while r > 15:
                    sym(bw, 0xF0)
                    r -= 16
                s = av.bit_length()
                sym(bw, (r << 4) | s)
                v = av if t > 0 else -av
                vv = v if v > 0 else v + (1 << s) - 1
                bw.write(vv & ((1 << s) - 1), s)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        bw.flush()
        return bw.out

    # --- AC refinement per component, Ah=1 -> Al=0 (T.81 G.1.2.3).
    # Correction bits ride AFTER the symbol they belong to; ``pend`` holds
    # the outstanding bits with ``be`` marking the prefix attached to the
    # pending EOB run (libjpeg's BE/BR split) — the suffix belongs to the
    # current block and is flushed after its next ZRL / run-1 symbol.
    def ac_refine(ci, Ss, Se):
        bw = _BitWriter()
        eobrun = 0
        pend = []
        be = 0

        def flush_all():
            for bit in pend:
                bw.write(bit, 1)
            pend.clear()

        def emit_eobrun():
            nonlocal eobrun, be
            if eobrun:
                n = eobrun.bit_length() - 1
                sym(bw, n << 4)
                if n:
                    bw.write(eobrun - (1 << n), n)
                for bit in pend[:be]:
                    bw.write(bit, 1)
                del pend[:be]
                eobrun = 0
            be = 0

        for b in ac_block_order(ci):
            row = zz[ci][b]
            absv = [abs(int(row[k])) for k in range(Se + 1)]
            eob_pos = 0
            for k in range(Ss, Se + 1):
                if absv[k] == 1:
                    eob_pos = k
            r = 0
            for k in range(Ss, Se + 1):
                t = absv[k]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_pos:
                    emit_eobrun()
                    sym(bw, 0xF0)
                    flush_all()
                    r -= 16
                if t > 1:
                    pend.append(t & 1)
                    continue
                emit_eobrun()
                sym(bw, (r << 4) | 1)
                bw.write(1 if int(row[k]) > 0 else 0, 1)
                flush_all()
                r = 0
            if r > 0 or pend:
                eobrun += 1
                be = len(pend)
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        bw.flush()
        return bw.out

    for ci in range(nc):
        for (Ss, Se) in ((1, 5), (6, 63)):
            out += sos_header([ci + 1], Ss, Se, 0, 1) + ac_first(ci, Ss, Se, 1)
    for ci in range(nc):
        for (Ss, Se) in ((1, 5), (6, 63)):
            out += sos_header([ci + 1], Ss, Se, 1, 0) + ac_refine(ci, Ss, Se)

    # --- final scan: interleaved DC refinement Ah=1 -> Al=0
    bw = _BitWriter()
    for ci, b in dc_block_order():
        bw.write(int(zz[ci][b, 0]) & 1, 1)
    bw.flush()
    out += sos_header(list(range(1, nc + 1)), 0, 0, 1, 0) + bw.out

    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------ CMYK encoder

def encode_jpeg_cmyk(img: np.ndarray, quality: int = 85,
                     ycck: bool = False) -> bytes:
    """uint8 (H, W, 3) RGB -> 4-component Adobe CMYK (transform 0) or
    YCCK (transform 2) baseline JPEG — the test oracle for the
    4-component decode path. Uses the degenerate but invertible mapping
    C=R, M=G, Y=B (Adobe-inverted convention), K=255 (no black), so the
    decoded RGB must equal the plain 4:4:4 RGB decode of the same image
    within quantization error."""
    a = np.asarray(img)
    if a.dtype != np.uint8:
        a = np.clip(a, 0, 255).astype(np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_jpeg_cmyk expects (H, W, 3) RGB")
    H, W = a.shape[:2]
    ph, pw = -(-H // 8) * 8, -(-W // 8) * 8
    f = a.astype(np.float64)
    if ycck:
        # YCbCr forward transform of the stored (inverted) CMY planes
        p0 = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        p1 = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
        p2 = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
    else:
        p0, p1, p2 = f[..., 0], f[..., 1], f[..., 2]
    p3 = np.full((H, W), 255.0)

    qy = _scale_qtab(QTAB_LUMA.ravel()[ZIGZAG], quality)
    qc = _scale_qtab(QTAB_CHROMA.ravel()[ZIGZAG], quality)
    qy_nat = np.empty(64, dtype=np.int64); qy_nat[ZIGZAG] = qy
    qc_nat = np.empty(64, dtype=np.int64); qc_nat[ZIGZAG] = qc

    def pad(p):
        return np.pad(p, ((0, ph - H), (0, pw - W)), mode="edge")

    # YCCK: luma tables for Y/K, chroma for Cb/Cr (their statistics);
    # raw CMYK: luma tables everywhere — raw channels are not chroma-smooth
    if ycck:
        specs = [(p0, qy_nat, 0), (p1, qc_nat, 1), (p2, qc_nat, 1), (p3, qy_nat, 0)]
    else:
        specs = [(p0, qy_nat, 0), (p1, qy_nat, 0), (p2, qy_nat, 0), (p3, qy_nat, 0)]
    zz = [_fdct_quant(pad(p), qn.reshape(8, 8)) for p, qn, _ in specs]

    out = bytearray(b"\xff\xd8")
    adobe = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 2 if ycck else 0)
    out += b"\xff\xee" + struct.pack(">H", 2 + len(adobe)) + adobe
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qy.astype(np.uint8))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qc.astype(np.uint8))
    sof = struct.pack(">BHHB", 8, H, W, 4)
    for c in range(4):
        sof += bytes([c + 1, 0x11, specs[c][2]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, spec):
        bits, values = spec
        payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload

    out += dht(0, 0, HUFF_DC_LUMA) + dht(1, 0, HUFF_AC_LUMA)
    out += dht(0, 1, HUFF_DC_CHROMA) + dht(1, 1, HUFF_AC_CHROMA)

    sos = bytes([4])
    for c in range(4):
        t = specs[c][2]
        sos += bytes([c + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_y = _build_encode_table(*HUFF_DC_LUMA)
    ac_y = _build_encode_table(*HUFF_AC_LUMA)
    dc_c = _build_encode_table(*HUFF_DC_CHROMA)
    ac_c = _build_encode_table(*HUFF_AC_CHROMA)

    bw = _BitWriter()
    preds = [0] * 4
    for b in range(zz[0].shape[0]):
        for ci in range(4):
            dc_t, ac_t = (dc_y, ac_y) if specs[ci][2] == 0 else (dc_c, ac_c)
            preds[ci] = _encode_blocks(bw, zz[ci][b:b + 1], dc_t, ac_t, preds[ci])
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)
