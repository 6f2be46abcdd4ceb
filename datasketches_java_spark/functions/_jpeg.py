"""Pure-numpy baseline JPEG codec (ITU-T T.81).

Decoder: baseline sequential DCT (SOF0), Huffman entropy coding,
grayscale or YCbCr with any of the common sampling factors
(4:4:4 / 4:2:2 / 4:2:0), DRI/RSTn restart markers.  Progressive
(SOF2), arithmetic coding, 12-bit precision and 4-component
(CMYK/YCCK) frames are rejected with a clean ValueError — they are the remaining genuine external-decoder
seam (functions/multimodal.py routes them to the documented
NotImplementedError).

Encoder: baseline, 4:4:4, the T.81 Annex-K example quantization and
Huffman tables (the tables virtually every encoder ships), IJG-style
quality scaling.

Validation: decoded output is compared pixel-wise against the JVM's
ImageIO decoder (via Spark's built-in `image` source) on Spark's own
mllib sample JPEGs in tests/test_jpeg_codec.py — two independent
implementations agreeing within IDCT rounding tolerance.

Everything here is numpy + stdlib; the only per-pixel Python is the
Huffman bit loop, which is O(compressed bytes) and runs inside the
Arrow-batched multimodal operators.
"""

from __future__ import annotations

import struct

import numpy as np

# -- 8x8 DCT basis (orthonormal DCT-II matrix) ------------------------------
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16) * \
            (np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8))

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# -- T.81 Annex K tables (public spec constants) ----------------------------
_K_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
_K_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99])
# (bits counts per code length 1..16, symbol list)
_K_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
_K_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
_K_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
_K_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict:
    """(length, code) → symbol map from the T.81 canonical recipe."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _encode_codes(bits: list[int], symbols: list[int]) -> dict:
    """symbol → (code, length) for the encoder."""
    return {sym: (code, ln)
            for (ln, code), sym in _canonical_codes(bits, symbols).items()}


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing and RSTn awareness."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf
        while self.nbits <= 24:
            if self.pos >= len(b):
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            byte = b[self.pos]
            if byte == 0xFF:
                nxt = b[self.pos + 1] if self.pos + 1 < len(b) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif nxt == 0xFF:
                    # T.81 B.1.1.2: any number of 0xFF fill bytes may
                    # precede a marker — skip one and re-inspect
                    self.pos += 1
                    continue
                elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:
                    # marker: pad with zero bits until restart() is
                    # called / the scan ends
                    self.acc = (self.acc << 8) & 0xFFFFFFFF
                    self.nbits += 8
                    continue
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} in scan")
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | byte) & 0xFFFFFFFF
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("corrupt JPEG: no Huffman code matched")

    def restart(self) -> None:
        """Byte-align and consume one RSTn marker."""
        self.nbits = 0
        b = self.buf
        while self.pos + 1 < len(b):
            if b[self.pos] == 0xFF and 0xD0 <= b[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("corrupt JPEG: expected restart marker")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JPEG bytes → uint8 (h, w, 3) RGB."""
    if len(buf) < 4 or buf[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG image")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps = None
    w = h = 0
    restart_interval = 0
    i = 2
    while i < len(buf) - 1:
        if buf[i] != 0xFF:
            i += 1
            continue
        m = buf[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", buf, i + 2)
        seg = buf[i + 4:i + 2 + seg_len]
        if m == 0xDB:                      # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    qt[tid] = np.frombuffer(
                        seg[p:p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    qt[tid] = np.frombuffer(
                        seg[p:p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
        elif m == 0xC4:                    # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                syms = list(seg[p + 17:p + 17 + n])
                (huff_ac if cls else huff_dc)[tid] = \
                    _canonical_codes(bits, syms)
                p += 17 + n
        elif m == 0xC0 or m == 0xC1:       # SOF0/1 baseline
            if seg[0] != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if nc not in (1, 3):
                raise ValueError(
                    f"unsupported JPEG with {nc} components (CMYK/YCCK); "
                    f"only grayscale and YCbCr baseline are pure-numpy "
                    f"decodable")
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "hs": samp >> 4, "vs": samp & 15,
                              "tq": tq})
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding (SOF{m - 0xC0}); only baseline "
                f"sequential DCT is pure-numpy decodable")
        elif m == 0xDD:                    # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif m == 0xDA:                    # SOS — entropy data follows
            if comps is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            sel = {}
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                sel[cid] = (tabs >> 4, tabs & 15)
            if len(sel) != len(comps):
                raise ValueError(
                    "non-interleaved (multi-scan) baseline JPEG not "
                    "supported; use an external decoder")
            return _decode_scan(buf, i + 2 + seg_len, w, h, comps, sel,
                                qt, huff_dc, huff_ac, restart_interval)
        i += 2 + seg_len
    raise ValueError("corrupt JPEG: no scan found")


def _triangle_up2(a: np.ndarray, axis: int) -> np.ndarray:
    """libjpeg-style 'fancy' (triangular) 2x chroma upsampling along
    one axis: out_even = (3*s + prev)/4, out_odd = (3*s + next)/4 with
    edge replication — what ImageIO/libjpeg decoders do by default, so
    cross-decoder pixel comparisons agree at rounding level."""
    if axis == 0:
        a = a.T
    prev = np.concatenate([a[:, :1], a[:, :-1]], axis=1)
    nxt = np.concatenate([a[:, 1:], a[:, -1:]], axis=1)
    out = np.empty((a.shape[0], a.shape[1] * 2), dtype=a.dtype)
    out[:, 0::2] = (3.0 * a + prev) / 4.0
    out[:, 1::2] = (3.0 * a + nxt) / 4.0
    return out.T if axis == 0 else out


def _decode_scan(buf, pos, w, h, comps, sel, qt, huff_dc, huff_ac,
                 restart_interval):
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    for c in comps:
        if (c["hs"] not in (1, 2, 4) or c["vs"] not in (1, 2, 4)
                or hmax % c["hs"] or vmax % c["vs"]):
            raise ValueError(
                f"unsupported JPEG sampling factors "
                f"{c['hs']}x{c['vs']} (power-of-2 ratios only)")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        pw, ph = mcus_x * 8 * c["hs"], mcus_y * 8 * c["vs"]
        planes.append(np.zeros((ph, pw), dtype=np.float32))
    rdr = _BitReader(buf, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                rdr.restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dct, act = sel[c["id"]]
                dc_tab, ac_tab = huff_dc[dct], huff_ac[act]
                q = qt[c["tq"]]
                for by in range(c["vs"]):
                    for bx in range(c["hs"]):
                        coef = np.zeros(64, dtype=np.int32)
                        t = rdr.huff(dc_tab)
                        pred[ci] += _extend(rdr.bits(t), t)
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = rdr.huff(ac_tab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break          # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC index overrun")
                            coef[k] = _extend(rdr.bits(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float32)
                        block[_ZIGZAG] = coef * q
                        px = _C.T @ block.reshape(8, 8) @ _C
                        y0 = (my * c["vs"] + by) * 8
                        x0 = (mx * c["hs"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px + 128.0
            mcu_count += 1
    # upsample to full res and color-convert
    out = []
    for ci, c in enumerate(comps):
        pl = planes[ci]
        ry, rx = vmax // c["vs"], hmax // c["hs"]
        while ry > 1 or rx > 1:
            if ry > 1:
                pl = _triangle_up2(pl, axis=0)
                ry //= 2
            if rx > 1:
                pl = _triangle_up2(pl, axis=1)
                rx //= 2
        out.append(pl[:h, :w])
    if len(out) == 1:
        g = np.clip(out[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(rgb.round(), 0, 255).astype(np.uint8)


# -- encoder ----------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)      # stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec


def _quality_scale(q_table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q_table * s + 50) // 100, 1, 255).astype(np.int32)


def _encode_block(bw, block, q_zz, dc_codes, ac_codes, pred):
    """FDCT + zigzag + quantize one 8x8 block and entropy-code it;
    returns the new DC predictor.  ``q_zz`` is zigzag-ordered."""
    f = (_C @ (block - 128.0) @ _C.T).reshape(64)
    coef = np.round(f[_ZIGZAG] / q_zz).astype(np.int32)
    diff = int(coef[0]) - pred
    t = int(diff).bit_length() if diff else 0
    code, ln = dc_codes[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max(np.nonzero(coef)[0]) if np.any(coef[1:]) else 0
    for k in range(1, 64):
        v = int(coef[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        bw.put(code, ln)
    return int(coef[0])


def encode_jpeg(pixels: np.ndarray, quality: int = 85) -> bytes:
    """uint8 (h, w, 3) RGB → baseline JPEG (4:4:4, Annex-K tables)."""
    h, w, _ = pixels.shape
    px = pixels.astype(np.float32)
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    ql = _quality_scale(_K_LUMA_Q, quality)
    qc = _quality_scale(_K_CHROMA_Q, quality)
    dc_l, ac_l = _encode_codes(*_K_DC_LUMA), _encode_codes(*_K_AC_LUMA)
    dc_c, ac_c = _encode_codes(*_K_DC_CHROMA), _encode_codes(*_K_AC_CHROMA)

    def chunk(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    head = bytearray(b"\xFF\xD8")
    head += chunk(0xDB, bytes([0]) + bytes(ql[_ZIGZAG].tolist()))
    head += chunk(0xDB, bytes([1]) + bytes(qc[_ZIGZAG].tolist()))
    head += chunk(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes(
        [3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    for cls, tid, (bits, syms) in ((0, 0, _K_DC_LUMA), (1, 0, _K_AC_LUMA),
                                   (0, 1, _K_DC_CHROMA),
                                   (1, 1, _K_AC_CHROMA)):
        head += chunk(0xC4, bytes([(cls << 4) | tid]) + bytes(bits)
                      + bytes(syms))
    head += chunk(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))

    bw = _BitWriter()
    preds = [0, 0, 0]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = []
    for pl in (y, cb, cr):
        pad = np.empty((ph, pw), dtype=np.float32)
        pad[:h, :w] = pl
        pad[h:, :w] = pl[-1:, :]
        pad[:, w:] = pad[:, w - 1:w]
        planes.append(pad)
    zq = [ql[_ZIGZAG].astype(np.float32), qc[_ZIGZAG].astype(np.float32),
          qc[_ZIGZAG].astype(np.float32)]
    tabs = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    for my in range(ph // 8):
        for mx in range(pw // 8):
            for ci in range(3):
                block = planes[ci][my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                preds[ci] = _encode_block(
                    bw, block, zq[ci], *tabs[ci], preds[ci])
    bw.flush()
    return bytes(head) + bytes(bw.out) + b"\xFF\xD9"
