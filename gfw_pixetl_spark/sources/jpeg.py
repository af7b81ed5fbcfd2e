"""Pure-Python baseline JPEG codec — the second real image-decode leaf
of the multimodal family (same move as ``sources/png.py``: the format is
public — ITU-T T.81 / ISO 10918-1 — so implement it from the spec rather
than gating on PIL).

Scope: baseline sequential DCT (SOF0/1) AND progressive DCT (SOF2,
T.81 Annex G: spectral selection + successive approximation, DC and AC
first/refinement passes, EOB-run coding), 8-bit samples, Huffman entropy
coding with up to 4 DC/AC tables (DHT), 1-4 components with h/v sampling
factors 1-4 (covers 4:4:4, 4:2:2, 4:2:0 chroma subsampling), restart
markers (DRI/RSTn), JFIF YCbCr->RGB color conversion. Arithmetic coding
and 12-bit precision raise ``ValueError`` — honestly out of scope, not
silently wrong.

The encoder writes spec-valid baseline JFIF with the Annex K Huffman
tables and a caller-supplied quantization table. With an all-ones quant
table a DC-only image (every 8x8 block constant) round-trips EXACTLY:
the DCT of a constant block is a single integer DC coefficient
(8*(v-128)), so quantize/dequantize is lossless and the float64 matrix
IDCT reconstructs v to ~1e-13 before the final round — which is what
makes a SQL oracle able to replay a JPEG decode (q211).

Kernels call these per payload inside Arrow-batched ``mapInPandas`` —
decode cost parallelizes with the rows, nothing here touches Spark. The
bit-level Huffman loop is pure Python (fine at thumbnail scale, the same
trade as png.py's Paeth path; a megapixel-corpus scan wants a compiled
codec).
"""

from __future__ import annotations

import struct

import numpy as np

from .bitio import refuse_damage

# zigzag scan order: position in the zigzag sequence -> raster index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
        0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
        0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
        0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
        0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
        0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
        0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
        0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
        0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
        0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis matrix (orthonormal): D @ x @ D.T is the 2-D DCT
# with the T.81 normalization when scaled by the C(u) factors below.
_DCT_N = 8
_DCT_M = np.cos(
    (2 * np.arange(_DCT_N)[None, :] + 1)
    * np.arange(_DCT_N)[:, None] * np.pi / (2 * _DCT_N)
)
_DCT_C = np.full(_DCT_N, 0.5)
_DCT_C[0] = 0.5 / np.sqrt(2.0)
# forward: S = (C outer C) * (M @ s @ M.T); inverse: s = M.T @ (CC*S) @ M
_CC = np.outer(_DCT_C, _DCT_C)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _CC * (_DCT_M @ block @ _DCT_M.T)


def _idct(coef: np.ndarray) -> np.ndarray:
    return _DCT_M.T @ (_CC * coef) @ _DCT_M


def _build_codes(bits: list[int], vals: list[int]):
    """T.81 Annex C code generation: canonical codes per length."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return codes


def _encode_codes(bits: list[int], vals: list[int]):
    """symbol -> (code, length) for the encoder."""
    out = {}
    for (length, code), sym in _build_codes(bits, vals).items():
        out[sym] = (code, length)
    return out


# The Annex K tables are constants; building the encoder-side
# symbol->(code,length) maps per encode_jpeg call measured ~half the
# encode cost on small frames (q397 muxes 24 of them per doc). Built
# once at import.
_ENC_DC_TABLES = None
_ENC_AC_TABLES = None


def _encoder_tables():
    global _ENC_DC_TABLES, _ENC_AC_TABLES
    if _ENC_DC_TABLES is None:
        _ENC_DC_TABLES = [_encode_codes(*_DC_LUM), _encode_codes(*_DC_CHR)]
        _ENC_AC_TABLES = [_encode_codes(*_AC_LUM), _encode_codes(*_AC_CHR)]
    return _ENC_DC_TABLES, _ENC_AC_TABLES


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing and RSTn awareness (T.81 §B.1.1.5, §E.2.4)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:
                # marker reached mid-read: pad with 1-bits (spec E.2.4)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Drop partial bits and consume one RSTn marker."""
        self.acc = 0
        self.nbits = 0
        while self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00:
            self.pos += 1
        marker = self.data[self.pos + 1]
        if not (0xD0 <= marker <= 0xD7):
            raise ValueError(f"expected RSTn, got 0xFF{marker:02X}")
        self.pos += 2

    def decode_huff(self, codes) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = codes.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan data")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map magnitude bits to a signed value."""
    if t == 0:
        return 0
    return v - ((1 << t) - 1) if v < (1 << (t - 1)) else v


@refuse_damage("corrupt JPEG")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to (h, w, channels) uint8.

    Grayscale comes back (h, w, 1); 3-component scans are converted
    YCbCr->RGB per JFIF (BT.601 coefficients, rounded and clipped).
    A damaged file raises ``ValueError``.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    prog = None  # progressive coefficient store, built at SOF2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                i += 1
                if prec == 0:
                    tbl = np.frombuffer(
                        body, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(
                        body, ">u2", 64, i).astype(np.int32)
                    i += 128
                q = np.zeros(64, np.int32)
                q[ZIGZAG] = tbl
                qt[tid] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                codes = _build_codes(bits, vals)
                (huff_dc if cls == 0 else huff_ac)[tid] = codes
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec = body[0]
            if prec != 8:
                raise ValueError(f"{prec}-bit precision not supported")
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
            if frame["progressive"]:
                prog = _ProgressiveState(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"SOF{marker - 0xC0}: only baseline sequential (SOF0/1) "
                "and progressive (SOF2) are supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_map = {}
            scan_order = []
            for c in range(ns):
                cid, tt = body[1 + 2 * c:3 + 2 * c]
                scan_map[cid] = (tt >> 4, tt & 0x0F)
                scan_order.append(cid)
            ss, se, ahl = body[1 + 2 * ns:4 + 2 * ns]
            if not frame["progressive"]:
                return _decode_scan(
                    data, pos + seg_len, frame, scan_map, qt, huff_dc,
                    huff_ac, restart_interval)
            pos = prog.decode_scan(
                data, pos + seg_len, scan_order, scan_map, huff_dc,
                huff_ac, ss, se, ahl >> 4, ahl & 0x0F, restart_interval)
            continue
        pos += seg_len
    if prog is not None:
        return prog.reconstruct(qt)
    raise ValueError("no SOS marker found")


def _decode_scan(data, pos, frame, scan_map, qt, huff_dc, huff_ac,
                 restart_interval):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        pw, ph = mcus_x * 8 * c["h"], mcus_y * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))

    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.align_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_codes = huff_dc[scan_map[c["id"]][0]]
                ac_codes = huff_ac[scan_map[c["id"]][1]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = reader.decode_huff(dc_codes)
                        pred[ci] += _extend(reader.receive(t), t)
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huff(ac_codes)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = zz
                        block = _idct(coef.reshape(8, 8) * q) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            mcu_count += 1

    return _finish_image(planes, comps, h, w, hmax, vmax)


def _finish_image(planes, comps, h, w, hmax, vmax) -> np.ndarray:
    """Upsample subsampled components by replication, crop to (h, w),
    JFIF YCbCr->RGB for 3-component images, round+clip to uint8."""
    out = np.empty((h, w, len(comps)), dtype=np.float64)
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out[:, :, ci] = p[:h, :w]

    if len(comps) == 3:
        y, cb, cr = out[:, :, 0], out[:, :, 1] - 128.0, out[:, :, 2] - 128.0
        rgb = np.empty_like(out)
        rgb[:, :, 0] = y + 1.402 * cr
        rgb[:, :, 1] = y - 0.344136 * cb - 0.714136 * cr
        rgb[:, :, 2] = y + 1.772 * cb
        out = rgb
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


class _ProgressiveState:
    """Coefficient accumulator for progressive (SOF2) decoding — T.81
    Annex G. Each scan deposits DC/AC coefficient bits (spectral
    selection bands Ss..Se, successive-approximation shift Al) into a
    persistent per-component zigzag store; ``reconstruct`` dequantizes
    and inverse-transforms once all scans are in. The refinement-pass
    bit semantics follow G.1.2.3 (correction bits on nonzero-history
    coefficients, EOB-run coding across blocks)."""

    def __init__(self, frame):
        self.frame = frame
        comps = frame["comps"]
        h, w = frame["h"], frame["w"]
        self.hmax = max(c["h"] for c in comps)
        self.vmax = max(c["v"] for c in comps)
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        self.coefs = []    # (padded_by, padded_bx, 64) zigzag-order int32
        self.nblocks = []  # true (bh, bw) for non-interleaved scans
        for c in comps:
            self.coefs.append(np.zeros(
                (self.mcus_y * c["v"], self.mcus_x * c["h"], 64), np.int32))
            cw = -(-(w * c["h"]) // self.hmax)
            ch = -(-(h * c["v"]) // self.vmax)
            self.nblocks.append((-(-ch // 8), -(-cw // 8)))

    def decode_scan(self, data, pos, scan_order, scan_map, huff_dc,
                    huff_ac, ss, se, ah, al, restart_interval) -> int:
        comps = self.frame["comps"]
        idx = {c["id"]: i for i, c in enumerate(comps)}
        members = [idx[cid] for cid in scan_order]
        reader = _BitReader(data, pos)
        if ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se = 0")
            self._dc_scan(reader, members, scan_map, huff_dc, ah, al,
                          restart_interval)
        else:
            if len(members) != 1:
                raise ValueError("progressive AC scan must be "
                                 "single-component")
            self._ac_scan(reader, members[0], scan_map, huff_ac, ss, se,
                          ah, al, restart_interval)
        # skip any padding to the next marker (not a stuffed 0xFF00, not
        # an RSTn — those belong to the scan body)
        p = reader.pos
        while not (data[p] == 0xFF and data[p + 1] != 0x00
                   and not 0xD0 <= data[p + 1] <= 0xD7):
            p += 1
        return p

    def _dc_scan(self, reader, members, scan_map, huff_dc, ah, al, ri):
        comps = self.frame["comps"]
        pred = {ci: 0 for ci in members}
        interleaved = len(members) > 1

        def one_block(ci, by, bx):
            blk = self.coefs[ci][by, bx]
            if ah == 0:
                dc_codes = huff_dc[scan_map[comps[ci]["id"]][0]]
                t = reader.decode_huff(dc_codes)
                pred[ci] += _extend(reader.receive(t), t)
                blk[0] = pred[ci] << al
            elif reader.read_bit():
                blk[0] |= 1 << al

        if interleaved:
            count = 0
            for my in range(self.mcus_y):
                for mx in range(self.mcus_x):
                    if ri and count and count % ri == 0:
                        reader.align_restart()
                        for ci in members:
                            pred[ci] = 0
                    for ci in members:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                one_block(ci, my * c["v"] + by,
                                          mx * c["h"] + bx)
                    count += 1
        else:
            ci = members[0]
            bh, bw = self.nblocks[ci]
            count = 0
            for by in range(bh):
                for bx in range(bw):
                    if ri and count and count % ri == 0:
                        reader.align_restart()
                        pred[ci] = 0
                    one_block(ci, by, bx)
                    count += 1

    def _ac_scan(self, reader, ci, scan_map, huff_ac, ss, se, ah, al, ri):
        comps = self.frame["comps"]
        ac_codes = huff_ac[scan_map[comps[ci]["id"]][1]]
        bh, bw = self.nblocks[ci]
        eobrun = 0
        count = 0
        for by in range(bh):
            for bx in range(bw):
                if ri and count and count % ri == 0:
                    reader.align_restart()
                    eobrun = 0
                blk = self.coefs[ci][by, bx]
                if ah == 0:
                    eobrun = self._ac_first(reader, ac_codes, blk, ss, se,
                                            al, eobrun)
                else:
                    eobrun = self._ac_refine(reader, ac_codes, blk, ss, se,
                                             al, eobrun)
                count += 1

    @staticmethod
    def _ac_first(reader, ac_codes, blk, ss, se, al, eobrun) -> int:
        """G.1.2.2: first pass over an AC band — zero-run/magnitude
        coding plus EOB runs spanning whole blocks."""
        if eobrun > 0:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = reader.decode_huff(ac_codes)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("AC index past band end")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1
        return eobrun

    @staticmethod
    def _ac_refine(reader, ac_codes, blk, ss, se, al, eobrun) -> int:
        """G.1.2.3: refinement pass — newly-significant coefficients
        arrive as ±1<<Al with runs counted over zero-HISTORY positions
        only; every nonzero-history coefficient passed over contributes
        one correction bit."""
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.decode_huff(ac_codes)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.receive(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError(
                            "refinement magnitude must be 1")
                    val = p1 if reader.read_bit() else m1
                while k <= se:
                    if blk[k] != 0:
                        if reader.read_bit() and (int(blk[k]) & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:  # EOB member: correction bits only
                if blk[k] != 0 and reader.read_bit() \
                        and (int(blk[k]) & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            eobrun -= 1
        return eobrun

    def reconstruct(self, qt) -> np.ndarray:
        frame = self.frame
        comps = frame["comps"]
        planes = []
        for ci, c in enumerate(comps):
            q = qt[c["tq"]].astype(np.float64)  # raster (8, 8)
            coe = self.coefs[ci]
            bh, bw, _ = coe.shape
            raster = np.zeros((bh, bw, 64), np.float64)
            raster[:, :, ZIGZAG] = coe
            blocks = raster.reshape(bh, bw, 8, 8) * q
            # batched IDCT: s = M.T @ (CC * S) @ M over every block
            spat = np.einsum("ij,xyjk,kl->xyil", _DCT_M.T,
                             _CC[None, None] * blocks, _DCT_M) + 128.0
            planes.append(
                spat.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
        return _finish_image(planes, comps, frame["h"], frame["w"],
                             self.hmax, self.vmax)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v: int) -> tuple[int, int]:
    """(size category T, T magnitude bits) for a signed coefficient."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def encode_jpeg(arr: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """Encode (h, w) or (h, w, 3) uint8 to baseline JFIF bytes.

    4:4:4 sampling, Annex K Huffman tables. ``quant`` is an (8, 8) int
    table applied to every component; default all-ones (near-lossless:
    exact for DC-only blocks, which is what the oracle queries rely on).
    """
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if arr.dtype != np.uint8 or ch not in (1, 3):
        raise ValueError("uint8 grayscale or RGB only")
    q = (np.ones((8, 8), np.int32) if quant is None
         else np.asarray(quant, np.int32))
    if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant table must be (8,8) in 1..255")

    samples = arr.astype(np.float64)
    if ch == 3:
        r, g, b = samples[:, :, 0], samples[:, :, 1], samples[:, :, 2]
        samples = np.stack([
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ], axis=2)

    # pad to 8-px multiples by edge replication (skip the copy when the
    # dimensions are already block-aligned — the common fixture shape)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if ph == h and pw == w:
        padded = samples
    else:
        padded = np.pad(samples, ((0, ph - h), (0, pw - w), (0, 0)),
                        mode="edge")

    enc_dc, enc_ac = _encoder_tables()
    unit_q = bool((q == 1).all())

    writer = _BitWriter()
    pred = [0] * ch
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci in range(ch):
                tsel = 0 if ci == 0 else 1
                block = padded[by * 8:by * 8 + 8,
                               bx * 8:bx * 8 + 8, ci] - 128.0
                f = _fdct(block)
                coef = np.round(f if unit_q else f / q).astype(np.int64)
                zz = coef.reshape(-1)[ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                t, bits = _magnitude(diff)
                code, length = enc_dc[tsel][t]
                writer.write(code, length)
                if t:
                    writer.write(bits, t)
                # visit only the nonzero AC positions (identical bits:
                # run lengths are the index gaps)
                ac_tab = enc_ac[tsel]
                prev = 0
                for k in np.flatnonzero(zz[1:]):
                    k = int(k) + 1
                    run = k - prev - 1
                    prev = k
                    while run > 15:
                        code, length = ac_tab[0xF0]  # ZRL
                        writer.write(code, length)
                        run -= 16
                    t, bits = _magnitude(int(zz[k]))
                    code, length = ac_tab[(run << 4) | t]
                    writer.write(code, length)
                    writer.write(bits, t)
                if prev != 63:
                    code, length = ac_tab[0x00]  # EOB
                    writer.write(code, length)
    writer.flush()

    out = bytearray(b"\xff\xd8")
    # JFIF APP0
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    # DQT (table 0, 8-bit)
    zzq = q.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for ci in range(ch):
        sof += struct.pack(">BBB", ci + 1, 0x11, 0)
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT: DC/AC luminance (+ chrominance for color)
    tables = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if ch == 3:
        tables += [(0x01, _DC_CHR), (0x11, _AC_CHR)]
    for tid, (bits, vals) in tables:
        body = bytes([tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    # SOS
    sos = bytes([ch])
    for ci in range(ch):
        dc_t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (dc_t << 4) | dc_t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += writer.buf
    out += b"\xff\xd9"
    return bytes(out)


# Progressive AC scans need EOBn symbols (r<<4, r = 1..14) that the
# Annex K baseline tables do not define (which is why libjpeg always
# custom-builds Huffman tables for progressive output). This fixed table
# covers every symbol a progressive AC scan can emit — EOB0..EOB14, ZRL,
# and all (run, size 1..10) pairs — as a flat 8-bit canonical code
# (176 symbols, Kraft sum 176/256 < 1, so the table is spec-valid).
_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    [r << 4 for r in range(15)] + [0xF0]
    + [(run << 4) | s for run in range(16) for s in range(1, 11)],
)


def _component_coefs(arr: np.ndarray, q: np.ndarray):
    """Forward path shared with the progressive encoder: (h, w, ch)
    uint8 -> per-component (bh, bw, 64) zigzag-order quantized DCT
    coefficient arrays (4:4:4, edge-replication padding)."""
    h, w, ch = arr.shape
    samples = arr.astype(np.float64)
    if ch == 3:
        r, g, b = samples[:, :, 0], samples[:, :, 1], samples[:, :, 2]
        samples = np.stack([
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ], axis=2)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(samples, ((0, ph - h), (0, pw - w), (0, 0)),
                    mode="edge")
    bh, bw = ph // 8, pw // 8
    out = []
    for ci in range(ch):
        coefs = np.zeros((bh, bw, 64), np.int64)
        for by in range(bh):
            for bx in range(bw):
                block = padded[by * 8:by * 8 + 8,
                               bx * 8:bx * 8 + 8, ci] - 128.0
                coef = np.round(_fdct(block) / q).astype(np.int64)
                coefs[by, bx] = coef.reshape(-1)[ZIGZAG]
        out.append(coefs)
    return out


class _ProgWriter(_BitWriter):
    """_BitWriter plus the EOB-run bookkeeping the progressive AC
    encoder needs (G.1.2.2/G.1.2.3): an accumulated EOB run with its
    attached buffered correction bits."""

    def __init__(self, ac_enc):
        super().__init__()
        self.ac_enc = ac_enc
        self.eobrun = 0
        self.pending: list[int] = []

    def emit_eobrun(self) -> None:
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            code, length = self.ac_enc[r << 4]
            self.write(code, length)
            if r:
                self.write(self.eobrun - (1 << r), r)
        for b in self.pending:
            self.write(b, 1)
        self.eobrun = 0
        self.pending = []


def _enc_ac_first(wr: _ProgWriter, blocks, ss, se, al) -> None:
    """Encode one component's first AC pass over band Ss..Se (point
    transform: magnitudes arithmetic-shifted by Al)."""
    for blk in blocks:
        vals = []
        for k in range(ss, se + 1):
            v = int(blk[k])
            a = abs(v) >> al
            vals.append(a if v >= 0 else -a)
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            wr.eobrun += 1
            if wr.eobrun == 0x7FFF:
                wr.emit_eobrun()
            continue
        wr.emit_eobrun()
        run = 0
        for i in range(nz[-1] + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = wr.ac_enc[0xF0]  # ZRL
                wr.write(code, length)
                run -= 16
            t, bits = _magnitude(v)
            code, length = wr.ac_enc[(run << 4) | t]
            wr.write(code, length)
            wr.write(bits, t)
            run = 0
        if nz[-1] < se - ss:  # trailing zeros -> block ends an EOB run
            wr.eobrun += 1
            if wr.eobrun == 0x7FFF:
                wr.emit_eobrun()
    wr.emit_eobrun()


def _enc_ac_refine(wr: _ProgWriter, blocks, ss, se, al) -> None:
    """Encode one component's AC refinement pass (G.1.2.3): runs count
    zero-history positions; nonzero-history coefficients contribute
    buffered correction bits that trail the next emitted symbol."""
    for blk in blocks:
        absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        eob = -1
        for i, a in enumerate(absv):
            if a == 1:
                eob = i
        r = 0
        cur: list[int] = []  # correction bits since the last symbol
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                wr.emit_eobrun()
                code, length = wr.ac_enc[0xF0]  # ZRL
                wr.write(code, length)
                r -= 16
                for b in cur:
                    wr.write(b, 1)
                cur = []
            if a > 1:  # history coefficient: correction bit only
                cur.append(a & 1)
                continue
            # newly significant (+-1 at this approximation level)
            wr.emit_eobrun()
            code, length = wr.ac_enc[(r << 4) | 1]
            wr.write(code, length)
            wr.write(1 if int(blk[ss + i]) >= 0 else 0, 1)
            for b in cur:
                wr.write(b, 1)
            cur = []
            r = 0
        if r > 0 or cur:
            wr.eobrun += 1
            wr.pending.extend(cur)
            if wr.eobrun == 0x7FFF or len(wr.pending) > 900:
                wr.emit_eobrun()
    wr.emit_eobrun()


def encode_jpeg_progressive(arr: np.ndarray,
                            quant: np.ndarray | None = None,
                            ac_bands: list | None = None,
                            al_levels: int = 1) -> bytes:
    """Encode (h, w) or (h, w, 3) uint8 to PROGRESSIVE JFIF bytes
    (SOF2) with a libjpeg-shaped scan script exercising both Annex-G
    mechanisms: DC first at Al=``al_levels`` + DC refinements down to
    Al=0, then per component each AC spectral band (``ac_bands``,
    default [(1, 5), (6, 63)]; any contiguous partition of 1..63)
    first at Al=``al_levels`` + refinement scans per level down to 0.
    ``al_levels=0`` writes single full-precision scans (no successive
    approximation). Same Annex K Huffman tables and quantization
    contract as ``encode_jpeg`` — with the default all-ones table a
    DC-only image round-trips exactly (the q233 oracle fact), and for
    ANY image the decoded pixels must equal the sequential encoder's
    (test_jpeg.py scan-script fuzz)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if arr.dtype != np.uint8 or ch not in (1, 3):
        raise ValueError("uint8 grayscale or RGB only")
    q = (np.ones((8, 8), np.int32) if quant is None
         else np.asarray(quant, np.int32))
    if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant table must be (8,8) in 1..255")

    comps = _component_coefs(arr, q)
    bh, bw, _ = comps[0].shape
    enc_dc = [_encode_codes(*_DC_LUM), _encode_codes(*_DC_CHR)]
    enc_ac_prog = _encode_codes(*_AC_PROG)

    def dc_scan(al):  # interleaved first DC pass, Ah=0
        writer = _BitWriter()
        pred = [0] * ch
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ch):
                    tsel = 0 if ci == 0 else 1
                    dc = int(comps[ci][by, bx, 0]) >> al
                    diff = dc - pred[ci]
                    pred[ci] = dc
                    t, bits = _magnitude(diff)
                    code, length = enc_dc[tsel][t]
                    writer.write(code, length)
                    if t:
                        writer.write(bits, t)
        writer.flush()
        header = bytes([ch])
        for ci in range(ch):
            header += bytes([ci + 1, (0 if ci == 0 else 1) << 4])
        return header + bytes([0, 0, 0 << 4 | al]), writer.buf

    def dc_refine(ah, al):
        writer = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ch):
                    writer.write((int(comps[ci][by, bx, 0]) >> al) & 1, 1)
        writer.flush()
        header = bytes([ch])
        for ci in range(ch):
            header += bytes([ci + 1, 0])
        return header + bytes([0, 0, (ah << 4) | al]), writer.buf

    def ac_scan(ci, ss, se, ah, al):
        tsel = 0 if ci == 0 else 1
        wr = _ProgWriter(enc_ac_prog)
        blocks = [comps[ci][by, bx]
                  for by in range(bh) for bx in range(bw)]
        if ah == 0:
            _enc_ac_first(wr, blocks, ss, se, al)
        else:
            _enc_ac_refine(wr, blocks, ss, se, al)
        wr.flush()
        header = bytes([1, ci + 1, tsel])
        return header + bytes([ss, se, (ah << 4) | al]), wr.buf

    bands = list(ac_bands) if ac_bands is not None else [(1, 5), (6, 63)]
    if al_levels < 0:
        raise ValueError("al_levels must be >= 0")
    cover = []
    for ss, se in bands:
        if not (1 <= ss <= se <= 63):
            raise ValueError(f"bad AC band ({ss}, {se})")
        cover.extend(range(ss, se + 1))
    if sorted(cover) != list(range(1, 64)) or len(cover) != 63:
        raise ValueError("ac_bands must partition 1..63 exactly")

    scans = [dc_scan(al_levels)]
    for al in range(al_levels - 1, -1, -1):
        scans.append(dc_refine(al + 1, al))
    for ci in range(ch):
        for ss, se in bands:
            scans.append(ac_scan(ci, ss, se, 0, al_levels))
    for al in range(al_levels - 1, -1, -1):
        for ci in range(ch):
            for ss, se in bands:
                scans.append(ac_scan(ci, ss, se, al + 1, al))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    zzq = q.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for ci in range(ch):
        sof += struct.pack(">BBB", ci + 1, 0x11, 0)
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    tables = [(0x00, _DC_LUM), (0x10, _AC_PROG)]
    if ch == 3:
        tables += [(0x01, _DC_CHR), (0x11, _AC_PROG)]
    for tid, (bits, vals) in tables:
        body = bytes([tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    for header, payload in scans:
        out += b"\xff\xda" + struct.pack(">H", len(header) + 2) + header
        out += payload
    out += b"\xff\xd9"
    return bytes(out)
