"""CCITT Group 4 (ITU-T T.6 / MMR) codec for 1-bit TIFF tiles.

The reference's boolean layers write NBITS=1 + CCITTFAX4
(``gfw_pixetl/data_type.py:122-124`` via GDAL); this module implements
the same two-dimensional Modified Modified READ coding from the public
T.6 recommendation so the COG writer can emit genuinely fax-compressed
boolean tiles instead of falling back to NONE.

Model (T.6 §2): each line is coded against the line above (the first
line against an imaginary all-white line) using three modes —

* **pass** (``0001``): the reference line's run ends before the coding
  line's next change; skip to b2.
* **vertical** (V0/VR1-3/VL1-3): the coding change a1 lands within 3
  pixels of the reference change b1.
* **horizontal** (``001`` + two T.4 run-length codes): everything else;
  the two runs are coded with the Terminating/Make-up code tables from
  T.4 §4.1 (white and black trees, shared extended make-ups to 2560,
  longer runs chain 2560-makeups).

TIFF framing (TIFF 6.0, Compression=4): each tile/strip is an
independent MMR stream, MSB-first bit order (FillOrder 1), no EOLs; we
append the optional EOFB like libtiff/GDAL do. 0-bits are white when
PhotometricInterpretation is MINISWHITE — the caller maps sample values
to black/white (geotiff.py handles both photometrics).

Everything here is per-tile CPU work inside the existing write/read
kernels — nothing touches Spark.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

from .bitio import MsbReader, MsbWriter

# --- T.4 §4.1 run-length code tables: run -> (code_value, bit_length) ---
_WHITE_CODES = {
    0: (0b00110101, 8), 1: (0b000111, 6), 2: (0b0111, 4), 3: (0b1000, 4),
    4: (0b1011, 4), 5: (0b1100, 4), 6: (0b1110, 4), 7: (0b1111, 4),
    8: (0b10011, 5), 9: (0b10100, 5), 10: (0b00111, 5), 11: (0b01000, 5),
    12: (0b001000, 6), 13: (0b000011, 6), 14: (0b110100, 6),
    15: (0b110101, 6), 16: (0b101010, 6), 17: (0b101011, 6),
    18: (0b0100111, 7), 19: (0b0001100, 7), 20: (0b0001000, 7),
    21: (0b0010111, 7), 22: (0b0000011, 7), 23: (0b0000100, 7),
    24: (0b0101000, 7), 25: (0b0101011, 7), 26: (0b0010011, 7),
    27: (0b0100100, 7), 28: (0b0011000, 7), 29: (0b00000010, 8),
    30: (0b00000011, 8), 31: (0b00011010, 8), 32: (0b00011011, 8),
    33: (0b00010010, 8), 34: (0b00010011, 8), 35: (0b00010100, 8),
    36: (0b00010101, 8), 37: (0b00010110, 8), 38: (0b00010111, 8),
    39: (0b00101000, 8), 40: (0b00101001, 8), 41: (0b00101010, 8),
    42: (0b00101011, 8), 43: (0b00101100, 8), 44: (0b00101101, 8),
    45: (0b00000100, 8), 46: (0b00000101, 8), 47: (0b00001010, 8),
    48: (0b00001011, 8), 49: (0b01010010, 8), 50: (0b01010011, 8),
    51: (0b01010100, 8), 52: (0b01010101, 8), 53: (0b00100100, 8),
    54: (0b00100101, 8), 55: (0b01011000, 8), 56: (0b01011001, 8),
    57: (0b01011010, 8), 58: (0b01011011, 8), 59: (0b01001010, 8),
    60: (0b01001011, 8), 61: (0b00110010, 8), 62: (0b00110011, 8),
    63: (0b00110100, 8),
    # make-up codes
    64: (0b11011, 5), 128: (0b10010, 5), 192: (0b010111, 6),
    256: (0b0110111, 7), 320: (0b00110110, 8), 384: (0b00110111, 8),
    448: (0b01100100, 8), 512: (0b01100101, 8), 576: (0b01101000, 8),
    640: (0b01100111, 8), 704: (0b011001100, 9), 768: (0b011001101, 9),
    832: (0b011010010, 9), 896: (0b011010011, 9), 960: (0b011010100, 9),
    1024: (0b011010101, 9), 1088: (0b011010110, 9),
    1152: (0b011010111, 9), 1216: (0b011011000, 9),
    1280: (0b011011001, 9), 1344: (0b011011010, 9),
    1408: (0b011011011, 9), 1472: (0b010011000, 9),
    1536: (0b010011001, 9), 1600: (0b010011010, 9), 1664: (0b011000, 6),
    1728: (0b010011011, 9),
}
_BLACK_CODES = {
    0: (0b0000110111, 10), 1: (0b010, 3), 2: (0b11, 2), 3: (0b10, 2),
    4: (0b011, 3), 5: (0b0011, 4), 6: (0b0010, 4), 7: (0b00011, 5),
    8: (0b000101, 6), 9: (0b000100, 6), 10: (0b0000100, 7),
    11: (0b0000101, 7), 12: (0b0000111, 7), 13: (0b00000100, 8),
    14: (0b00000111, 8), 15: (0b000011000, 9), 16: (0b0000010111, 10),
    17: (0b0000011000, 10), 18: (0b0000001000, 10),
    19: (0b00001100111, 11), 20: (0b00001101000, 11),
    21: (0b00001101100, 11), 22: (0b00000110111, 11),
    23: (0b00000101000, 11), 24: (0b00000010111, 11),
    25: (0b00000011000, 11), 26: (0b000011001010, 12),
    27: (0b000011001011, 12), 28: (0b000011001100, 12),
    29: (0b000011001101, 12), 30: (0b000001101000, 12),
    31: (0b000001101001, 12), 32: (0b000001101010, 12),
    33: (0b000001101011, 12), 34: (0b000011010010, 12),
    35: (0b000011010011, 12), 36: (0b000011010100, 12),
    37: (0b000011010101, 12), 38: (0b000011010110, 12),
    39: (0b000011010111, 12), 40: (0b000001101100, 12),
    41: (0b000001101101, 12), 42: (0b000011011010, 12),
    43: (0b000011011011, 12), 44: (0b000001010100, 12),
    45: (0b000001010101, 12), 46: (0b000001010110, 12),
    47: (0b000001010111, 12), 48: (0b000001100100, 12),
    49: (0b000001100101, 12), 50: (0b000001010010, 12),
    51: (0b000001010011, 12), 52: (0b000000100100, 12),
    53: (0b000000110111, 12), 54: (0b000000111000, 12),
    55: (0b000000100111, 12), 56: (0b000000101000, 12),
    57: (0b000001011000, 12), 58: (0b000001011001, 12),
    59: (0b000000101011, 12), 60: (0b000000101100, 12),
    61: (0b000001011010, 12), 62: (0b000001100110, 12),
    63: (0b000001100111, 12),
    # make-up codes
    64: (0b0000001111, 10), 128: (0b000011001000, 12),
    192: (0b000011001001, 12), 256: (0b000001011011, 12),
    320: (0b000000110011, 12), 384: (0b000000110100, 12),
    448: (0b000000110101, 12), 512: (0b0000001101100, 13),
    576: (0b0000001101101, 13), 640: (0b0000001001010, 13),
    704: (0b0000001001011, 13), 768: (0b0000001001100, 13),
    832: (0b0000001001101, 13), 896: (0b0000001110010, 13),
    960: (0b0000001110011, 13), 1024: (0b0000001110100, 13),
    1088: (0b0000001110101, 13), 1152: (0b0000001110110, 13),
    1216: (0b0000001110111, 13), 1280: (0b0000001010010, 13),
    1344: (0b0000001010011, 13), 1408: (0b0000001010100, 13),
    1472: (0b0000001010101, 13), 1536: (0b0000001011010, 13),
    1600: (0b0000001011011, 13), 1664: (0b0000001100100, 13),
    1728: (0b0000001100101, 13),
}
# extended make-ups 1792-2560 are shared by both colors (T.4 table 3)
_EXT_MAKEUP = {
    1792: (0b00000001000, 11), 1856: (0b00000001100, 11),
    1920: (0b00000001101, 11), 1984: (0b000000010010, 12),
    2048: (0b000000010011, 12), 2112: (0b000000010100, 12),
    2176: (0b000000010101, 12), 2240: (0b000000010110, 12),
    2304: (0b000000010111, 12), 2368: (0b000000011100, 12),
    2432: (0b000000011101, 12), 2496: (0b000000011110, 12),
    2560: (0b000000011111, 12),
}
for _t in (_WHITE_CODES, _BLACK_CODES):
    _t.update(_EXT_MAKEUP)

# T.6 §2.2.4 mode codes
_MODE_PASS = (0b0001, 4)
_MODE_HORIZ = (0b001, 3)
_MODE_V = {0: (0b1, 1), 1: (0b011, 3), 2: (0b000011, 6),
           3: (0b0000011, 7), -1: (0b010, 3), -2: (0b000010, 6),
           -3: (0b0000010, 7)}

# decoder lookups: a flat table over every _WIN-bit window holding the
# (value, bit_length) of the code word the window starts with, or None.
# The longest T.4/T.6 code word is 13 bits, so one lookup decodes any.
_WIN = 14


def _lookup(codes) -> list:
    table: list = [None] * (1 << _WIN)
    for value, (code, n) in codes.items():
        span = 1 << (_WIN - n)
        start = code << (_WIN - n)
        table[start:start + span] = [(value, n)] * span
    return table


_WHITE_DEC = _lookup(_WHITE_CODES)
_BLACK_DEC = _lookup(_BLACK_CODES)
_MODE_CODES = {("v", d): cn for d, cn in _MODE_V.items()}
_MODE_CODES[("pass", 0)] = _MODE_PASS
_MODE_CODES[("h", 0)] = _MODE_HORIZ
# EOFB prefix: 000000000001 (the V-code space never reaches 12 zeros)
_MODE_CODES[("eol", 0)] = (0b000000000001, 12)
_MODE_DEC = _lookup(_MODE_CODES)


def _put_run(bits: MsbWriter, run: int, table) -> None:
    while run >= 2624:  # chain max make-ups for very wide runs
        code, n = table[2560]
        bits.write(code, n)
        run -= 2560
    if run >= 64:
        makeup = (run // 64) * 64
        code, n = table[makeup]
        bits.write(code, n)
        run -= makeup
    code, n = table[run]
    bits.write(code, n)


def _changes(row: np.ndarray) -> list[int]:
    """Changing-element positions (T.4 §4.2.1.3.1): pixels whose color
    differs from the one to their left (imaginary white at -1)."""
    prev = np.concatenate([[False], row[:-1]])
    return np.nonzero(row != prev)[0].tolist()


def g4_encode(black: np.ndarray) -> bytes:
    """Encode a (h, w) boolean matrix (True = black) as a T.6 stream."""
    h, w = black.shape
    bits = MsbWriter()
    ref: list[int] = []
    for r in range(h):
        cur = _changes(black[r])
        a0 = -1
        color_white = True
        ci = 0  # index into cur of the next candidate a1
        while a0 < w:
            # a1: next coding-line change > a0 toward !color. cur
            # alternates (even idx = white->black), so parity selects.
            want = 0 if color_white else 1
            while ci < len(cur) and (cur[ci] <= a0 or ci % 2 != want):
                ci += 1
            a1 = cur[ci] if ci < len(cur) else w
            # b1: first reference change > a0 with the same transition
            # sense; b2 the one after it.
            bi = 0
            while bi < len(ref) and (ref[bi] <= a0 or bi % 2 != want):
                bi += 1
            b1 = ref[bi] if bi < len(ref) else w
            b2 = ref[bi + 1] if bi + 1 < len(ref) else w
            if b2 < a1:
                bits.write(*_MODE_PASS)
                a0 = b2
            elif -3 <= a1 - b1 <= 3:
                bits.write(*_MODE_V[a1 - b1])
                a0 = a1
                color_white = not color_white
                ci += 1
            else:
                a2 = cur[ci + 1] if ci + 1 < len(cur) else w
                bits.write(*_MODE_HORIZ)
                start = a0 if a0 >= 0 else 0
                first = _WHITE_CODES if color_white else _BLACK_CODES
                second = _BLACK_CODES if color_white else _WHITE_CODES
                _put_run(bits, a1 - start, first)
                _put_run(bits, a2 - a1, second)
                a0 = a2
                ci += 2
        ref = cur
    bits.write(0b000000000001, 12)  # EOFB = two EOLs (optional per TIFF,
    bits.write(0b000000000001, 12)  # emitted for libtiff compatibility)
    return bits.getvalue()


class _EndOfStream(ValueError):
    """The bits ran out before a code word was complete."""


def _read_code(rd: MsbReader, table):
    avail = rd.end - rd.pos
    if avail > _WIN:
        avail = _WIN
    # the next avail bits, zero-padded to a full window
    hit = table[rd.read(avail) << (_WIN - avail)]
    if hit is None or hit[1] > avail:
        if avail < _WIN:
            raise _EndOfStream("ccitt: truncated bitstream")
        raise ValueError("invalid T.6 code word")
    rd.pos -= avail - hit[1]
    return hit[0]


def _read_run(rd: MsbReader, white: bool) -> int:
    table = _WHITE_DEC if white else _BLACK_DEC
    total = 0
    while True:
        run = _read_code(rd, table)
        total += run
        if run < 64 or (run % 64 != 0):
            return total
        # make-up (multiple of 64 and >= 64): a terminating code follows


def g4_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Decode a T.6 stream to a (height, width) boolean matrix
    (True = black)."""
    rd = MsbReader(data, "ccitt")
    out = np.zeros((height, width), dtype=bool)
    ref: list[int] = []
    for r in range(height):
        # b1 is the first changing element of the reference line right of
        # a0 with the opposite colour. Every well-formed stream has a
        # sorted reference line, where bisection finds it; a malformed
        # one keeps the linear scan.
        ref_sorted = all(x <= y for x, y in zip(ref, ref[1:]))
        cur: list[int] = []
        a0 = -1
        color_white = True
        while a0 < width:
            try:
                mode, d = _read_code(rd, _MODE_DEC)
            except _EndOfStream:
                if a0 <= 0 and not cur:
                    break  # stream ended exactly at a row boundary
                raise
            if mode == "eol":
                break
            want = 0 if color_white else 1
            if ref_sorted:
                bi = bisect_right(ref, a0)
                if bi % 2 != want:
                    bi += 1
            else:
                bi = 0
                while bi < len(ref) and (ref[bi] <= a0 or bi % 2 != want):
                    bi += 1
            b1 = ref[bi] if bi < len(ref) else width
            b2 = ref[bi + 1] if bi + 1 < len(ref) else width
            if mode == "pass":
                a0 = b2
            elif mode == "v":
                a1 = b1 + d
                if 0 <= a1 < width:  # a change AT width is row end,
                    cur.append(a1)   # not a changing element
                a0 = a1
                color_white = not color_white
            else:  # horizontal
                start = a0 if a0 >= 0 else 0
                r1 = _read_run(rd, color_white)
                r2 = _read_run(rd, not color_white)
                if start + r1 < width:
                    cur.append(start + r1)
                if start + r1 + r2 < width:
                    cur.append(start + r1 + r2)
                a0 = start + r1 + r2
        # paint the row from its changing elements
        marks = np.zeros(width + 1, dtype=np.int8)
        for i, p in enumerate(cur):
            if p < width:
                marks[p] += 1 if i % 2 == 0 else -1
        out[r] = np.cumsum(marks[:-1]) > 0
        ref = cur
    return out
