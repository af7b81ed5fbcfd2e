"""Pure-Python PNG codec — the image-decode leaf of the multimodal
family, real instead of stubbed (same move as the GeoTIFF codec in
``sources/geotiff.py``: the container format is public, so implement it
from the spec rather than gating on PIL).

Scope: the PNG core from the W3C spec (RFC 2083 / ISO 15948) that a
training-data pipeline actually hits — 8/16-bit grayscale, gray+alpha,
RGB, RGBA, palette (PLTE, expanded to RGB on decode), all five scanline
filters (None/Sub/Up/Average/Paeth), Adam7 interlacing (decode), single
IDAT-or-split streams, CRC-validated chunks. JPEG and friends remain
codec-gated in ``functions/multimodal.py``.

Kernels call these per payload inside Arrow-batched ``mapInPandas`` —
decode cost parallelizes with the rows, nothing here touches Spark.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bitio import refuse_damage

_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> channels
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> color type


def _chunk(tag: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(tag + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)


def encode_png(
    arr: np.ndarray, *, filter_type: int = 1, level: int = 6
) -> bytes:
    """Encode (h, w) or (h, w, channels) uint8/uint16 to PNG bytes.

    ``filter_type`` applies one filter to every scanline (0=None 1=Sub
    2=Up 3=Average 4=Paeth) — exercising real filter paths on decode.
    """
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {ch}")
    if arr.dtype == np.uint8:
        depth = 8
    elif arr.dtype == np.uint16:
        depth = 16
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8/uint16)")
    bpp = ch * depth // 8  # bytes per pixel
    raw_rows = arr.astype(">u2" if depth == 16 else "u1").tobytes()
    stride = w * bpp

    # The encode side has NO cross-row sequential dependency (filters
    # predict from RAW neighbor bytes, unlike decode's unfilter), so the
    # whole image filters in one vectorized pass: shift the (h, stride)
    # byte matrix down/right/diagonally to get up/left/upper-left.
    cur = np.frombuffer(raw_rows, dtype=np.uint8).reshape(
        h, stride).astype(np.int16)
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    left = np.zeros_like(cur)
    left[:, bpp:] = cur[:, :-bpp]
    ul = np.zeros_like(cur)
    ul[1:, bpp:] = cur[:-1, :-bpp]
    if filter_type == 0:
        enc = cur
    elif filter_type == 1:
        enc = cur - left
    elif filter_type == 2:
        enc = cur - up
    elif filter_type == 3:
        enc = cur - (left + up) // 2
    elif filter_type == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul))
        enc = cur - pred
    else:
        raise ValueError(f"bad filter {filter_type}")
    scan = np.empty((h, 1 + stride), dtype=np.uint8)
    scan[:, 0] = filter_type
    scan[:, 1:] = enc & 0xFF
    out = scan.tobytes()

    ihdr = struct.pack(">IIBBBBB", w, h, depth, _COLOR_TYPE[ch], 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(out, level))
            + _chunk(b"IEND", b""))


# Adam7 pass origins/steps ((x0, y0, dx, dy), PNG spec §8.2)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(raw: bytes, height: int, stride: int, bpp: int,
              offset: int = 0) -> np.ndarray:
    """Reverse per-scanline filtering for ``height`` rows of ``stride``
    bytes starting at ``offset`` (each row prefixed by its filter byte).
    Returns (height, stride) uint8.

    Cost note: None/Sub/Up rows are fully vectorized; Average and Paeth
    carry a true left-to-right data dependency, so those rows fall back
    to a per-byte loop — fine for the thumbnail-scale payloads the
    kernels process, slow for megapixel Paeth-heavy images (a real
    image-corpus scan should re-encode once or extend these two to a
    compiled path).
    """
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int16)
    for r in range(height):
        base = offset + r * (stride + 1)
        ft = raw[base]
        cur = np.frombuffer(raw, dtype=np.uint8, count=stride,
                            offset=base + 1).astype(np.int16)
        if ft == 0:
            rec = cur
        elif ft == 1:
            # Sub: cumulative sum per bpp lane (wraps mod 256 natively)
            lanes = cur.astype(np.uint8)[:(stride // bpp) * bpp].reshape(
                -1, bpp)
            acc = np.add.accumulate(lanes, axis=0, dtype=np.uint8)
            rec = np.concatenate(
                [acc.reshape(-1),
                 cur.astype(np.uint8)[(stride // bpp) * bpp:]]
            ).astype(np.int16)
        elif ft == 2:
            rec = (cur + prev) & 0xFF
        elif ft == 3:
            rec = cur.copy()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:
            rec = cur.copy()
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter byte {ft}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    return out


@refuse_damage("corrupt PNG")
def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes to (h, w, channels) uint8/uint16; palette images
    come back expanded to RGB. Damaged bytes raise ``ValueError``."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = depth = ctype = interlace = None
    idat = bytearray()
    plte = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if comp or filt:
                raise ValueError("non-standard compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            if depth not in (8, 16) or (ctype == 3 and depth != 8):
                raise ValueError(f"bit depth {depth} not supported")
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    if ctype == 3 and plte is None:
        raise ValueError("palette image without PLTE chunk")
    ch = 1 if ctype == 3 else _CHANNELS[ctype]
    bpp = ch * depth // 8
    raw = zlib.decompress(bytes(idat))

    if interlace == 0:
        stride = width * bpp
        if len(raw) != height * (stride + 1):
            raise ValueError("IDAT length mismatch")
        flat = _unfilter(raw, height, stride, bpp).reshape(-1)
    elif interlace == 1:
        # Adam7: seven independently-filtered sub-images, scattered back
        # onto the full grid by each pass's origin/step (spec §8.2)
        flat = np.empty(height * width * bpp, dtype=np.uint8)
        grid = flat.reshape(height, width, bpp)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            pstride = pw * bpp
            sub = _unfilter(raw, ph, pstride, bpp, offset)
            offset += ph * (pstride + 1)
            grid[y0::dy, x0::dx, :] = sub.reshape(ph, pw, bpp)
        if offset != len(raw):
            raise ValueError("IDAT length mismatch (interlaced)")
    else:
        raise ValueError(f"unknown interlace method {interlace}")

    if depth == 16:
        img = flat.reshape(height, width, ch * 2).reshape(-1).view(
            ">u2").astype(np.uint16).reshape(height, width, ch)
    else:
        img = flat.reshape(height, width, ch)
    if ctype == 3:
        img = plte[img[:, :, 0]]
    return img
