"""Pure-Python WebP lossless (VP8L) codec — implemented from the public
"WebP Lossless Bitstream Specification" (Google, 2012; now shipped as
RFC 9649's companion spec), the same discipline as ``sources/flac.py``
(RFC 9639) and ``sources/gif.py``: modern image corpora ship WebP, so
the multimodal column needs a native decode path instead of a PIL gate.

Decoder scope — the full lossless feature set:

- RIFF/WEBP container with a VP8L chunk (and bare VP8L streams);
- canonical prefix codes, both the "simple" 1/2-symbol form and the
  code-length-coded form (19-symbol CLC in the spec's reorder table,
  repeat codes 16/17/18, the optional max_symbol early-out);
- LZ77 backward references with the spec's length/distance prefix-value
  scheme, the 120-entry 2D distance map for near pixels, and the color
  cache (the 0x1e35a7bd multiplicative hash);
- meta prefix codes (an entropy image selecting per-tile code groups);
- all four transforms, applied inverse in reverse bitstream order:
  predictor (all 14 modes incl. Select and the ClampAddSubtract pair),
  cross-channel color transform (signed fixed-point deltas), subtract
  green, and color indexing with sub-byte pixel bundling.

The encoder emits genuinely compressed streams (subtract-green, color
cache, greedy LZ77 over the linear pixel sequence, package-merge
length-limited prefix codes reusing ``zstd._pm_lengths``) and can be
forced through the palette path; every stream it writes decodes through
the decoder above, and hypothesis round trips in tests/test_webp.py
keep the pair honest. Lossy VP8 chunks are out of scope — declared,
not stubbed (``decode_webp`` raises with the reason).

The 2D distance-map table is generated from the spec's ordering of the
(dx, dy) near-pixel neighborhood (distance ascending, upper rows first,
small |dx| first, +dx before -dx); the generated prefix matches the
table printed in the spec.
"""

from __future__ import annotations

import struct

import numpy as np

# VP8L packs bits LSB-first within bytes; prefix codes are read
# MSB-of-code first (the DEFLATE convention).
from .bitio import LsbReader, LsbWriter
from .zstd import _pm_lengths

# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

# code-length-code symbol transmission order (spec section 6.2.2)
CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15]


def _build_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical code assignment: symbol -> (code, length), codes
    increasing over (length, symbol)."""
    codes: dict[int, tuple[int, int]] = {}
    code, prev = 0, 0
    for ln, sym in sorted((l, s) for s, l in enumerate(lengths) if l):
        code <<= ln - prev
        codes[sym] = (code, ln)
        code += 1
        prev = ln
    return codes


def _build_decode(lengths: list[int]):
    """Decode table: {(length, code): symbol}, or a bare int for a
    trivial 0-bit code (single symbol)."""
    nonzero = [(s, l) for s, l in enumerate(lengths) if l]
    if len(nonzero) == 1 and nonzero[0][1] == 0:
        return nonzero[0][0]
    return {(ln, c): s for s, (c, ln) in _build_codes(lengths).items()}


def _read_code(table, br: LsbReader) -> int:
    if isinstance(table, int):
        return table
    code = length = 0
    while length <= 15:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("VP8L: invalid prefix code in stream")


def _read_prefix_code(br: LsbReader, alphabet_size: int):
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        sym0 = br.read(8) if br.read(1) else br.read(1)
        if num_symbols == 1:
            return sym0  # trivial: consumes 0 bits per symbol
        sym1 = br.read(8)
        return {(1, 0): sym0, (1, 1): sym1}
    # code-length-coded
    clc_lengths = [0] * 19
    num_codes = 4 + br.read(4)
    for i in range(num_codes):
        clc_lengths[CLC_ORDER[i]] = br.read(3)
    clc = _build_decode(clc_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("VP8L: max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len, symbol = 8, 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = _read_code(clc, br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L: code-length repeat overflows")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _build_decode(lengths)


# --------------------------------------------------------------------------
# LZ77 prefix-value scheme + the 2D distance map
# --------------------------------------------------------------------------


def _prefix_value(code: int, br: LsbReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix_code, extra_bits_value, extra_bits_count)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra = hi - 1
    code = 2 * hi + ((v >> extra) & 1)
    return code, v & ((1 << extra) - 1), extra


def _gen_distance_map() -> list[tuple[int, int]]:
    """The 120 near-pixel (dx, dy) codes: dy 0..7, dx -7..8 (dy=0 needs
    dx>=1), ordered by distance then upper-row/small-|dx|/+dx-first."""
    pts = []
    for dy in range(8):
        for dx in range(-7, 9):
            if dy == 0 and dx < 1:
                continue
            pts.append((dx, dy))
    pts.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], abs(p[0]),
                            0 if p[0] > 0 else 1))
    return pts[:120]


DIST_MAP = _gen_distance_map()
_DIST_CODE = {p: i + 1 for i, p in enumerate(DIST_MAP)}


def _plane_to_distance(w: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = DIST_MAP[code - 1]
    return max(dy * w + dx, 1)


def _distance_to_plane(w: int, dist: int) -> int:
    dy, dx = divmod(dist, w)
    if dx > w - 8 and dy < 7:  # negative-dx form of the same offset
        dx, dy = dx - w, dy + 1
    code = _DIST_CODE.get((dx, dy))
    return code if code is not None else dist + 120


def _hash_pixel(pix: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * pix) & 0xFFFFFFFF) >> (32 - cache_bits)


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

_GREEN, _RED, _BLUE, _ALPHA = 8, 16, 0, 24  # ARGB channel shifts


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_entropy_image(br: LsbReader, w: int, h: int,
                          is_level0: bool) -> list[int]:
    transforms = []
    if is_level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L: duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract green
                transforms.append(("subgreen",))
            elif ttype in (0, 1):  # predictor / color transform
                size_bits = br.read(3) + 2
                sub = _decode_entropy_image(
                    br, _sub_size(w, size_bits), _sub_size(h, size_bits),
                    False)
                transforms.append(
                    ("predict" if ttype == 0 else "color", size_bits, sub))
            else:  # color indexing
                psize = br.read(8) + 1
                raw = _decode_entropy_image(br, psize, 1, False)
                palette, acc = [], 0
                for p in raw:  # per-channel delta accumulation
                    acc = (((acc & 0xFF00FF00) + (p & 0xFF00FF00))
                           & 0xFF00FF00) | \
                          (((acc & 0x00FF00FF) + (p & 0x00FF00FF))
                           & 0x00FF00FF)
                    palette.append(acc)
                width_bits = (3 if psize <= 2 else 2 if psize <= 4
                              else 1 if psize <= 16 else 0)
                transforms.append(("palette", palette, width_bits, w))
                if width_bits:
                    w = _sub_size(w, width_bits)

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L: color-cache bits out of range")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    hbits = 0
    n_groups = 1
    if is_level0 and br.read(1):
        hbits = br.read(3) + 2
        mw = _sub_size(w, hbits)
        meta_img = _decode_entropy_image(
            br, mw, _sub_size(h, hbits), False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]
        n_groups = max(meta) + 1
        meta_w = mw

    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))

    n = w * h
    pixels = [0] * n
    cache = [0] * cache_size
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[meta[(y >> hbits) * meta_w + (x >> hbits)]]
        else:
            g = groups[0]
        s = _read_code(g[0], br)
        if s < 256:  # literal: G then R, B, A
            red = _read_code(g[1], br)
            blue = _read_code(g[2], br)
            alpha = _read_code(g[3], br)
            pix = ((alpha << _ALPHA) | (red << _RED) | (s << _GREEN)
                   | blue)
            pixels[pos] = pix
            if cache_size:
                cache[_hash_pixel(pix, cache_bits)] = pix
            pos += 1
        elif s < 256 + 24:  # backward reference
            length = _prefix_value(s - 256, br)
            dist = _plane_to_distance(w, _prefix_value(
                _read_code(g[4], br), br))
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backref out of bounds")
            for _ in range(length):
                pix = pixels[pos - dist]
                pixels[pos] = pix
                if cache_size:
                    cache[_hash_pixel(pix, cache_bits)] = pix
                pos += 1
        else:  # color-cache hit
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("VP8L: cache index out of range")
            pixels[pos] = cache[idx]
            pos += 1

    for t in reversed(transforms):
        if t[0] == "subgreen":
            _inv_subtract_green(pixels)
        elif t[0] == "predict":
            _inv_predictor(pixels, w, h, t[1], t[2])
        elif t[0] == "color":
            _inv_color_transform(pixels, w, h, t[1], t[2])
        else:
            pixels = _inv_palette(pixels, w, h, t[1], t[2], t[3])
            w = t[3]
    return pixels


def _inv_subtract_green(pixels: list[int]) -> None:
    for i, p in enumerate(pixels):
        g = (p >> _GREEN) & 0xFF
        r = ((p >> _RED) + g) & 0xFF
        b = ((p >> _BLUE) + g) & 0xFF
        pixels[i] = (p & 0xFF00FF00) | (r << _RED) | b


def _i8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    return (_i8(t) * _i8(c)) >> 5


def _inv_color_transform(pixels: list[int], w: int, h: int,
                         size_bits: int, sub: list[int]) -> None:
    sw = _sub_size(w, size_bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = sub[(y >> size_bits) * sw + (x >> size_bits)]
            g2r = (e >> _BLUE) & 0xFF
            g2b = (e >> _GREEN) & 0xFF
            r2b = (e >> _RED) & 0xFF
            p = pixels[i]
            g = (p >> _GREEN) & 0xFF
            r = (((p >> _RED) & 0xFF) + _ct_delta(g2r, g)) & 0xFF
            b = ((p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            pixels[i] = (p & 0xFF00FF00) | (r << _RED) | b


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _add_pixels(a: int, b: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        out |= ((((a >> sh) & 0xFF) + ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _sub_pixels(a: int, b: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        out |= ((((a >> sh) & 0xFF) - ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        a = (((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)) >> 1
        d = a - ((tl >> sh) & 0xFF)
        half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc division
        out |= max(0, min(255, a + half)) << sh
    return out


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for sh in (0, 8, 16, 24):
        p = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pl += abs(p - ((l >> sh) & 0xFF))
        pt += abs(p - ((t >> sh) & 0xFF))
    return l if pl < pt else t  # ties go to TOP (spec + libwebp)


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"VP8L: predictor mode {mode} out of range")


def _pred_at(pixels: list[int], w: int, pos: int, mode: int) -> int:
    """Prediction for position ``pos`` using linear-index neighbors (the
    rightmost column's top-right wraps to the current row's first pixel,
    matching the spec's row-major definition)."""
    if pos == 0:
        return 0xFF000000
    if pos < w:  # first row: left
        return pixels[pos - 1]
    if pos % w == 0:  # first column: top
        return pixels[pos - w]
    return _predict(mode, pixels[pos - 1], pixels[pos - w],
                    pixels[pos - w - 1], pixels[pos - w + 1])


def _inv_predictor(pixels: list[int], w: int, h: int, size_bits: int,
                   sub: list[int]) -> None:
    sw = _sub_size(w, size_bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        mode = (sub[(y >> size_bits) * sw + (x >> size_bits)]
                >> _GREEN) & 0xFF
        pixels[pos] = _add_pixels(pixels[pos],
                                  _pred_at(pixels, w, pos, mode))


def _inv_palette(pixels: list[int], w: int, h: int, palette: list[int],
                 width_bits: int, full_w: int) -> list[int]:
    if not width_bits:
        out = []
        for p in pixels:
            idx = (p >> _GREEN) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out
    bpp = 8 >> width_bits
    mask = (1 << bpp) - 1
    packed_w = _sub_size(full_w, width_bits)
    out = [0] * (full_w * h)
    for y in range(h):
        for px in range(packed_w):
            g = (pixels[y * packed_w + px] >> _GREEN) & 0xFF
            for i in range(1 << width_bits):
                x = (px << width_bits) + i
                if x >= full_w:
                    break
                idx = (g >> (i * bpp)) & mask
                out[y * full_w + x] = (palette[idx]
                                       if idx < len(palette) else 0)
    return out


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a VP8L stream -> (h, w, 4) uint8 RGBA."""
    br = LsbReader(data, "VP8L")
    if br.read(8) != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unknown version")
    pixels = _decode_entropy_image(br, w, h, True)
    arr = np.asarray(pixels, np.uint32).reshape(h, w)
    out = np.empty((h, w, 4), np.uint8)
    out[..., 0] = (arr >> _RED) & 0xFF
    out[..., 1] = (arr >> _GREEN) & 0xFF
    out[..., 2] = (arr >> _BLUE) & 0xFF
    out[..., 3] = (arr >> _ALPHA) & 0xFF
    return out


def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP container (lossless VP8L payload) -> RGBA array."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("WEBP: truncated chunk")
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 payloads need a DCT video decoder — out of "
                "scope; lossless VP8L is fully supported")
        pos += 8 + size + (size % 2)
    raise ValueError("WEBP: no VP8L chunk")


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def _write_prefix_code(bw: LsbWriter, lengths: list[int]) -> None:
    """Emit a prefix code. Uses the simple form for 1-2 symbols <= 255,
    else the code-length-coded form (no repeat codes — each symbol's
    length emitted through the CLC, itself canonical over 19 symbols)."""
    nonzero = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(nonzero) <= 2 and max(nonzero) <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(nonzero) - 1, 1)
        if nonzero[0] > 1 or len(nonzero) == 2:
            bw.write(1, 1)
            bw.write(nonzero[0], 8)
        else:
            bw.write(0, 1)
            bw.write(nonzero[0], 1)
        if len(nonzero) == 2:
            bw.write(nonzero[1], 8)
        return
    bw.write(0, 1)  # code-length-coded
    up_to = max(nonzero) + 1 if nonzero else 1
    seq = lengths[:up_to]
    from collections import Counter

    counts = Counter(seq)
    if len(counts) == 1:
        clc_lengths19 = [0] * 19
        clc_lengths19[seq[0]] = 1
        # a 1-symbol canonical code still reads 1 bit; add a dummy
        dummy = (seq[0] + 1) % 16
        clc_lengths19[dummy] = 1
    else:
        pm = _pm_lengths(dict(counts), 7)
        clc_lengths19 = [0] * 19
        for s, ln in pm.items():
            clc_lengths19[s] = ln
    # emit all 19 CLC lengths (num_codes = 19 -> read(4) = 15)
    bw.write(15, 4)
    for sym in CLC_ORDER:
        bw.write(clc_lengths19[sym], 3)
    clc_codes = _build_codes(clc_lengths19)
    if up_to < len(lengths):
        # use max_symbol to stop early
        bw.write(1, 1)
        nbits = max(2, (up_to - 2).bit_length())
        nbits = nbits + (nbits % 2)  # 2 + 2*read(3) -> even, >= 2
        bw.write((nbits - 2) // 2, 3)
        bw.write(up_to - 2, nbits)
    else:
        bw.write(0, 1)
    for ln in seq:
        c, cl = clc_codes[ln]
        bw.write_code(c, cl)


def _emit_code(bw: LsbWriter, codes, sym: int) -> None:
    c, ln = codes[sym]
    bw.write_code(c, ln)


def _code_lengths(counts: dict[int, int], alphabet: int,
                  max_len: int = 15) -> list[int]:
    lengths = [0] * alphabet
    if not counts:
        lengths[0] = 1
        lengths[1 % alphabet] = 1
        return lengths
    if len(counts) == 1:
        (s,) = counts
        lengths[s] = 1
        lengths[(s + 1) % alphabet] = 1  # dummy partner for a full code
        return lengths
    for s, ln in _pm_lengths(counts, max_len).items():
        lengths[s] = ln
    return lengths


def _lz77_tokens(pixels: list[int], w: int, cache_bits: int,
                 use_lz77: bool) -> list[tuple]:
    """Greedy tokenization: ('lit', pix) / ('cache', idx) /
    ('copy', length, dist). Matches are searched at distance 1 and w
    (run-length and vertical repetition — the common cases the format's
    2D map optimizes for)."""
    n = len(pixels)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens: list[tuple] = []
    pos = 0
    while pos < n:
        best_len, best_dist = 0, 0
        if use_lz77:
            for dist in (1, w):
                if dist and dist <= pos:
                    ln = 0
                    limit = min(n - pos, 4096)
                    while (ln < limit
                           and pixels[pos + ln - dist] == pixels[pos + ln]):
                        ln += 1
                    if ln > best_len:
                        best_len, best_dist = ln, dist
        if best_len >= 3:
            tokens.append(("copy", best_len, best_dist))
            if cache is not None:
                for i in range(pos, pos + best_len):
                    cache[_hash_pixel(pixels[i], cache_bits)] = pixels[i]
            pos += best_len
            continue
        pix = pixels[pos]
        if cache is not None:
            hidx = _hash_pixel(pix, cache_bits)
            if cache[hidx] == pix:
                tokens.append(("cache", hidx))
                pos += 1
                continue
            cache[hidx] = pix
        tokens.append(("lit", pix))
        pos += 1
    return tokens


def encode_vp8l(img: np.ndarray, use_subtract_green: bool = True,
                use_palette: bool = False, cache_bits: int = 6,
                use_lz77: bool = True) -> bytes:
    """Encode an (h, w), (h, w, 3) or (h, w, 4) uint8 image as a VP8L
    stream (lossless)."""
    arr = np.asarray(img, np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    if ch == 1:
        arr = np.repeat(arr, 3, axis=2)
        ch = 3
    if ch == 3:
        arr = np.concatenate(
            [arr, np.full((h, w, 1), 255, np.uint8)], axis=2)
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L dimensions must be 1..16384")
    pixels = [
        (int(a) << _ALPHA) | (int(r) << _RED) | (int(g) << _GREEN) | int(b)
        for r, g, b, a in arr.reshape(-1, 4)
    ]

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int(bool((arr[..., 3] != 255).any())), 1)
    bw.write(0, 3)

    eff_w = w
    if use_palette:
        uniq = sorted(set(pixels))
        if len(uniq) > 256:
            raise ValueError("palette path needs <= 256 distinct colors")
        pal_idx = {p: i for i, p in enumerate(uniq)}
        bw.write(1, 1)  # transform present
        bw.write(3, 2)  # color indexing
        bw.write(len(uniq) - 1, 8)
        deltas, prev = [], 0
        for p in uniq:
            deltas.append(_sub_pixels(p, prev))
            prev = p
        _encode_subimage(bw, deltas, len(uniq), 1)
        width_bits = (3 if len(uniq) <= 2 else 2 if len(uniq) <= 4
                      else 1 if len(uniq) <= 16 else 0)
        bpp = 8 >> width_bits if width_bits else 8
        packed_w = _sub_size(w, width_bits) if width_bits else w
        packed = [0] * (packed_w * h)
        for y in range(h):
            for x in range(w):
                idx = pal_idx[pixels[y * w + x]]
                px, sub = divmod(x, 1 << width_bits) if width_bits \
                    else (x, 0)
                packed[y * packed_w + px] |= idx << (sub * bpp)
        pixels = [0xFF000000 | (g << _GREEN) for g in packed]
        eff_w = packed_w
        bw.write(0, 1)  # no more transforms
    elif use_subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green
        bw.write(0, 1)  # no more transforms
        pixels = [
            (p & 0xFF00FF00)
            | ((((p >> _RED) - (p >> _GREEN)) & 0xFF) << _RED)
            | (((p & 0xFF) - ((p >> _GREEN) & 0xFF)) & 0xFF)
            for p in pixels
        ]
    else:
        bw.write(0, 1)

    _encode_image_body(bw, pixels, eff_w, cache_bits, use_lz77)
    return bw.getvalue()


def _encode_subimage(bw: LsbWriter, pixels: list[int], w: int,
                     h: int) -> None:
    """Entropy-coded sub-image (palette / predictor image): no cache,
    no meta, literals only."""
    bw.write(0, 1)  # no color cache
    _encode_groups_and_pixels(
        bw, [("lit", p) for p in pixels], 0)


def _encode_image_body(bw: LsbWriter, pixels: list[int], w: int,
                       cache_bits: int, use_lz77: bool) -> None:
    tokens = _lz77_tokens(pixels, w, cache_bits, use_lz77)
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta prefix codes
    _encode_groups_and_pixels(bw, tokens, cache_bits, w)


def _encode_groups_and_pixels(bw: LsbWriter, tokens: list[tuple],
                              cache_bits: int, w: int = 1) -> None:
    from collections import Counter

    cache_size = (1 << cache_bits) if cache_bits else 0
    gc, rc, bc, ac, dc = Counter(), Counter(), Counter(), Counter(), \
        Counter()
    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            g = (p >> _GREEN) & 0xFF
            gc[g] += 1
            rc[(p >> _RED) & 0xFF] += 1
            bc[p & 0xFF] += 1
            ac[(p >> _ALPHA) & 0xFF] += 1
        elif t[0] == "cache":
            gc[256 + 24 + t[1]] += 1
        else:
            lcode, _, _ = _prefix_encode(t[1])
            gc[256 + lcode] += 1
            dcode, _, _ = _prefix_encode(_distance_to_plane(w, t[2]))
            dc[dcode] += 1
    galph = 256 + 24 + cache_size
    glen = _code_lengths(dict(gc), galph)
    rlen = _code_lengths(dict(rc), 256)
    blen = _code_lengths(dict(bc), 256)
    alen = _code_lengths(dict(ac), 256)
    dlen = _code_lengths(dict(dc), 40)
    for lengths in (glen, rlen, blen, alen, dlen):
        _write_prefix_code(bw, lengths)
    gcod, rcod, bcod, acod, dcod = (_build_codes(x) for x in
                                    (glen, rlen, blen, alen, dlen))
    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            _emit_code(bw, gcod, (p >> _GREEN) & 0xFF)
            _emit_code(bw, rcod, (p >> _RED) & 0xFF)
            _emit_code(bw, bcod, p & 0xFF)
            _emit_code(bw, acod, (p >> _ALPHA) & 0xFF)
        elif t[0] == "cache":
            _emit_code(bw, gcod, 256 + 24 + t[1])
        else:
            lcode, lext, lbits = _prefix_encode(t[1])
            _emit_code(bw, gcod, 256 + lcode)
            pcode = _distance_to_plane(w, t[2])
            dcode_, dext, dbits = _prefix_encode(pcode)
            if lbits:
                bw.write(lext, lbits)
            _emit_code(bw, dcod, dcode_)
            if dbits:
                bw.write(dext, dbits)


def encode_webp(img: np.ndarray, **kw) -> bytes:
    """Encode to a RIFF/WEBP container holding a lossless VP8L chunk."""
    payload = encode_vp8l(img, **kw)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
