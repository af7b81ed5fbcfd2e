"""WebP lossless (VP8L) codec tests — sources/webp.py.

Round trips cover every encoder path; hand-crafted streams (built with
the shared LsbWriter on top of forward transforms computed here)
cover the decoder-only features: the predictor transform (all 14
modes), the cross-channel color transform, and meta prefix codes.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources import webp as W
from gfw_pixetl_spark.sources.bitio import LsbReader, LsbWriter


def rt(img, **kw):
    return W.decode_webp(W.encode_webp(img, **kw))


def as_rgba(img):
    arr = np.asarray(img, np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    if ch == 1:
        arr = np.repeat(arr, 3, axis=2)
    if arr.shape[2] == 3:
        arr = np.concatenate([arr, np.full((h, w, 1), 255, np.uint8)], 2)
    return arr


@given(
    st.integers(1, 10), st.integers(1, 10),
    st.sampled_from([1, 3, 4]),
    st.booleans(), st.sampled_from([0, 2, 6]), st.booleans(),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_round_trip_hypothesis(h, w, ch, subgreen, cache, lz77, seed):
    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = rt(img, use_subtract_green=subgreen, cache_bits=cache,
             use_lz77=lz77)
    assert np.array_equal(out, as_rgba(img))


@pytest.mark.parametrize("n_colors", [1, 2, 3, 4, 9, 16, 17, 256])
def test_palette_bundling_widths(n_colors):
    rng = np.random.default_rng(n_colors)
    idx = rng.integers(0, n_colors, (11, 13), dtype=np.uint8)
    colors = rng.integers(0, 256, (n_colors, 4), dtype=np.uint8)
    img = colors[idx]
    out = rt(img, use_palette=True)
    assert np.array_equal(out, img)


def test_low_entropy_compresses():
    img = np.tile(np.arange(8, dtype=np.uint8) * 32, (64, 8))[:, :64]
    img3 = np.stack([img] * 3, axis=2)
    data = W.encode_webp(img3)
    assert np.array_equal(rt(img3), as_rgba(img3))
    assert len(data) < img3.size // 4  # backrefs + cache actually bite


def test_distance_map_prefix_matches_spec():
    """First rows of the published spec table (distance code 1..22)."""
    expected = [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2),
        (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0),
        (1, 3), (-1, 3), (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2),
        (-3, 2),
    ]
    assert W.DIST_MAP[:22] == expected
    assert len(W.DIST_MAP) == 120
    assert len(set(W.DIST_MAP)) == 120


def test_distance_roundtrip_through_plane_codes():
    for w in (1, 3, 8, 30, 100):
        for dist in range(1, 4 * w + 3):
            code = W._distance_to_plane(w, dist)
            assert W._plane_to_distance(w, code) == dist, (w, dist)


# --------------------------------------------------------------------------
# hand-crafted streams for decoder-only features
# --------------------------------------------------------------------------


def _craft(w, h, header_writer, body_pixels):
    """Build a VP8L stream: signature + dims + custom transform header
    bits + a plain literal body holding ``body_pixels``."""
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    header_writer(bw)
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix
    W._encode_groups_and_pixels(
        bw, [("lit", p) for p in body_pixels], 0, w)
    return bw.getvalue()


def _argb(arr):
    return [
        (int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b, a in arr.reshape(-1, 4)
    ]


def test_predictor_transform_all_modes():
    """Forward-predict an image with every mode 0..13 spread over 4x4
    blocks, then check the decoder's inverse reconstructs it."""
    rng = np.random.default_rng(3)
    w = h = 16  # 4x4 blocks of 4px -> 16 blocks, modes 0..13 + repeats
    img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    pixels = _argb(img)
    size_bits = 2
    sw, sh = 4, 4
    modes = [(i % 14) for i in range(sw * sh)]
    residual = [0] * (w * h)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        mode = modes[(y >> size_bits) * sw + (x >> size_bits)]
        pred = W._pred_at(pixels, w, pos, mode)
        residual[pos] = W._sub_pixels(pixels[pos], pred)

    def header(bw):
        bw.write(1, 1)          # a transform follows
        bw.write(0, 2)          # predictor transform
        bw.write(size_bits - 2, 3)
        # sub-image: modes in the green channel, literals only
        W._encode_subimage(bw, [0xFF000000 | (m << 8) for m in modes],
                           sw, sh)
        bw.write(0, 1)          # no more transforms

    out = W.decode_vp8l(_craft(w, h, header, residual))
    assert np.array_equal(out, img)


def test_color_transform_roundtrip():
    rng = np.random.default_rng(4)
    w, h = 8, 6
    img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    pixels = _argb(img)
    size_bits = 2
    sw, sh = W._sub_size(w, size_bits), W._sub_size(h, size_bits)
    elems = [
        (0xFF000000 | (int(r2b) << 16) | (int(g2b) << 8) | int(g2r))
        for g2r, g2b, r2b in rng.integers(0, 256, (sw * sh, 3))
    ]
    residual = list(pixels)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = elems[(y >> size_bits) * sw + (x >> size_bits)]
            g2r, g2b, r2b = e & 0xFF, (e >> 8) & 0xFF, (e >> 16) & 0xFF
            p = pixels[i]
            g = (p >> 8) & 0xFF
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            nr = (r - W._ct_delta(g2r, g)) & 0xFF
            nb = (b - W._ct_delta(g2b, g) - W._ct_delta(r2b, r)) & 0xFF
            residual[i] = (p & 0xFF00FF00) | (nr << 16) | nb

    def header(bw):
        bw.write(1, 1)
        bw.write(1, 2)          # color transform
        bw.write(size_bits - 2, 3)
        W._encode_subimage(bw, elems, sw, sh)
        bw.write(0, 1)

    out = W.decode_vp8l(_craft(w, h, header, residual))
    assert np.array_equal(out, img)


def test_meta_prefix_groups():
    """Two code groups selected by an entropy image: left tile all-red
    literals under group 0, right tile all-blue under group 1 — group 1
    deliberately CANNOT encode the red pixel, so decode succeeding
    proves per-tile group selection."""
    w = h = 8
    red, blue = 0xFFFF0000, 0xFF0000FF
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix present
    hbits = 2       # 4px tiles -> 2x2 entropy image
    bw.write(hbits - 2, 3)
    metas = [0, 1, 0, 1]  # left column group 0, right group 1
    W._encode_subimage(bw, [0xFF000000 | (m << 8) for m in metas], 2, 2)

    def simple_group(bw, g, r, b, a):
        for sym, alphabet in ((g, 280), (r, 256), (b, 256), (a, 256),
                              (0, 40)):
            lengths = [0] * alphabet
            lengths[sym] = 1
            W._write_prefix_code(bw, lengths)

    simple_group(bw, (red >> 8) & 0xFF, (red >> 16) & 0xFF,
                 red & 0xFF, 0xFF)      # group 0: red only
    simple_group(bw, (blue >> 8) & 0xFF, (blue >> 16) & 0xFF,
                 blue & 0xFF, 0xFF)     # group 1: blue only
    # all codes are trivial (0 bits) -> the pixel loop reads nothing
    out = W.decode_vp8l(bw.getvalue())
    exp = np.zeros((h, w, 4), np.uint8)
    exp[:, :4] = [255, 0, 0, 255]
    exp[:, 4:] = [0, 0, 255, 255]
    assert np.array_equal(out, exp)


# --------------------------------------------------------------------------
# containers and errors
# --------------------------------------------------------------------------


def test_container_odd_chunk_padding():
    img = np.zeros((1, 1, 3), np.uint8)
    data = W.encode_webp(img)
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert len(data) == 8 + riff_size
    assert np.array_equal(W.decode_webp(data), as_rgba(img))


def test_errors():
    img = np.zeros((2, 2, 3), np.uint8)
    good = W.encode_webp(img)
    with pytest.raises(ValueError):
        W.decode_webp(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        W.decode_webp(good[:20])
    bad = bytearray(good)
    bad[20] ^= 0xFF  # signature byte of the VP8L payload
    with pytest.raises(ValueError):
        W.decode_webp(bytes(bad))
    with pytest.raises(NotImplementedError):
        W.decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
    with pytest.raises(ValueError):
        W.encode_vp8l(np.zeros((1, 1 << 14 + 1, 3), np.uint8))


def test_backref_oob_rejected():
    """A backward reference pointing before the first pixel must raise,
    not wrap."""
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(3, 14)   # 4x1
    bw.write(0, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    # green code: symbols {256} (len code 0 -> length 1) + dummy
    g = [0] * 280
    g[256] = 1
    g[0] = 1
    for lengths in (g, *([[1, 1] + [0] * 254] * 3), [1, 1] + [0] * 38):
        W._write_prefix_code(bw, lengths)
    # emit symbol 256: length code 0 (length 1), distance code 0 -> 1
    gc = W._build_codes(g)
    c, ln = gc[256]
    bw.write_code(c, ln)
    dc = W._build_codes([1, 1] + [0] * 38)
    c, ln = dc[0]
    bw.write_code(c, ln)
    with pytest.raises(ValueError):
        W.decode_vp8l(bw.getvalue())


def test_prefix_value_codes():
    """Spec examples of the LZ77 prefix-value scheme."""
    bw = LsbWriter()
    bw.write(0b10, 2)  # extra bits for code 4 (1 extra bit): value 0
    br = LsbReader(bw.getvalue(), "VP8L")
    assert W._prefix_value(0, br) == 1
    assert W._prefix_value(3, br) == 4
    assert W._prefix_value(4, br) == 5      # consumes 1 extra bit (0)
    assert W._prefix_value(5, br) == 8      # 2+(1)<<1 + 1(extra) + 1
    for v in (1, 2, 3, 4, 5, 6, 7, 100, 4096):
        code, extra, nbits = W._prefix_encode(v)
        bw2 = LsbWriter()
        bw2.write(extra, nbits)
        assert W._prefix_value(code, LsbReader(bw2.getvalue(), "VP8L")) == v


def test_select_ties_go_to_top():
    """Predictor 11 tie-break: the spec (and libwebp) predict TOP when
    pL == pT (round-7 review finding — ties previously went LEFT)."""
    L = 0xFF000002  # per-channel L=2, T=0, TL=1 -> p=1, pL=pT=1
    T = 0xFF000000
    TL = 0xFF000001
    assert W._select(L, T, TL) == T
    # strict inequality still picks LEFT
    assert W._select(0xFF000001, 0xFF000009, 0xFF000008) == 0xFF000001
