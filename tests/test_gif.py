"""GIF codec (sources/gif.py): LZW round trips across alphabets and
table-growth boundaries, container round trips (multi-frame, local
palettes, interlace, transparency compositing, disposal), the GIF89a
extension surface, and hostile-input errors."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from gfw_pixetl_spark.sources.gif import (
    decode_gif, encode_gif, gif_to_rgb, lzw_decode, lzw_encode,
)
from tests.conftest import refusal_counts


def _pal(n=16):
    return np.array([[(i * 17) % 256, (i * 29) % 256, (i * 53) % 256]
                     for i in range(n)], np.uint8)


@pytest.mark.parametrize("mcs", [2, 3, 4, 8])
def test_lzw_roundtrip(mcs):
    rng = np.random.default_rng(5)
    for n in (1, 7, 255, 4095, 20000):
        idx = rng.integers(0, 1 << mcs, n).astype(np.uint8)
        assert np.array_equal(
            lzw_decode(lzw_encode(idx, mcs), mcs, n), idx)
    # worst-case repetitive input crosses the 12-bit table reset
    rep = np.tile(np.arange(1 << mcs, dtype=np.uint8), 3000)[:30000]
    assert np.array_equal(lzw_decode(lzw_encode(rep, mcs), mcs,
                                     len(rep)), rep)


def _two_frames():
    f0 = (np.arange(40 * 60).reshape(40, 60) % 16).astype(np.uint8)
    f1 = ((np.arange(20 * 30).reshape(20, 30) * 3) % 16).astype(np.uint8)
    gif = encode_gif(
        [{"pixels": f0, "left": 0, "top": 0, "delay_cs": 10},
         {"pixels": f1, "left": 10, "top": 5, "delay_cs": 20,
          "transparent": 3}],
        _pal(), loop=7)
    return f0, f1, gif


def test_container_roundtrip_and_compositing():
    f0, f1, gif = _two_frames()
    d = decode_gif(gif)
    assert (d["width"], d["height"], d["loop"]) == (60, 40, 7)
    assert np.array_equal(d["frames"][0]["pixels"], f0)
    assert np.array_equal(d["frames"][1]["pixels"], f1)
    assert d["frames"][1]["delay_cs"] == 20
    # transparent index 3 punches through to frame 0's canvas
    sub = d["frames"][1]["canvas"][5:25, 10:40]
    m = f1 != 3
    assert np.array_equal(sub[m], f1[m])
    assert np.array_equal(sub[~m], f0[5:25, 10:40][~m])
    # RGB view uses the palette
    rgb = gif_to_rgb(d["frames"][0])
    assert rgb.shape == (40, 60, 3)
    assert np.array_equal(rgb[0, 5], _pal()[f0[0, 5]])


def test_interlace_roundtrip():
    f = (np.arange(23 * 17).reshape(23, 17) % 16).astype(np.uint8)
    gif = encode_gif([{"pixels": f, "left": 0, "top": 0}], _pal(),
                     interlace=True)
    assert np.array_equal(decode_gif(gif)["frames"][0]["pixels"], f)


def test_no_loop_extension_and_gif87_reject_surface():
    f = np.zeros((4, 4), np.uint8)
    gif = encode_gif([{"pixels": f, "left": 0, "top": 0}], _pal(2),
                     loop=None)
    d = decode_gif(gif)
    assert d["loop"] is None and len(d["frames"]) == 1
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="palette size"):
        encode_gif([{"pixels": f, "left": 0, "top": 0}],
                   np.zeros((5, 3), np.uint8))


def test_truncation_and_bad_codes_raise():
    f = (np.arange(64).reshape(8, 8) % 4).astype(np.uint8)
    gif = encode_gif([{"pixels": f, "left": 0, "top": 0}], _pal(4))
    with pytest.raises(ValueError, match="truncated|trailer|EOI"):
        decode_gif(gif[:-8])
    with pytest.raises(ValueError, match="out of table|pixels|EOI"):
        lzw_decode(b"\xff\xff\xff", 2, 64)


def test_hostile_files_raise_value_error():
    """Seeded fuzz: truncated and bit-flipped two-frame GIFs raise
    ValueError, never struct.error or IndexError."""
    counts = refusal_counts(decode_gif, _two_frames()[2], 300, seed=7)
    assert counts["ValueError"] and counts["ok"]


def test_disposal_3_restores_previous_canvas():
    """ADVICE r6: restore-to-previous — the canvas reverts to its
    pre-draw state after the frame displays."""
    base = np.full((10, 10), 1, np.uint8)
    overlay = np.full((4, 4), 5, np.uint8)
    final = np.full((3, 3), 7, np.uint8)
    gif = encode_gif(
        [{"pixels": base, "left": 0, "top": 0},
         {"pixels": overlay, "left": 2, "top": 2, "disposal": 3},
         {"pixels": final, "left": 0, "top": 0}],
        _pal())
    d = decode_gif(gif)
    # frame 1 displays the overlay
    assert np.array_equal(d["frames"][1]["canvas"][2:6, 2:6], overlay)
    # frame 2 composites onto the RESTORED canvas: the overlay is gone
    c2 = d["frames"][2]["canvas"]
    assert np.array_equal(c2[0:3, 0:3], final)
    assert (c2[3:6, 3:6] == 1).all()   # inside overlay rect, restored
    assert (c2[6:, :] == 1).all()


def test_frame_rect_exceeding_screen_raises():
    """ADVICE r6: an image descriptor past the logical screen must be a
    ValueError, not a numpy shape/IndexError."""
    f = (np.arange(100).reshape(10, 10) % 16).astype(np.uint8)
    gif = bytearray(encode_gif([{"pixels": f, "left": 0, "top": 0}],
                               _pal(), loop=None))
    gif[6:8] = struct.pack("<H", 8)  # shrink screen width under the frame
    with pytest.raises(ValueError, match="logical screen"):
        decode_gif(bytes(gif))
