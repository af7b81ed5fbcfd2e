"""Pure-Python PNG codec (sources/png.py) — the real image-decode leaf
of the multimodal family (W3C PNG spec; no PIL)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gfw_pixetl_spark.functions.multimodal import decode_image, png_payload
from gfw_pixetl_spark.sources.png import decode_png, encode_png
from tests.conftest import refusal_counts


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize(
    "shape,dtype",
    [((13, 17), "uint8"), ((8, 8, 3), "uint8"), ((5, 9, 4), "uint8"),
     ((6, 7, 2), "uint8"), ((9, 4), "uint16"), ((4, 5, 3), "uint16")],
)
def test_roundtrip(shape, dtype, filter_type):
    rng = np.random.default_rng(7)
    arr = rng.integers(
        0, np.iinfo(dtype).max + 1, size=shape).astype(dtype)
    dec = decode_png(encode_png(arr, filter_type=filter_type))
    exp = arr[:, :, None] if arr.ndim == 2 else arr
    np.testing.assert_array_equal(dec, exp)


def test_signature_and_crc_validation():
    arr = np.zeros((4, 4), dtype="uint8")
    data = bytearray(encode_png(arr))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JUNK" + bytes(data[4:]))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError):
        decode_png(bytes(data))


def test_rejects_unknown_interlace_method():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)  # method 2 = bad
    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    data = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + b"IHDR"
            + ihdr + struct.pack(">I", crc))
    with pytest.raises(ValueError, match="interlace"):
        decode_png(data)


def test_split_idat_streams():
    """Decoders must concatenate multiple IDAT chunks (spec §5.6)."""
    arr = (np.arange(64, dtype="uint8")).reshape(8, 8)
    data = bytearray(encode_png(arr, filter_type=0))
    # split the single IDAT into two chunks
    pos = 8
    while True:
        (length,) = struct.unpack(">I", bytes(data[pos:pos + 4]))
        tag = bytes(data[pos + 4:pos + 8])
        if tag == b"IDAT":
            break
        pos += 12 + length
    body = bytes(data[pos + 8:pos + 8 + length])
    half = length // 2
    def chunk(b):
        c = zlib.crc32(b"IDAT" + b) & 0xFFFFFFFF
        return struct.pack(">I", len(b)) + b"IDAT" + b + struct.pack(">I", c)
    rebuilt = (bytes(data[:pos]) + chunk(body[:half]) + chunk(body[half:])
               + bytes(data[pos + 12 + length:]))
    np.testing.assert_array_equal(decode_png(rebuilt)[:, :, 0], arr)


def test_png_payload_decodes_to_digest_bytes():
    import hashlib

    t = "hello corpus"
    img = decode_image(png_payload(t))
    digest = hashlib.md5(t.encode()).digest()
    np.testing.assert_array_equal(
        img[:, :, 0].ravel(), np.frombuffer(digest, dtype=np.uint8))


def test_decode_image_gates_unsupported_formats():
    # PNG/JPEG/WebP/GIF decode natively; other containers stay gated,
    # and malformed payloads of supported formats raise from the codec.
    with pytest.raises(NotImplementedError, match="PNG"):
        decode_image(b"BM fake bmp bytes")
    with pytest.raises(ValueError):
        decode_image(b"GIF89a fake gif bytes")
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x10\x00\x00\x00WEBP fake webp bytes")


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(tag + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)


def _adam7_encode(arr: np.ndarray) -> bytes:
    """Minimal Adam7 encoder (filter 0 rows) for decoder tests."""
    h, w, ch = arr.shape
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    stream = bytearray()
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            stream.append(0)
            stream.extend(row.astype("u1").tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 1)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
            + _png_chunk(b"IEND", b""))


@pytest.mark.parametrize("shape", [(13, 17, 1), (8, 8, 3), (5, 3, 4),
                                   (1, 1, 1), (2, 9, 3)])
def test_adam7_interlaced_decode(shape):
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=shape).astype("uint8")
    dec = decode_png(_adam7_encode(arr))
    np.testing.assert_array_equal(dec, arr)


def test_palette_decode():
    rng = np.random.default_rng(4)
    plte = rng.integers(0, 256, size=(16, 3)).astype("uint8")
    idx = rng.integers(0, 16, size=(9, 7)).astype("uint8")
    stream = bytearray()
    for row in idx:
        stream.append(0)
        stream.extend(row.tobytes())
    ihdr = struct.pack(">IIBBBBB", 7, 9, 8, 3, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte.tobytes())
            + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
            + _png_chunk(b"IEND", b""))
    dec = decode_png(data)
    np.testing.assert_array_equal(dec, plte[idx])


def test_decode_image_gif_local_palette():
    """decode_image's GIF branch must use the frame's EFFECTIVE palette
    (a local color table may override — or entirely replace — the
    global one; round-7 review finding)."""
    import numpy as np

    from gfw_pixetl_spark.sources import gif as G

    idx = np.array([[0, 1], [1, 0]], np.uint8)
    pal = np.array([(9, 8, 7), (1, 2, 3)], np.uint8)
    data = G.encode_gif(
        [{"left": 0, "top": 0, "pixels": idx, "delay_cs": 0,
          "transparent": None}], pal)
    out = decode_image(data)
    assert out.shape == (2, 2, 3)
    assert tuple(out[0, 0]) == (9, 8, 7)
    assert tuple(out[0, 1]) == (1, 2, 3)


def test_hostile_files_raise_value_error():
    """Seeded fuzz: truncated and bit-flipped PNGs raise ValueError,
    never struct.error."""
    img = np.random.default_rng(7).integers(
        0, 256, size=(16, 16, 3)).astype(np.uint8)
    counts = refusal_counts(decode_png, encode_png(img), 300, seed=7)
    assert counts["ValueError"]
