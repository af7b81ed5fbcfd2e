"""Brotli decoder (sources/brotli.py): validated AGAINST THE REFERENCE
ENCODER — fixtures are compressed by libbrotli (via pyarrow's codec,
plus a ctypes leg that sweeps window sizes when libbrotlienc is on the
machine) and decoded by the pure-Python implementation, so prefix
codes, context maps, block switching, the distance ring buffer, and
the static dictionary + transforms are all checked against the
format's own producer.  Plus: the store-mode writer (decoded back by
libbrotli), metadata meta-blocks, and the corruption surface."""

from __future__ import annotations

import ctypes
import glob
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.bitio import LsbWriter as _BitWriter
from gfw_pixetl_spark.sources.brotli import (
    _static_data, compress_store, decode_content_encoding, decompress,
)


def _libbrotli(level: int = 11):
    import pyarrow as pa

    return pa.Codec("brotli", compression_level=level)


def _find_brotlienc() -> str | None:
    for pat in ("/usr/lib/*/libbrotlienc.so*", "/usr/lib/libbrotlienc.so*",
                "/root/miniconda/lib/libbrotlienc.so*",
                "/opt/conda/lib/libbrotlienc.so*"):
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[0]
    return None


# text shaped to hit the static dictionary and its transforms:
# dictionary words, capitalization (ferment), punctuation suffixes
_DICT_TEXT = (
    "The government announced that information about the development "
    "of international programs, including Education, Technology and "
    "University research, would be available immediately. Questions? "
    "Contact administration@example.com - Copyright 2026. "
).encode()


def _cases() -> list[bytes]:
    rnd = random.Random(42)
    return [
        b"",
        b"a",
        b"hello world",
        _DICT_TEXT,
        _DICT_TEXT * 50,
        bytes(range(256)) * 40,
        b"ab" * 5000,
        rnd.randbytes(10000),                      # incompressible
        rnd.randbytes(100) * 300,                  # long matches
        ("日本語のテキストとEnglish content для тестирования. "
         * 400).encode(),                          # multi-byte UTF-8
        b"x" * 300000,                             # multi-meta-block RLE
    ]


@pytest.mark.parametrize("level", [0, 1, 2, 5, 9, 11])
def test_decode_matches_libbrotli(level):
    c = _libbrotli(level)
    for raw in _cases():
        comp = bytes(c.compress(raw))
        assert decompress(comp) == raw
        # declared-size check path
        assert decompress(comp, max_output=len(raw)) == raw


def test_window_size_sweep_against_libbrotlienc():
    """Small windows force static-dictionary references; large ones
    exercise long-distance codes.  Needs libbrotlienc for the lgwin
    knob (pyarrow's codec pins the default window)."""
    lib_path = _find_brotlienc()
    if lib_path is None:
        pytest.skip("libbrotlienc not on this machine")
    lib = ctypes.CDLL(lib_path)

    def encode(data: bytes, quality: int, lgwin: int) -> bytes:
        out_size = ctypes.c_size_t(len(data) + 1024)
        out = ctypes.create_string_buffer(out_size.value)
        assert lib.BrotliEncoderCompress(
            quality, lgwin, 0, len(data), data,
            ctypes.byref(out_size), out)
        return out.raw[:out_size.value]

    rnd = random.Random(7)
    samples = [_DICT_TEXT * 20,
               b" ".join(rnd.choice([
                   b"information", b"Because", b"different", b"People",
                   b"available.", b'description"', b"download", b"the",
                   b"particularly,", b"INTERNATIONAL"])
                   for _ in range(2000))]
    for lgwin in (10, 14, 18, 24):
        for quality in (2, 5, 11):
            for s in samples:
                assert decompress(encode(s, quality, lgwin)) == s


def test_store_mode_roundtrip_and_libbrotli_decode():
    for n in (0, 1, 100, 65535, 65536, 70000):
        data = (bytes(range(256)) * (n // 256 + 1))[:n]
        enc = compress_store(data)
        assert decompress(enc) == data
        assert bytes(_libbrotli().decompress(enc, n)) == data


@pytest.mark.parametrize("wbits", [10, 16, 17, 18, 22, 24])
def test_store_mode_window_sizes(wbits):
    data = b"window-bits-roundtrip " * 10
    enc = compress_store(data, wbits=wbits)
    assert decompress(enc) == data
    assert bytes(_libbrotli().decompress(enc, len(data))) == data


def test_store_mode_rejects_bad_wbits():
    with pytest.raises(ValueError):
        compress_store(b"x", wbits=9)
    with pytest.raises(ValueError):
        compress_store(b"x", wbits=25)


def _metadata_stream(meta: bytes) -> bytes:
    """A stream with one metadata meta-block (skipped), one
    2-byte uncompressed block, then the last-empty block."""
    w = _BitWriter()
    w.write(1, 1)
    w.write(5, 3)                       # WBITS 22
    w.write(0, 1)                       # ISLAST = 0
    w.write(3, 2)                       # MNIBBLES = 0 -> metadata
    w.write(0, 1)                       # reserved
    if len(meta) == 0:
        w.write(0, 2)                   # MSKIPBYTES = 0
    else:
        stored = len(meta) - 1          # skip = stored + 1
        nbytes = max(1, (stored.bit_length() + 7) // 8)
        w.write(nbytes, 2)
        for i in range(nbytes):
            w.write((stored >> (8 * i)) & 0xFF, 8)
    w.align()
    w.raw(meta)
    w.write(0, 1)                       # ISLAST = 0
    w.write(0, 2)                       # MNIBBLES = 4
    w.write(1, 16)                      # MLEN - 1 = 1
    w.write(1, 1)                       # ISUNCOMPRESSED
    w.align()
    w.raw(b"hi")
    w.write(1, 1)                       # ISLAST
    w.write(1, 1)                       # ISLASTEMPTY
    return w.getvalue()


@pytest.mark.parametrize("meta", [b"", b"M", b"metadata-goes-here" * 3])
def test_metadata_block_skipped(meta):
    s = _metadata_stream(meta)
    assert decompress(s) == b"hi"
    # libbrotli agrees on the skip semantics (stored value + 1 bytes)
    assert bytes(_libbrotli().decompress(s, 2)) == b"hi"


def test_corruption_surface():
    comp = bytes(_libbrotli(5).compress(_DICT_TEXT * 10))
    with pytest.raises(ValueError):
        decompress(comp[:len(comp) // 2])       # truncated
    with pytest.raises(ValueError):
        decompress(comp + b"\x00garbage")       # trailing bytes
    with pytest.raises(ValueError):
        decompress(comp, max_output=5)          # wrong declared size
    with pytest.raises(ValueError):
        decompress(b"")                         # empty stream


def test_static_data_invariants():
    size_bits, dict_data, ctx_lut, transforms = _static_data()
    assert len(dict_data) == 122784
    assert dict_data.startswith(b"timedownlifeleft")
    assert len(ctx_lut) == 2048
    assert len(transforms) == 121
    assert transforms[0] == (b"", 0, b"")       # identity
    assert transforms[1] == (b"", 0, b" ")
    # LSB6 quadrant closed form (RFC 7932 section 7.1)
    assert all(ctx_lut[i] == (i & 63) for i in range(256))


def test_decode_content_encoding():
    import gzip
    import zlib as _z

    body = "Content négociation ✓".encode()
    assert decode_content_encoding(body, "") == body
    assert decode_content_encoding(body, "identity") == body
    assert decode_content_encoding(gzip.compress(body), "gzip") == body
    assert decode_content_encoding(_z.compress(body), "deflate") == body
    raw = _z.compressobj(wbits=-15)
    assert decode_content_encoding(
        raw.compress(body) + raw.flush(), "deflate") == body
    assert decode_content_encoding(
        bytes(_libbrotli().compress(body)), "BR ") == body
    from gfw_pixetl_spark.sources.zstd import compress_raw
    assert decode_content_encoding(compress_raw(body), "zstd") == body
    with pytest.raises(ValueError):
        decode_content_encoding(body, "compress")


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=4000), st.sampled_from([1, 5, 11]))
def test_libbrotli_encode_our_decode_property(data, level):
    assert decompress(bytes(_libbrotli(level).compress(data))) == data


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from(
    [b"the information ", b"People, ", b"different", b" Because",
     b"\xe6\x97\xa5\xe6\x9c\xac", b"x" * 40]), max_size=400))
def test_dictionary_shaped_text_property(parts):
    data = b"".join(parts)
    assert decompress(bytes(_libbrotli(11).compress(data))) == data
    enc = compress_store(data)
    assert decompress(enc) == data


# --------------------------------------------------------------------------
# compressor (entropy-coded): every stream must decode under BOTH our
# decoder and libbrotli (the reference decoder)
# --------------------------------------------------------------------------


def _both_decode(enc: bytes, expected: bytes) -> None:
    assert decompress(enc) == expected
    assert bytes(_libbrotli().decompress(enc, len(expected))) == expected


def test_compress_cases_decode_under_libbrotli():
    from gfw_pixetl_spark.sources.brotli import compress

    rnd = random.Random(3)
    cases = [
        b"", b"a", b"ab", b"hello world",
        _DICT_TEXT, _DICT_TEXT * 100,
        b"ab" * 5000,
        bytes(range(256)) * 20,
        rnd.randbytes(8000),             # incompressible -> raw block
        rnd.randbytes(64) * 200,         # long matches
        ("日本語テキスト testing " * 500).encode(),
        b"x" * 100000,
    ]
    for raw in cases:
        _both_decode(compress(raw), raw)


@pytest.mark.parametrize("wbits", [10, 16, 17, 18, 22, 24])
def test_compress_window_bound_respected(wbits):
    """Matches farther back than the window would decode as dictionary
    references; every window size must round-trip under the reference
    decoder (the regression that capped chunk size by the window)."""
    from gfw_pixetl_spark.sources.brotli import compress

    rnd = random.Random(5)
    raw = (rnd.randbytes(500) * 40 + _DICT_TEXT * 50)[:30000]
    _both_decode(compress(raw, wbits=wbits), raw)


def test_compress_multi_meta_block():
    from gfw_pixetl_spark.sources.brotli import compress

    rnd = random.Random(11)
    raw = (b" ".join(rnd.choice([b"alpha", b"beta", b"gamma", b"x"])
                     for _ in range(300000)))  # > one window at wbits 20
    enc = compress(raw, wbits=20)
    _both_decode(enc, raw)
    assert len(enc) < len(raw) // 3


def test_compress_beats_raw_on_text():
    from gfw_pixetl_spark.sources.brotli import compress

    raw = _DICT_TEXT * 500
    enc = compress(raw)
    assert len(enc) < len(raw) // 10


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=3000))
def test_compress_roundtrip_property(data):
    from gfw_pixetl_spark.sources.brotli import compress

    _both_decode(compress(data), data)
