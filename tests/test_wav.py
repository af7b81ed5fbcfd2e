"""Pure-Python WAV / G.711 codec (sources/wav.py): container round
trips, companding table identities, and the spec edge cases."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.wav import (
    alaw_decode, alaw_encode, decode_wav, encode_wav, mulaw_decode,
    mulaw_encode,
)
from tests.conftest import refusal_counts


@given(st.integers(0, 2**32 - 1), st.integers(1, 500),
       st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=30, deadline=None)
def test_pcm16_roundtrip_exact(seed, n, rate):
    s = np.random.RandomState(seed).randint(
        -32768, 32768, n).astype(np.int16)
    out, r = decode_wav(encode_wav(s, rate))
    assert r == rate
    assert np.array_equal(out[:, 0], s)


def test_pcm8_offset_binary():
    u = np.arange(256, dtype=np.uint8)
    out, _ = decode_wav(encode_wav(u))
    assert np.array_equal(out[:, 0], u.astype(np.int64) - 128)


def test_stereo_interleave():
    st_ = np.random.RandomState(0).randint(
        -1000, 1000, (40, 2)).astype(np.int16)
    out, _ = decode_wav(encode_wav(st_))
    assert out.shape == (40, 2)
    assert np.array_equal(out, st_)


def test_mulaw_codec_idempotent_on_codewords():
    """encode(decode(b)) == b for every code word except 0x7F, the
    G.711 negative-zero, which canonically collapses onto 0xFF."""
    b = np.arange(256, dtype=np.uint8)
    re = mulaw_encode(mulaw_decode(b))
    bad = np.nonzero(re != b)[0]
    assert list(bad) == [0x7F] and re[0x7F] == 0xFF
    assert mulaw_decode(np.array([0xFF]))[0] == 0
    assert mulaw_decode(np.array([0x7F]))[0] == 0


def test_alaw_codec_idempotent_on_codewords():
    b = np.arange(256, dtype=np.uint8)
    assert np.array_equal(alaw_encode(alaw_decode(b)), b)


def test_alaw_itu_sign_convention():
    """G.711 pins the sign bit SET for positive samples: silence is the
    standard 0xD5 code, 0xD5 expands to +8, 0x55 to -8, and full scale
    is the canonical +/-32256 (spandsp g711.c values)."""
    assert alaw_encode(np.array([0]))[0] == 0xD5
    assert alaw_decode(np.array([0xD5], np.uint8))[0] == 8
    assert alaw_decode(np.array([0x55], np.uint8))[0] == -8
    assert alaw_decode(np.array([0xAA], np.uint8))[0] == 32256
    assert alaw_decode(np.array([0x2A], np.uint8))[0] == -32256
    # positive inputs map to sign-bit-set codes across the whole domain
    x = np.arange(8, 32000, 97)
    assert ((alaw_encode(x) ^ 0x55) & 0x80).all()
    assert (((alaw_encode(-x) ^ 0x55) & 0x80) == 0).all()


def test_mulaw_known_segments():
    """Spot values from the ITU-T expansion formula:
    ((2m + 33) << e - 33) * 4, sign from the complemented MSB."""
    # byte 0x00 -> u = 0xFF: sign, e=7, m=15 -> -((63<<7)-33)*4 = -32124
    assert mulaw_decode(np.array([0x00]))[0] == -32124
    assert mulaw_decode(np.array([0x80]))[0] == 32124
    # quantization error bounded by the segment step
    x = np.random.RandomState(1).randint(-32000, 32000, 5000)
    err = np.abs(mulaw_decode(mulaw_encode(x)).astype(int) - x)
    rel = err / np.maximum(np.abs(x), 64)
    assert rel.max() <= 0.0625  # half of one 1/16 chord step


def test_wav_g711_container_roundtrip():
    vals = mulaw_decode(np.arange(256, dtype=np.uint8))
    out, _ = decode_wav(encode_wav(vals, codec="mulaw"))
    assert np.array_equal(out[:, 0], vals)
    vals = alaw_decode(np.arange(256, dtype=np.uint8))
    out, _ = decode_wav(encode_wav(vals, codec="alaw"))
    assert np.array_equal(out[:, 0], vals)


def test_unknown_chunks_skipped_and_errors():
    wav = bytearray(encode_wav(np.zeros(4, np.int16)))
    # splice a LIST chunk between fmt and data (word-aligned, odd length)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = bytes(wav[:fmt_end]) + extra + bytes(wav[fmt_end:])
    out, _ = decode_wav(spliced)
    assert out.shape == (4, 1)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope")
    with pytest.raises(ValueError, match="unsupported"):
        # forge a 24-bit fmt
        bad = bytearray(encode_wav(np.zeros(4, np.int16)))
        bad[12 + 8 + 14] = 24
        decode_wav(bytes(bad))


def test_hostile_files_raise_value_error():
    """Seeded fuzz: truncated and bit-flipped WAVs decode or raise
    ValueError, never struct.error."""
    snd = np.random.default_rng(7).integers(
        -3000, 3000, size=(400, 2)).astype(np.int16)
    counts = refusal_counts(decode_wav, encode_wav(snd), 300, seed=7)
    assert counts["ok"] and counts["ValueError"]
