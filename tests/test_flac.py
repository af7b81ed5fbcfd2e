"""FLAC codec (sources/flac.py): round trips across every subframe
type, Rice partitions + escape, stereo decorrelation, wasted bits,
CRC/MD5 integrity, and hypothesis property tests."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.bitio import MsbReader, MsbWriter
from gfw_pixetl_spark.sources.flac import (
    crc8, crc16, decode_flac, encode_flac,
)


def _signal(n, seed=0, amp=3000):
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    return (amp * np.sin(t / 17.0)
            + rng.randint(-60, 60, n)).astype(np.int16)


@pytest.mark.parametrize("mode", ["auto", "verbatim", "fixed", "lpc"])
def test_roundtrip_modes(mode):
    x = _signal(1000)
    enc = encode_flac(x, rate=16000, block_size=256, subframe=mode)
    dec, rate = decode_flac(enc)
    assert rate == 16000
    assert np.array_equal(dec[:, 0], x.astype(np.int32))


def test_constant_subframe_compresses():
    x = np.full(4096, 777, np.int16)
    enc = encode_flac(x, subframe="auto")
    assert len(enc) < 120  # one constant subframe, not 8 KiB
    dec, _ = decode_flac(enc)
    assert np.array_equal(dec[:, 0], x.astype(np.int32))


def test_fixed_beats_verbatim_on_smooth_signal():
    x = _signal(4000)
    fixed = encode_flac(x, block_size=512, subframe="fixed")
    verb = encode_flac(x, block_size=512, subframe="verbatim")
    assert len(fixed) < len(verb) < x.nbytes + 200


def test_rice_partitions():
    x = _signal(512, seed=3)
    for po in (0, 1, 2, 3):
        enc = encode_flac(x, block_size=256, partition_order=po)
        dec, _ = decode_flac(enc)
        assert np.array_equal(dec[:, 0], x.astype(np.int32)), po


@pytest.mark.parametrize(
    "stereo", ["independent", "left-side", "right-side", "mid-side"])
def test_stereo_decorrelation(stereo):
    rng = np.random.RandomState(7)
    x = np.empty((700, 2), np.int16)
    x[:, 0] = _signal(700, seed=7)
    x[:, 1] = x[:, 0] + rng.randint(-80, 80, 700)
    enc = encode_flac(x, block_size=192, stereo=stereo)
    dec, _ = decode_flac(enc)
    assert np.array_equal(dec, x.astype(np.int32))
    if stereo != "independent":
        base = encode_flac(x, block_size=192)
        assert len(enc) < len(base)  # side coding actually helps


def test_side_channel_extreme_values():
    """side = l - r spans bps+1 bits: the +/- full-scale corners must
    survive the 17-bit side subframe."""
    x = np.array([[32767, -32768], [-32768, 32767], [0, 0],
                  [32767, 32767]], np.int16)
    for stereo in ("left-side", "right-side", "mid-side"):
        dec, _ = decode_flac(encode_flac(x, block_size=4, stereo=stereo,
                                         subframe="verbatim"))
        assert np.array_equal(dec, x.astype(np.int32)), stereo


def test_bps8_and_multichannel():
    rng = np.random.RandomState(5)
    x = rng.randint(-128, 128, (300, 3)).astype(np.int16)
    dec, _ = decode_flac(encode_flac(x, bps=8, block_size=64))
    assert np.array_equal(dec, x.astype(np.int32))


def test_corruption_detected():
    x = _signal(600)
    enc = bytearray(encode_flac(x, block_size=256))
    enc[-30] ^= 0x55
    with pytest.raises(ValueError, match="CRC|MD5|truncated|sync"):
        decode_flac(bytes(enc))
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"RIFF" + bytes(enc))
    with pytest.raises(ValueError, match="truncated"):
        decode_flac(bytes(enc[:20]))


def test_streaminfo_md5_verified():
    """Flipping one PCM-affecting residual bit while fixing both frame
    CRCs still trips the STREAMINFO MD5 — the end-to-end check."""
    x = _signal(64)
    enc = bytearray(encode_flac(x, block_size=64, subframe="verbatim"))
    # find the single frame: it follows 4 + 4 + 34 bytes of header
    frame_at = 4 + 4 + 34
    frame = enc[frame_at:]
    # flip a bit deep in the subframe body, then recompute both CRCs
    frame[len(frame) // 2] ^= 0x01
    hdr_len = None
    # header = fixed 4 bytes + utf8(0)=1 + blocksize16=2, then crc8
    hdr_len = 4 + 1 + 2
    frame[hdr_len] = crc8(bytes(frame[:hdr_len]))
    body = bytes(frame[:-2])
    frame[-2:] = crc16(body).to_bytes(2, "big")
    enc[frame_at:] = frame
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(enc))
    # and verify_md5=False decodes the (corrupt) stream without raising
    decode_flac(bytes(enc), verify_md5=False)


def test_bitio_roundtrip():
    w = MsbWriter()
    vals = [(5, 3), (0, 1), (1023, 10), (1, 1), (0xABCDE, 20)]
    for v, n in vals:
        w.write(v, n)
    w.align()
    r = MsbReader(w.getvalue(), "FLAC")
    for v, n in vals:
        assert r.read(v.bit_length() if False else n) == v


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    block=st.sampled_from([16, 64, 192, 256]),
    mode=st.sampled_from(["auto", "verbatim", "fixed", "lpc"]),
)
def test_property_roundtrip_mono(data, block, mode):
    x = np.array(data, np.int16)
    dec, rate = decode_flac(
        encode_flac(x, block_size=block, subframe=mode))
    assert rate == 8000
    assert np.array_equal(dec[:, 0], x.astype(np.int32))


@settings(max_examples=15, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(-32768, 32767), st.integers(-32768, 32767)),
        min_size=2, max_size=300),
    stereo=st.sampled_from(
        ["independent", "left-side", "right-side", "mid-side"]),
    po=st.sampled_from([0, 1, 2]),
)
def test_property_roundtrip_stereo(data, stereo, po):
    x = np.array(data, np.int16)
    dec, _ = decode_flac(encode_flac(
        x, block_size=64, stereo=stereo, partition_order=po))
    assert np.array_equal(dec, x.astype(np.int32))


def test_flac_payload_matches_wav_pcm():
    """q361's contract: FLAC payload decodes to the IDENTICAL PCM the
    pcm16 WAV path produces for the same text."""
    from gfw_pixetl_spark.functions.multimodal import (
        flac_payload, wav_payload,
    )
    from gfw_pixetl_spark.sources.wav import decode_wav

    for text in ("hello", "world", "x" * 100):
        wav_s, wav_r = decode_wav(wav_payload(text, codec="pcm16"))
        flac_s, flac_r = decode_flac(flac_payload(text))
        assert wav_r == flac_r
        assert np.array_equal(flac_s, wav_s.astype(np.int32))


def test_lpc_partitions_clamped_and_odd_bps_md5():
    """LPC subframes clamp the Rice partition order exactly like the
    fixed branch (16-sample block, order 8, partition_order 2 would go
    negative); 12-bit depth packs 2-byte samples into the MD5."""
    x = _signal(16, seed=9)
    dec, _ = decode_flac(encode_flac(
        x, block_size=16, subframe="lpc", lpc_order=8, partition_order=2))
    assert np.array_equal(dec[:, 0], x.astype(np.int32))
    x12 = (_signal(200, seed=4) // 16).astype(np.int16)  # 12-bit range
    dec, _ = decode_flac(encode_flac(x12, bps=12, block_size=64))
    assert np.array_equal(dec[:, 0], x12.astype(np.int32))
