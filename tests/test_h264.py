"""H.264 AVCC/NAL indexing (sources/h264.py): bit-level round trips,
SPS grammar over the dimension grid, slice-header prefixes, avcC, and
the mp4 integration the q436 kernel uses."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources import h264
from gfw_pixetl_spark.sources.bitio import MsbReader, MsbWriter
from gfw_pixetl_spark.sources.bmff import encode_mp4_tracks, sample_ranges


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_emulation_prevention_roundtrip(raw):
    assert h264.ebsp_to_rbsp(h264.rbsp_to_ebsp(raw)) == raw


def test_emulation_prevention_inserts():
    assert h264.rbsp_to_ebsp(b"\x00\x00\x01") == b"\x00\x00\x03\x01"
    assert h264.rbsp_to_ebsp(b"\x00\x00\x00") == b"\x00\x00\x03\x00"
    assert h264.rbsp_to_ebsp(b"\x00\x00\x04") == b"\x00\x00\x04"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 100000), min_size=1, max_size=8))
def test_expgolomb_ue_roundtrip(vals):
    w = MsbWriter()
    for v in vals:
        w.ue(v)
    w.write(1, 1)
    r = MsbReader(w.getvalue(), "h264")
    assert [r.ue() for _ in vals] == vals


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-50000, 50000), min_size=1, max_size=8))
def test_expgolomb_se_roundtrip(vals):
    w = MsbWriter()
    for v in vals:
        w.se(v)
    w.write(1, 1)
    r = MsbReader(w.getvalue(), "h264")
    assert [r.se() for _ in vals] == vals


@pytest.mark.parametrize("w,h", [
    (16, 16), (160, 90), (1920, 1080), (1280, 720), (320, 240),
    (318, 178), (354, 98), (3840, 2160),
])
def test_sps_dimension_grid(w, h):
    sps = h264.parse_sps(h264.build_sps(w, h))
    assert (sps.width, sps.height) == (w, h)


def test_truncated_headers_raise_value_error():
    sps = h264.build_sps(640, 360)
    for cut in range(1, len(sps)):
        with pytest.raises(ValueError, match="truncated"):
            h264.parse_sps(sps[:cut])
    idr = h264.build_slice(True, 3, 4, b"", idr_pic_id=300)
    for cut in range(1, len(idr)):
        with pytest.raises(ValueError, match="truncated"):
            h264.parse_slice_header(idr[:cut], 4)


def test_sps_rejects_odd_dimensions():
    with pytest.raises(ValueError, match="2-px"):
        h264.build_sps(161, 90)


def test_sps_profile_level_passthrough():
    sps = h264.parse_sps(h264.build_sps(160, 90, profile_idc=77,
                                        level_idc=41))
    assert sps.profile_idc == 77 and sps.level_idc == 41


@settings(max_examples=100, deadline=None)
@given(
    idr=st.booleans(),
    fn=st.integers(0, 255),
    payload=st.binary(max_size=40),
)
def test_slice_header_roundtrip(idr, fn, payload):
    nal = h264.build_slice(idr, fn, 8, payload)
    hdr = h264.parse_slice_header(nal, 8)
    assert hdr.frame_num == fn
    assert hdr.first_mb == 0 and hdr.pps_id == 0
    assert (hdr.idr_pic_id is not None) == idr
    assert h264.slice_type_name(hdr.slice_type) == ("I" if idr else "P")


def test_avcc_roundtrip():
    sps = h264.build_sps(640, 360, profile_idc=66, level_idc=30)
    pps = h264.build_pps()
    for ls in (1, 2, 4):
        cfg = h264.parse_avcc(h264.build_avcc([sps], [pps],
                                              length_size=ls))
        assert cfg["length_size"] == ls
        assert cfg["sps"] == [sps] and cfg["pps"] == [pps]
        assert cfg["profile_idc"] == 66 and cfg["level_idc"] == 30


def test_sample_nal_walk_rejects_truncation():
    sps = h264.build_sps(160, 90)
    sample = h264.avcc_sample([sps])
    with pytest.raises(ValueError, match="overruns"):
        list(h264.iter_sample_nals(sample[:-2]))


def test_mp4_integration_keyframe_index():
    sps = h264.build_sps(316, 178)
    pps = h264.build_pps()
    avcc = h264.build_avcc([sps], [pps])
    samples = []
    sync = []
    for i in range(10):
        idr = i % 4 == 0
        nals = ([sps, pps, h264.build_sei()] if idr else [])
        nals.append(h264.build_slice(idr, i, 8, bytes([i]) * 25))
        samples.append(h264.avcc_sample(nals))
        if idr:
            sync.append(i + 1)
    mp4 = encode_mp4_tracks([{
        "samples": samples, "handler": b"vide", "fourcc": "avc1",
        "width": 316, "height": 178,
        "entry_extra": h264.avc_fourcc_entry_extra(avcc),
        "sync_samples": sync,
    }])
    idx = sample_ranges(mp4)
    assert idx["format"] == "avc1"
    assert idx["sync_samples"] == sync == [1, 5, 9]
    size, four = struct.unpack(">I4s", idx["entry_extra"][:8])
    assert four == b"avcC"
    cfg = h264.parse_avcc(idx["entry_extra"][8:size])
    got = []
    for i, (off, sz, _dts) in enumerate(idx["samples"], start=1):
        info = h264.index_sample(mp4[off:off + sz], cfg["length_size"])
        if info["idr"]:
            got.append(i)
            assert info["has_sps"] and info["has_pps"] and info["has_sei"]
    assert got == sync
    assert h264.parse_sps(cfg["sps"][0]).width == 316


def test_stss_absent_means_none():
    mp4 = encode_mp4_tracks([{
        "samples": [b"abc"], "handler": b"vide", "fourcc": "png ",
        "width": 4, "height": 4,
    }])
    assert sample_ranges(mp4)["sync_samples"] is None
