"""Kafka log-segment (RecordBatch v2) codec tests —
sources/kafkalog.py."""

from __future__ import annotations

import struct
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.kafkalog import (
    iter_segment,
    scan_segment,
    write_segment,
)

_REC = st.tuples(
    st.one_of(st.none(), st.binary(max_size=20)),
    st.one_of(st.none(), st.binary(max_size=200)),
    st.lists(st.tuples(st.binary(max_size=8),
                       st.one_of(st.none(), st.binary(max_size=16))),
             max_size=3),
)


@given(st.lists(_REC, min_size=1, max_size=30), st.integers(1, 7),
       st.integers(0, 10**12))
@settings(max_examples=60, deadline=None)
def test_round_trip(recs, batch_size, base_offset):
    recs = [(k, v, list(h)) for k, v, h in recs]
    seg = write_segment(recs, base_offset=base_offset,
                        batch_size=batch_size)
    back = iter_segment(seg)
    assert len(back) == len(recs)
    for i, (r, (k, v, h)) in enumerate(zip(back, recs)):
        assert r["offset"] == base_offset + i
        assert r["key"] == k and r["value"] == v
        assert r["headers"] == h
    # timestamps ascend monotonically across batches
    ts = [r["timestamp"] for r in back]
    assert ts == sorted(ts)


def test_crc_gate_and_resync():
    recs = [(str(i).encode(), b"v" * 50, []) for i in range(9)]
    seg = write_segment(recs, batch_size=3)  # 3 batches
    (_, bl) = struct.unpack(">qi", seg[:12])
    dam = bytearray(seg)
    dam[12 + bl + 70] ^= 0xFF  # corrupt the middle batch's payload
    got, c = scan_segment(bytes(dam))
    assert len(got) == 6  # batches 1 and 3 survive
    assert c["bad_batches"] == 1 and c["batches"] == 2
    assert c["junk_bytes"] > 0
    with pytest.raises(ValueError, match="CRC"):
        iter_segment(bytes(dam))


def test_leading_junk_resync_exact_accounting():
    seg = write_segment([(b"k", b"value", [])])
    got, c = scan_segment(b"\xde\xad\xbe\xef" * 4 + seg)
    assert len(got) == 1 and c["junk_bytes"] == 16


def test_all_four_codecs_round_trip():
    recs = [(str(i).encode(), f"value-{i} ".encode() * 10,
             [(b"lang", b"en")]) for i in range(20)]
    plain = write_segment(recs, batch_size=7)
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        seg = write_segment(recs, batch_size=7, compression=codec)
        assert len(seg) < len(plain)  # each codec genuinely compresses
        back = iter_segment(seg)
        assert [(r["key"], r["value"], r["headers"]) for r in back] \
            == recs


def test_reserved_codec_refused():
    seg = bytearray(write_segment([(b"k", b"v", [])]))
    from gfw_pixetl_spark.sources.tfrecord import crc32c

    seg[22] |= 5  # attributes low byte: reserved codec id
    (_, bl) = struct.unpack(">qi", bytes(seg[:12]))
    end = 12 + bl
    struct.pack_into(">I", seg, 17, crc32c(bytes(seg[21:end])))
    with pytest.raises(ValueError, match="reserved"):
        iter_segment(bytes(seg))


def test_negative_header_key_length_refused(monkeypatch):
    """A header key of length -2 after a length -1 byte would send the
    parser back one byte per header: with 2^28 - 1 headers declared, a
    73-byte CRC-valid segment loops for minutes instead of failing."""
    from gfw_pixetl_spark.sources import kafkalog

    def record(*_):
        body = bytes([0, 0, 0, 1, 1])  # attrs, ts, offset, null key/value
        body += bytes([0xFE, 0xFF, 0xFF, 0xFF, 0x01])  # 2^28 - 1 headers
        body += bytes([0x03])  # header key length -2
        return bytes([2 * len(body)]) + body

    monkeypatch.setattr(kafkalog, "_encode_record", record)
    seg = write_segment([(None, None, [])])
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="null header key"):
        iter_segment(seg)
    assert time.perf_counter() - t0 < 1.0


def test_damaged_compressed_batch_resyncs():
    recs = [(str(i).encode(), b"v" * 40, []) for i in range(20)]
    seg = write_segment(recs, batch_size=7, compression="snappy")
    (_, bl) = struct.unpack(">qi", seg[:12])
    dam = bytearray(seg)
    dam[12 + bl + 70] ^= 0xFF
    got, c = scan_segment(bytes(dam))
    assert len(got) == 13 and c["bad_batches"] == 1


def test_truncation_raises():
    seg = write_segment([(b"k", b"v" * 100, [])])
    with pytest.raises(ValueError):
        iter_segment(seg[: len(seg) // 2])
