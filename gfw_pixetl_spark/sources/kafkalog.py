"""Pure-Python Kafka log-segment codec (RecordBatch magic v2, the
on-disk/wire format documented in the Apache Kafka protocol guide and
KIP-98): event streams get archived to object stores as raw segment
dumps, and a training-data pipeline replays them without a broker.

Format (all multi-byte batch-header fields big-endian):

    baseOffset int64 | batchLength int32 | partitionLeaderEpoch int32 |
    magic int8 (=2) | crc uint32 (CRC32C of everything after it) |
    attributes int16 | lastOffsetDelta int32 | baseTimestamp int64 |
    maxTimestamp int64 | producerId int64 | producerEpoch int16 |
    baseSequence int32 | recordsCount int32 | records...

Records use zigzag varints (length, timestampDelta, offsetDelta,
key/value/header lengths with -1 for null). All four Kafka
compression codecs decode with in-tree code — gzip (zlib), snappy
(``sources/snappy.py``), lz4 frames (``sources/lz4.py``), zstd
(``sources/zstd.py``); reserved codec ids and xerial-framed legacy
snappy are refused clearly. CRC32C comes from ``sources/tfrecord.py``
(RFC 3720-vectored). ``scan_segment`` is the lenient walk: a corrupt batch
is skipped by scanning for the next position whose magic byte and
CRC both validate — the same skip-and-count contract as scan_warc /
scan_tfrecord.
"""

from __future__ import annotations

import struct

from .bitio import read_uvarint, unzigzag, write_uvarint, zigzag
from .tfrecord import crc32c

_HEADER_LEN = 61  # baseOffset..recordsCount inclusive
_CRC_OFFSET = 21  # crc field position within the batch
_MAGIC_OFFSET = 16


def _read_blob(buf: bytes, p: int) -> tuple[bytes | None, int]:
    """A zigzag-varint length, then that many bytes; length -1 is null."""
    n, p = read_uvarint(buf, p, "kafka")
    n = unzigzag(n)
    if n < 0:
        return None, p
    return buf[p:p + n], p + n


def _encode_record(offset_delta: int, ts_delta: int,
                   key: bytes | None, value: bytes | None,
                   headers: list[tuple[bytes, bytes]]) -> bytes:
    body = bytearray()
    body.append(0)  # record attributes (unused by the spec)
    write_uvarint(body, zigzag(ts_delta))
    write_uvarint(body, zigzag(offset_delta))
    for blob in (key, value):
        if blob is None:
            write_uvarint(body, zigzag(-1))
        else:
            write_uvarint(body, zigzag(len(blob)))
            body += blob
    write_uvarint(body, zigzag(len(headers)))
    for hk, hv in headers:
        write_uvarint(body, zigzag(len(hk)))
        body += hk
        if hv is None:
            write_uvarint(body, zigzag(-1))
        else:
            write_uvarint(body, zigzag(len(hv)))
            body += hv
    out = bytearray()
    write_uvarint(out, zigzag(len(body)))
    return bytes(out) + bytes(body)


_CODECS = {None: 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}


def _compress_records(recs: bytes, codec: str | None) -> bytes:
    if codec is None:
        return recs
    if codec == "gzip":
        import gzip

        return gzip.compress(recs, mtime=0)
    if codec == "snappy":
        from .snappy import compress

        return compress(recs)
    if codec == "lz4":
        from .lz4 import compress_frame

        return compress_frame(recs)
    if codec == "zstd":
        from .zstd import compress

        return compress(recs)
    raise ValueError(f"kafka: unknown codec {codec!r}")


def _decompress_records(blob: bytes, codec_id: int) -> bytes:
    if codec_id == 1:
        import gzip

        return gzip.decompress(blob)
    if codec_id == 2:
        if blob[:8] == b"\x82SNAPPY\x00":
            raise ValueError(
                "kafka: xerial-framed snappy (legacy message format) "
                "is not the v2 raw-block layout")
        from .snappy import decompress

        return decompress(blob)
    if codec_id == 3:
        from .lz4 import decompress

        return decompress(blob)
    if codec_id == 4:
        from .zstd import decompress

        return decompress(blob)
    raise ValueError(f"kafka: reserved compression codec {codec_id}")


def write_segment(records: list[tuple], base_offset: int = 0,
                  base_ts: int = 1_700_000_000_000,
                  batch_size: int = 500,
                  compression: str | None = None) -> bytes:
    """Records are (key bytes|None, value bytes|None, headers list);
    offsets are consecutive from ``base_offset``, timestamps ascend by
    one ms per record. Emits one v2 batch per ``batch_size`` chunk,
    optionally compressing each batch's records section with any of
    Kafka's four codecs (gzip/snappy/lz4/zstd — all in-tree)."""
    out = bytearray()
    for start in range(0, len(records), batch_size):
        chunk = records[start:start + batch_size]
        recs = b"".join(
            _encode_record(i, i, k, v, h)
            for i, (k, v, h) in enumerate(chunk))
        recs = _compress_records(recs, compression)
        after_crc = struct.pack(
            ">hiqqqhii",
            _CODECS[compression],      # attributes: compression bits
            len(chunk) - 1,            # lastOffsetDelta
            base_ts + start,           # baseTimestamp
            base_ts + start + len(chunk) - 1,
            -1, -1, -1,                # producerId/Epoch, baseSequence
            len(chunk),
        ) + recs
        crc = crc32c(after_crc)
        batch_wo_len = (struct.pack(">ib", 0, 2)   # epoch, magic
                        + struct.pack(">I", crc) + after_crc)
        out += struct.pack(">qi", base_offset + start,
                           len(batch_wo_len)) + batch_wo_len
    return bytes(out)


def _parse_batch(data: bytes, pos: int) -> tuple[list[dict], int]:
    """One batch at ``pos`` -> (records, next_pos). Raises on any
    inconsistency (strict mode; scan_segment catches and resyncs)."""
    if pos + 12 > len(data):
        raise ValueError("kafka: truncated batch header")
    base_offset, batch_len = struct.unpack(">qi", data[pos:pos + 12])
    end = pos + 12 + batch_len
    if batch_len < _HEADER_LEN - 12 or end > len(data):
        raise ValueError("kafka: batch length out of bounds")
    if data[pos + _MAGIC_OFFSET] != 2:
        raise ValueError("kafka: unsupported magic "
                         f"{data[pos + _MAGIC_OFFSET]}")
    (crc,) = struct.unpack(">I", data[pos + 17:pos + 21])
    if crc32c(data[pos + 21:end]) != crc:
        raise ValueError("kafka: batch CRC32C mismatch")
    (attributes, last_delta, base_ts, _max_ts, _pid, _pepoch, _bseq,
     n_records) = struct.unpack(">hiqqqhii", data[pos + 21:pos + 61])
    codec_id = attributes & 0x07
    if codec_id:
        buf = _decompress_records(data[pos + 61:end], codec_id)
        p, bend = 0, len(buf)
    else:
        buf = data
        p, bend = pos + 61, end
    records = []
    for _ in range(n_records):
        rlen, p = read_uvarint(buf, p, "kafka")
        rend = p + unzigzag(rlen)
        if rend > bend:
            raise ValueError("kafka: record overruns its batch")
        p += 1  # record attributes
        ts_delta, p = read_uvarint(buf, p, "kafka")
        off_delta, p = read_uvarint(buf, p, "kafka")
        key, p = _read_blob(buf, p)
        value, p = _read_blob(buf, p)
        nh, p = read_uvarint(buf, p, "kafka")
        headers = []
        for _ in range(unzigzag(nh)):
            hk, p = _read_blob(buf, p)
            if hk is None:  # a negative length would walk p backwards
                raise ValueError("kafka: null header key")
            hv, p = _read_blob(buf, p)
            headers.append((hk, hv))
        if p != rend:
            raise ValueError("kafka: record length inconsistent")
        records.append({
            "offset": base_offset + unzigzag(off_delta),
            "timestamp": base_ts + unzigzag(ts_delta),
            "key": key, "value": value, "headers": headers,
        })
    if records and records[-1]["offset"] != base_offset + last_delta:
        raise ValueError("kafka: lastOffsetDelta inconsistent")
    if p != bend:
        raise ValueError("kafka: trailing bytes inside batch")
    return records, end


def iter_segment(data: bytes) -> list[dict]:
    """Strict walk of a whole segment file."""
    out = []
    pos = 0
    while pos < len(data):
        records, pos = _parse_batch(data, pos)
        out.extend(records)
    return out


def scan_segment(data: bytes) -> tuple[list[dict], dict]:
    """Lenient walk: a corrupt batch is skipped by scanning forward
    for the next offset whose magic byte AND CRC both validate.
    Returns (records, counters)."""
    out = []
    counters = {"batches": 0, "bad_batches": 0, "junk_bytes": 0}
    pos = 0
    while pos < len(data):
        try:
            records, nxt = _parse_batch(data, pos)
            out.extend(records)
            counters["batches"] += 1
            pos = nxt
            continue
        except ValueError:
            counters["bad_batches"] += 1
        nxt = -1
        probe = pos + 1
        while probe + _HEADER_LEN <= len(data):
            if data[probe + _MAGIC_OFFSET] == 2:
                try:
                    _parse_batch(data, probe)
                    nxt = probe
                    break
                except ValueError:
                    pass
            probe += 1
        if nxt < 0:
            counters["junk_bytes"] += len(data) - pos
            break
        counters["junk_bytes"] += nxt - pos
        pos = nxt
    return out, counters
