"""Pure-Python Apache ORC reader/writer.

ORC is the third mainstream columnar format next to Parquet and Arrow
IPC (both already in-tree for interop) — the Hive/Trino ecosystem's
default. Everything here derives from the public ORC specification
(https://orc.apache.org/specification/ORCv1/): the file layout
(``"ORC" header .. stripes .. metadata .. footer .. postscript ..
1-byte postscript length``), protobuf-encoded metadata, the chunked
compression framing (3-byte little-endian ``(length << 1) | original``
headers over raw-DEFLATE/snappy/zstd/lz4 chunks), byte-RLE, boolean
bit-RLE, integer RLE v1, and all four integer RLE v2 sub-encodings
(SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA).

Scope: the flat-struct column types the engine's tables use — LONG,
INT, DOUBLE, FLOAT, STRING (DIRECT and DICTIONARY encodings), BOOLEAN
— with nullable PRESENT streams. The writer emits DIRECT/RLEv1
streams with optional ZLIB framing plus per-column integer/string
statistics; the reader additionally decodes the RLEv2 and dictionary
encodings that Spark's and pyarrow's native writers produce.

Cross-validation: ``tests/test_orc.py`` round-trips
our-writer→pyarrow.orc, our-writer→Spark, Spark-writer→our-reader,
pyarrow-writer→our-reader; harness queries q444+ repeat the interop
through the DuckDB value oracle.

The reference engine has no columnar sink at all (it writes GeoTIFF,
``pipes/pipe.py``); this extends the engine's lakehouse surface the
same way sources/deltalog.py and sources/iceberg.py do.
"""

from __future__ import annotations

import decimal
import struct
import zlib
from typing import Any, Iterable

from .bitio import (
    read_uvarint, refuse_damage, unzigzag, write_uvarint, zigzag,
)

MAGIC = b"ORC"

# Type.Kind (orc_proto.proto, public)
K_BOOLEAN = 0
K_BYTE = 1
K_SHORT = 2
K_INT = 3
K_LONG = 4
K_FLOAT = 5
K_DOUBLE = 6
K_STRING = 7
K_BINARY = 8
K_TIMESTAMP = 9
K_DECIMAL = 14
K_DATE = 15
K_STRUCT = 12
K_VARCHAR = 16
K_CHAR = 17

KIND_NAMES = {
    K_BOOLEAN: "boolean", K_BYTE: "tinyint", K_SHORT: "smallint",
    K_INT: "int", K_LONG: "bigint", K_FLOAT: "float", K_DOUBLE: "double",
    K_STRING: "string", K_BINARY: "binary", K_DATE: "date",
    K_TIMESTAMP: "timestamp", K_DECIMAL: "decimal",
    K_STRUCT: "struct", K_VARCHAR: "string", K_CHAR: "string",
}

# Stream.Kind
S_PRESENT = 0
S_DATA = 1
S_LENGTH = 2
S_DICTIONARY_DATA = 3
S_SECONDARY = 5
S_ROW_INDEX = 6

# ColumnEncoding.Kind
E_DIRECT = 0
E_DICTIONARY = 1
E_DIRECT_V2 = 2
E_DICTIONARY_V2 = 3

# CompressionKind
C_NONE = 0
C_ZLIB = 1
C_SNAPPY = 2
C_LZO = 3
C_LZ4 = 4
C_ZSTD = 5


# --------------------------------------------------------------------------
# Minimal protobuf (proto2 wire format) encode/decode
# --------------------------------------------------------------------------

def pb_field(fid: int, wire: int, payload: int | bytes) -> bytes:
    out = bytearray()
    write_uvarint(out, (fid << 3) | wire)
    if wire == 0:
        write_uvarint(out, payload)  # type: ignore[arg-type]
    elif wire == 2:
        assert isinstance(payload, (bytes, bytearray))
        write_uvarint(out, len(payload))
        out += payload
    else:
        raise ValueError(f"wire {wire}")
    return bytes(out)


def pb_decode(data: bytes) -> dict[int, list[Any]]:
    """Decode one message into {field: [values]} (LEN values stay bytes)."""
    fields: dict[int, list[Any]] = {}
    pos = 0
    n = len(data)
    while pos < n:
        key, pos = read_uvarint(data, pos, "orc")
        fid, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = read_uvarint(data, pos, "orc")
            fields.setdefault(fid, []).append(v)
        elif wire == 2:
            ln, pos = read_uvarint(data, pos, "orc")
            fields.setdefault(fid, []).append(bytes(data[pos:pos + ln]))
            pos += ln
        elif wire == 5:
            fields.setdefault(fid, []).append(
                struct.unpack_from("<I", data, pos)[0])
            pos += 4
        elif wire == 1:
            fields.setdefault(fid, []).append(
                struct.unpack_from("<Q", data, pos)[0])
            pos += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
    return fields


def _one(fields: dict[int, list[Any]], fid: int, default: Any = None) -> Any:
    v = fields.get(fid)
    return v[0] if v else default


# --------------------------------------------------------------------------
# Compression framing
# --------------------------------------------------------------------------

def compress_stream(raw: bytes, kind: int, block: int = 262144) -> bytes:
    """Frame a stream as ORC compression chunks."""
    if kind == C_NONE:
        return raw
    out = bytearray()
    for i in range(0, len(raw), block):
        chunk = raw[i:i + block]
        if kind == C_ZLIB:
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            packed = comp.compress(chunk) + comp.flush()
        else:
            raise ValueError("writer supports NONE/ZLIB only")
        if len(packed) < len(chunk):
            header = (len(packed) << 1)
            body = packed
        else:
            header = (len(chunk) << 1) | 1  # original
            body = chunk
        out += struct.pack("<I", header)[:3] + body
    return bytes(out)


def decompress_stream(data: bytes, kind: int) -> bytes:
    if kind == C_NONE:
        return data
    out = bytearray()
    pos = 0
    while pos < len(data):
        header = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        pos += 3
        length = header >> 1
        chunk = bytes(data[pos:pos + length])
        pos += length
        if header & 1:  # stored as-is
            out += chunk
        elif kind == C_ZLIB:
            out += zlib.decompress(chunk, -15)
        elif kind == C_SNAPPY:
            from .snappy import decompress as snappy_dec

            out += snappy_dec(chunk)
        elif kind == C_ZSTD:
            from .zstd import decompress as zstd_dec

            out += zstd_dec(chunk)
        elif kind == C_LZ4:
            from .lz4 import decompress_block

            # ORC LZ4 chunks are raw blocks; original size unknown —
            # decompress_block takes max size hint.
            out += decompress_block(chunk)
        else:
            raise ValueError(f"unsupported ORC compression {kind}")
    return bytes(out)


# --------------------------------------------------------------------------
# Byte / boolean / integer RLE codecs
# --------------------------------------------------------------------------

def byte_rle_encode(values: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(values)
    while i < n:
        # find run
        run = 1
        while (i + run < n and run < 130
               and values[i + run] == values[i]):
            run += 1
        if run >= 3:
            out.append(run - 3)
            out.append(values[i])
            i += run
            continue
        # literals until a run of >=3 starts
        j = i
        while j < n and j - i < 128:
            if (j + 2 < n and values[j] == values[j + 1] == values[j + 2]):
                break
            j += 1
        out.append(256 - (j - i))
        out += values[i:j]
        i = j
    return bytes(out)


def byte_rle_decode(data: bytes, n: int) -> bytes:
    out = bytearray()
    pos = 0
    while len(out) < n:
        h = data[pos]
        pos += 1
        if h < 128:
            out += bytes([data[pos]]) * (h + 3)
            pos += 1
        else:
            count = 256 - h
            out += data[pos:pos + count]
            pos += count
    return bytes(out[:n])


def bool_rle_encode(bits: Iterable[bool]) -> bytes:
    bits = list(bits)
    nbytes = (len(bits) + 7) // 8
    buf = bytearray(nbytes)
    for i, b in enumerate(bits):
        if b:
            buf[i >> 3] |= 0x80 >> (i & 7)  # msb-first
    return byte_rle_encode(bytes(buf))


def bool_rle_decode(data: bytes, n: int) -> list[bool]:
    raw = byte_rle_decode(data, (n + 7) // 8)
    return [bool(raw[i >> 3] & (0x80 >> (i & 7))) for i in range(n)]


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def byte(self) -> int:
        try:
            b = self.data[self.pos]
        except IndexError:
            raise ValueError("orc: RLE run past the end of its stream") from None
        self.pos += 1
        return b


def int_rle1_encode(values: list[int], signed: bool) -> bytes:
    """ORC RLE v1: runs of 3-130 with byte delta, or 1-128 literals."""
    enc = [(zigzag(v) if signed else v) for v in values]
    out = bytearray()
    i = 0
    n = len(values)
    while i < n:
        # detect fixed-delta run on the ORIGINAL values (delta in -128..127)
        run = 1
        if i + 1 < n:
            delta = values[i + 1] - values[i]
            if -128 <= delta <= 127:
                run = 2
                while (i + run < n and run < 130
                       and values[i + run] - values[i + run - 1] == delta):
                    run += 1
        if run >= 3:
            out.append(run - 3)
            out.append(delta & 0xFF)
            write_uvarint(out, enc[i])
            i += run
            continue
        j = i
        while j < n and j - i < 128:
            if j + 2 < n:
                d = values[j + 1] - values[j]
                if -128 <= d <= 127 and values[j + 2] - values[j + 1] == d:
                    break
            j += 1
        out.append(256 - (j - i))
        for k in range(i, j):
            write_uvarint(out, enc[k])
        i = j
    return bytes(out)


def int_rle1_decode(r: _Reader, n: int, signed: bool) -> list[int]:
    out: list[int] = []
    while len(out) < n:
        h = r.byte()
        if h < 128:
            count = h + 3
            delta = r.byte()
            if delta >= 128:
                delta -= 256
            base, r.pos = read_uvarint(r.data, r.pos, "orc")
            if signed:
                base = unzigzag(base)
            for k in range(count):
                out.append(base + k * delta)
        else:
            count = 256 - h
            for _ in range(count):
                v, r.pos = read_uvarint(r.data, r.pos, "orc")
                out.append(unzigzag(v) if signed else v)
    return out[:n]


# ---- RLE v2 (reader) ------------------------------------------------------

_FBS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]


def _decode_width(code: int) -> int:
    return _FBS[code]


def _read_bitpacked(r: _Reader, count: int, width: int) -> list[int]:
    out = []
    acc = 0
    nbits = 0
    for _ in range(count):
        while nbits < width:
            acc = (acc << 8) | r.byte()
            nbits += 8
        nbits -= width
        out.append((acc >> nbits) & ((1 << width) - 1))
        acc &= (1 << nbits) - 1
    return out


def _read_be(r: _Reader, nbytes: int) -> int:
    v = 0
    for _ in range(nbytes):
        v = (v << 8) | r.byte()
    return v


def int_rle2_decode(r: _Reader, n: int, signed: bool) -> list[int]:
    out: list[int] = []
    while len(out) < n:
        first = r.byte()
        mode = first >> 6
        if mode == 0:  # SHORT_REPEAT
            width = ((first >> 3) & 0x07) + 1
            repeat = (first & 0x07) + 3
            v = _read_be(r, width)
            if signed:
                v = unzigzag(v)
            out += [v] * repeat
        elif mode == 1:  # DIRECT
            width = _decode_width((first >> 1) & 0x1F)
            length = ((first & 1) << 8 | r.byte()) + 1
            vals = _read_bitpacked(r, length, width)
            out += [unzigzag(v) for v in vals] if signed else vals
        elif mode == 2:  # PATCHED_BASE
            width = _decode_width((first >> 1) & 0x1F)
            length = ((first & 1) << 8 | r.byte()) + 1
            third = r.byte()
            fourth = r.byte()
            bw = ((third >> 5) & 0x07) + 1
            pw = _decode_width(third & 0x1F)
            pgw = ((fourth >> 5) & 0x07) + 1
            pll = fourth & 0x1F
            base = _read_be(r, bw)
            sign_mask = 1 << (bw * 8 - 1)
            if base & sign_mask:  # sign-magnitude
                base = -(base & (sign_mask - 1))
            vals = _read_bitpacked(r, length, width)
            patch_width = _closest_fixed_bits(pw + pgw)
            patches = _read_bitpacked(r, pll, patch_width)
            gap_pos = 0
            for p in patches:
                gap = p >> pw
                patch_val = p & ((1 << pw) - 1)
                gap_pos += gap
                vals[gap_pos] |= patch_val << width
            out += [base + v for v in vals]
        else:  # DELTA
            wcode = (first >> 1) & 0x1F
            width = 0 if wcode == 0 else _decode_width(wcode)
            length = ((first & 1) << 8 | r.byte()) + 1  # total value count
            base, r.pos = read_uvarint(r.data, r.pos, "orc")
            base = unzigzag(base) if signed else base
            delta_base, r.pos = read_uvarint(r.data, r.pos, "orc")
            delta_base = unzigzag(delta_base)
            seq = [base]
            if length >= 2:
                seq.append(base + delta_base)
                remaining = length - 2
                if width and remaining > 0:
                    deltas = _read_bitpacked(r, remaining, width)
                    sign = 1 if delta_base >= 0 else -1
                    for d in deltas:
                        seq.append(seq[-1] + sign * d)
                else:
                    for _ in range(remaining):
                        seq.append(seq[-1] + delta_base)
            out += seq
    return out[:n]


def _closest_fixed_bits(width: int) -> int:
    for w in _FBS:
        if w >= width:
            return w
    return 64


# ---- RLE v2 (writer) ------------------------------------------------------

def _write_bitpacked(values: list[int], width: int) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    for v in values:
        acc = (acc << width) | (v & ((1 << width) - 1))
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def int_rle2_encode(values: list[int], signed: bool) -> bytes:
    """ORC RLE v2 writer: SHORT_REPEAT for 3-10 constant runs, DELTA
    (width 0) for fixed-delta runs up to 512, DIRECT bit-packed
    literals otherwise — the sub-encodings every modern reader (and
    the decoder above) handles; PATCHED_BASE is a reader-only concern
    here, exactly as with pyarrow's writer."""
    out = bytearray()
    i = 0
    n = len(values)
    while i < n:
        # fixed-delta run length
        run = 1
        if i + 1 < n:
            delta = values[i + 1] - values[i]
            run = 2
            while (i + run < n and run < 512
                   and values[i + run] - values[i + run - 1] == delta):
                run += 1
        else:
            delta = 0
        if run >= 3 and delta == 0 and run <= 10:
            v = zigzag(values[i]) if signed else values[i]
            w = max(1, (v.bit_length() + 7) // 8)
            out.append((0 << 6) | ((w - 1) << 3) | (run - 3))
            out += v.to_bytes(w, "big")
            i += run
            continue
        if run >= 3:
            # DELTA, width 0: base, delta-base, constant stride
            out.append((3 << 6) | ((run - 1) >> 8 & 1))
            out.append((run - 1) & 0xFF)
            base = zigzag(values[i]) if signed else values[i]
            write_uvarint(out, base)
            write_uvarint(out, zigzag(delta))
            i += run
            continue
        # DIRECT literals: until the next >=3 fixed-delta run, max 512
        j = i
        while j < n and j - i < 512:
            if j + 2 < n:
                d = values[j + 1] - values[j]
                if values[j + 2] - values[j + 1] == d:
                    break
            j += 1
        lits = values[i:j]
        enc = [(zigzag(v) if signed else v) for v in lits]
        width = _closest_fixed_bits(max(1, max(v.bit_length()
                                               for v in enc)))
        wcode = _FBS.index(width)
        out.append((1 << 6) | (wcode << 1) | ((len(lits) - 1) >> 8 & 1))
        out.append((len(lits) - 1) & 0xFF)
        out += _write_bitpacked(enc, width)
        i = j
    return bytes(out)


def int_rle_decode(data: bytes, n: int, signed: bool, version: int) -> list[int]:
    r = _Reader(data)
    if version == 1:
        return int_rle1_decode(r, n, signed)
    return int_rle2_decode(r, n, signed)


# --------------------------------------------------------------------------
# Column statistics (protobuf)
# --------------------------------------------------------------------------

def _int_stats(values: list[int | None]) -> bytes:
    present = [v for v in values if v is not None]
    inner = b""
    if present:
        inner = (pb_field(1, 0, zigzag(min(present)))
                 + pb_field(2, 0, zigzag(max(present)))
                 + pb_field(3, 0, zigzag(sum(present))))
    # ColumnStatistics: numberOfValues(1), intStatistics(2), hasNull(10)
    return (pb_field(1, 0, len(present))
            + pb_field(2, 2, inner)
            + pb_field(10, 0, 1 if len(present) != len(values) else 0))


def _str_stats(values: list[str | None]) -> bytes:
    present = [v for v in values if v is not None]
    inner = b""
    if present:
        inner = (pb_field(1, 2, min(present).encode())
                 + pb_field(2, 2, max(present).encode())
                 + pb_field(3, 0, zigzag(sum(len(s) for s in present))))
    return (pb_field(1, 0, len(present))
            + pb_field(4, 2, inner)  # stringStatistics(4)
            + pb_field(10, 0, 1 if len(present) != len(values) else 0))


def _generic_stats(values: list) -> bytes:
    present = [v for v in values if v is not None]
    return (pb_field(1, 0, len(present))
            + pb_field(10, 0, 1 if len(present) != len(values) else 0))


def decode_int_stats(blob: bytes) -> dict[str, Any]:
    f = pb_decode(blob)
    out = {"n_values": _one(f, 1, 0), "has_null": bool(_one(f, 10, 0))}
    if 2 in f:
        inner = pb_decode(f[2][0])
        out["min"] = unzigzag(_one(inner, 1)) if 1 in inner else None
        out["max"] = unzigzag(_one(inner, 2)) if 2 in inner else None
        out["sum"] = unzigzag(_one(inner, 3)) if 3 in inner else None
    if 4 in f:
        inner = pb_decode(f[4][0])
        out["min"] = (inner[1][0].decode() if 1 in inner else None)
        out["max"] = (inner[2][0].decode() if 2 in inner else None)
        out["sum"] = unzigzag(_one(inner, 3)) if 3 in inner else None
    return out


# --------------------------------------------------------------------------
# Writer
# --------------------------------------------------------------------------

_TS_BASE = 1420070400  # 2015-01-01 00:00:00 UTC, the ORC timestamp epoch


# DECIMAL mantissas have up to 38 digits: |m| < 10**38 < 2**127, so the
# zigzag is below 2**128 and its varint at most 19 bytes. Scaling them
# needs a context wider than decimal's default 28 digits.
_DEC_VARINT_BYTES = 19
_DEC_EXACT = decimal.Context(prec=decimal.MAX_PREC)


class OrcColumn:
    def __init__(self, name: str, kind: int, precision: int = 18,
                 scale: int = 2) -> None:
        self.name = name
        self.kind = kind
        self.precision = precision
        self.scale = scale


def _enc_nanos(nanos: int) -> int:
    """ORC SECONDARY nanos: strip trailing decimal zeros, low 3 bits
    encode how many (0 or count-1 for 2..8 removed)."""
    if nanos == 0:
        return 0
    zeros = 0
    while zeros < 7 and nanos % 10 == 0:
        nanos //= 10
        zeros += 1
    if zeros >= 2:
        return (nanos << 3) | (zeros - 1)
    return (nanos * 10 ** zeros) << 3


def _dec_nanos(v: int) -> int:
    zeros = v & 7
    nanos = v >> 3
    if zeros:
        nanos *= 10 ** (zeros + 1)
    return nanos


def _encode_column(kind: int, values: list, compression: int,
                   rle_version: int = 1, scale: int = 2
                   ) -> tuple[list[tuple[int, bytes]], bytes]:
    """Encode one column's stripe data. Returns ([(stream_kind, raw)], stats)."""
    int_enc = int_rle1_encode if rle_version == 1 else int_rle2_encode
    has_null = any(v is None for v in values)
    streams: list[tuple[int, bytes]] = []
    if has_null:
        streams.append((S_PRESENT,
                        bool_rle_encode([v is not None for v in values])))
    present_vals = [v for v in values if v is not None]
    if kind in (K_LONG, K_INT, K_SHORT, K_DATE):
        streams.append((S_DATA, int_enc(
            [int(v) for v in present_vals], signed=True)))
        stats = _int_stats(values)
    elif kind == K_DOUBLE:
        streams.append((S_DATA, b"".join(
            struct.pack("<d", float(v)) for v in present_vals)))
        stats = _generic_stats(values)
    elif kind == K_FLOAT:
        streams.append((S_DATA, b"".join(
            struct.pack("<f", float(v)) for v in present_vals)))
        stats = _generic_stats(values)
    elif kind == K_BOOLEAN:
        streams.append((S_DATA, bool_rle_encode(
            [bool(v) for v in present_vals])))
        stats = _generic_stats(values)
    elif kind == K_TIMESTAMP:
        # DATA: seconds relative to the 2015 base (signed RLE);
        # SECONDARY: trailing-zero-packed nanos (unsigned RLE).
        # Values are int micros since the unix epoch (floor split, so
        # nanos is always non-negative — matching the Java writer).
        secs = []
        nanos = []
        for v in present_vals:
            us = int(v)
            s_abs, us_rem = divmod(us, 1_000_000)
            # ORC stores pre-unix-epoch instants with nonzero nanos
            # as ceiling seconds (readers subtract the second back).
            # The (-1s, 0) sliver is unrepresentable under that
            # convention (ceil lands on 0, which readers treat as
            # positive) — cross-implementation behavior diverges
            # there (ORC-611); refuse rather than silently shift.
            if s_abs < 0 and us_rem != 0:
                if s_abs == -1:
                    raise ValueError(
                        "ORC timestamp in (-1s, 0) before the unix "
                        "epoch is ambiguous across readers")
                s_abs += 1
            secs.append(s_abs - _TS_BASE)
            nanos.append(_enc_nanos(us_rem * 1000))
        streams.append((S_DATA, int_enc(secs, signed=True)))
        streams.append((S_SECONDARY, int_enc(nanos, signed=False)))
        stats = _generic_stats(values)
    elif kind == K_DECIMAL:
        # DATA: zigzag-varint mantissas of up to 38 digits (one varint
        # per value, NOT run-length encoded); SECONDARY: per-value scale.
        body = bytearray()
        for v in present_vals:
            m = int(decimal.Decimal(str(v)).scaleb(scale, _DEC_EXACT))
            if abs(m) >= 10 ** 38:
                raise ValueError(
                    f"orc: decimal {v} needs more than 38 digits")
            write_uvarint(body, zigzag(m))
        streams.append((S_DATA, bytes(body)))
        streams.append((S_SECONDARY, int_enc(
            [scale] * len(present_vals), signed=True)))
        stats = _generic_stats(values)
    elif kind in (K_STRING, K_BINARY):
        blobs = [v.encode() if isinstance(v, str) else bytes(v)
                 for v in present_vals]
        streams.append((S_DATA, b"".join(blobs)))
        streams.append((S_LENGTH, int_enc(
            [len(b) for b in blobs], signed=False)))
        stats = (_str_stats(values) if kind == K_STRING
                 else _generic_stats(values))
    else:
        raise ValueError(f"writer: unsupported kind {kind}")
    return streams, stats


def write_orc(path: str, columns: list[OrcColumn],
              rows: list[tuple], stripe_rows: int = 10000,
              compression: int = C_ZLIB,
              rle_version: int = 1) -> dict[str, Any]:
    """Write a flat-struct ORC file; returns layout facts for audits.

    ``rle_version=2`` emits the modern generation (DIRECT_V2 column
    encodings with RLEv2 integer/length streams) that Spark and
    pyarrow themselves write; 1 keeps the maximally-compatible RLEv1.
    """
    col_enc = E_DIRECT if rle_version == 1 else E_DIRECT_V2
    buf = bytearray(MAGIC)
    stripes_info = []
    all_stats: list[list[bytes]] = [[] for _ in range(len(columns) + 1)]
    stripe_stats_msgs: list[bytes] = []

    for s0 in range(0, max(len(rows), 1), stripe_rows):
        chunk = rows[s0:s0 + stripe_rows]
        if not chunk and rows:
            break
        offset = len(buf)
        n = len(chunk)
        stream_specs: list[tuple[int, int, int]] = []  # (kind, column, len)
        data = bytearray()
        encodings = [pb_field(1, 0, E_DIRECT)]  # root struct
        col_stats = [pb_field(1, 0, n) + pb_field(10, 0, 0)]  # root
        for ci, col in enumerate(columns):
            values = [r[ci] for r in chunk]
            streams, stats = _encode_column(col.kind, values, compression,
                                            rle_version, col.scale)
            for skind, raw in streams:
                framed = compress_stream(raw, compression)
                stream_specs.append((skind, ci + 1, len(framed)))
                data += framed
            # v2 encoding applies only where an integer RLE stream
            # exists; DOUBLE/FLOAT/BOOLEAN stay DIRECT (Java's reader
            # rejects DIRECT_V2 there)
            has_int_stream = col.kind in (
                K_LONG, K_INT, K_SHORT, K_DATE, K_STRING, K_BINARY,
                K_TIMESTAMP, K_DECIMAL)
            encodings.append(pb_field(
                1, 0, col_enc if has_int_stream else E_DIRECT))
            col_stats.append(stats)
        # StripeFooter
        sf = b"".join(
            pb_field(1, 2, pb_field(1, 0, k) + pb_field(2, 0, c)
                     + pb_field(3, 0, ln))
            for k, c, ln in stream_specs
        ) + b"".join(pb_field(2, 2, e) for e in encodings)
        sf_framed = compress_stream(sf, compression)
        buf += data + sf_framed
        stripes_info.append({
            "offset": offset, "indexLength": 0, "dataLength": len(data),
            "footerLength": len(sf_framed), "numberOfRows": n,
        })
        for ci, st in enumerate(col_stats):
            all_stats[ci].append(st)
        stripe_stats_msgs.append(
            b"".join(pb_field(1, 2, st) for st in col_stats))

    # Metadata (StripeStatistics)
    metadata = b"".join(pb_field(1, 2, m) for m in stripe_stats_msgs)
    metadata_framed = compress_stream(metadata, compression)
    buf += metadata_framed

    # Footer: types (preorder), stripes, file stats
    types = [pb_field(1, 0, K_STRUCT)
             + b"".join(pb_field(2, 0, i + 1) for i in range(len(columns)))
             + b"".join(pb_field(3, 2, c.name.encode()) for c in columns)]
    for c in columns:
        t = pb_field(1, 0, c.kind)
        if c.kind == K_DECIMAL:
            t += pb_field(5, 0, c.precision) + pb_field(6, 0, c.scale)
        types.append(t)
    # merge per-stripe stats into file stats (decode-merge for ints/strings)
    file_stats: list[bytes] = []
    for ci in range(len(columns) + 1):
        merged = _merge_stats(all_stats[ci])
        file_stats.append(merged)
    footer = (pb_field(1, 0, 3)                       # headerLength
              + pb_field(2, 0, len(buf) - len(metadata_framed))
              + b"".join(pb_field(
                  3, 2,
                  pb_field(1, 0, s["offset"])
                  + pb_field(2, 0, s["indexLength"])
                  + pb_field(3, 0, s["dataLength"])
                  + pb_field(4, 0, s["footerLength"])
                  + pb_field(5, 0, s["numberOfRows"]))
                  for s in stripes_info)
              + b"".join(pb_field(4, 2, t) for t in types)
              + pb_field(6, 0, len(rows))
              + b"".join(pb_field(7, 2, st) for st in file_stats)
              + pb_field(8, 0, 0))                    # rowIndexStride
    footer_framed = compress_stream(footer, compression)
    buf += footer_framed

    ps = (pb_field(1, 0, len(footer_framed))
          + pb_field(2, 0, compression)
          + (pb_field(3, 0, 262144) if compression != C_NONE else b"")
          + pb_field(4, 0, 0) + pb_field(4, 0, 12)
          + pb_field(5, 0, len(metadata_framed))
          + pb_field(6, 0, 1)
          + pb_field(8000, 2, MAGIC))
    assert len(ps) < 256
    buf += ps + bytes([len(ps)])
    with open(path, "wb") as f:
        f.write(buf)
    return {"n_stripes": len(stripes_info), "n_rows": len(rows),
            "file_bytes": len(buf), "stripes": stripes_info}


def _merge_stats(stats: list[bytes]) -> bytes:
    if not stats:
        return pb_field(1, 0, 0) + pb_field(10, 0, 0)
    decoded = [decode_int_stats(s) for s in stats]
    n = sum(d["n_values"] for d in decoded)
    has_null = any(d["has_null"] for d in decoded)
    mins = [d["min"] for d in decoded if d.get("min") is not None]
    maxs = [d["max"] for d in decoded if d.get("max") is not None]
    sums = [d["sum"] for d in decoded if d.get("sum") is not None]
    raw = pb_decode(stats[0])
    out = pb_field(1, 0, n)
    if 2 in raw and mins:
        out += pb_field(2, 2, pb_field(1, 0, zigzag(min(mins)))
                        + pb_field(2, 0, zigzag(max(maxs)))
                        + pb_field(3, 0, zigzag(sum(sums))))
    elif 4 in raw and mins:
        out += pb_field(4, 2, pb_field(1, 2, min(mins).encode())
                        + pb_field(2, 2, max(maxs).encode())
                        + pb_field(3, 0, zigzag(sum(sums))))
    out += pb_field(10, 0, 1 if has_null else 0)
    return out


# --------------------------------------------------------------------------
# Reader
# --------------------------------------------------------------------------


class OrcFile:
    """Decoded ORC file: metadata immediately, rows on demand. A damaged
    file raises ``ValueError``."""

    @refuse_damage("corrupt ORC file")
    def __init__(self, data: bytes) -> None:
        if not data.startswith(MAGIC):
            raise ValueError("not an ORC file (bad header magic)")
        self.data = data
        ps_len = data[-1]
        ps = pb_decode(data[-1 - ps_len:-1])
        self.compression = _one(ps, 2, C_NONE)
        magic = _one(ps, 8000, b"")
        if magic != MAGIC:
            raise ValueError("not an ORC file (bad postscript magic)")
        footer_len = _one(ps, 1)
        meta_len = _one(ps, 5, 0)
        footer_end = len(data) - 1 - ps_len
        footer_raw = decompress_stream(
            data[footer_end - footer_len:footer_end], self.compression)
        f = pb_decode(footer_raw)
        self.num_rows = _one(f, 6, 0)
        self.row_index_stride = _one(f, 8, 0)
        self.stripes = []
        for s in f.get(3, []):
            sf = pb_decode(s)
            self.stripes.append({
                "offset": _one(sf, 1), "indexLength": _one(sf, 2, 0),
                "dataLength": _one(sf, 3), "footerLength": _one(sf, 4),
                "numberOfRows": _one(sf, 5),
            })
        self.types = []
        for t in f.get(4, []):
            tf = pb_decode(t)
            subs: list[int] = []
            for sv in tf.get(2, []):
                if isinstance(sv, bytes):  # packed repeated uint32
                    p = 0
                    while p < len(sv):
                        sub, p = read_uvarint(sv, p, "orc")
                        subs.append(sub)
                else:
                    subs.append(sv)
            self.types.append({
                "kind": _one(tf, 1, K_STRUCT),
                "subtypes": subs,
                "field_names": [b.decode() for b in tf.get(3, [])],
                "precision": _one(tf, 5), "scale": _one(tf, 6),
            })
        self.file_stats = [decode_int_stats(b) for b in f.get(7, [])]
        meta_start = footer_end - footer_len - meta_len
        self.stripe_stats: list[list[dict]] = []
        if meta_len:
            meta = pb_decode(decompress_stream(
                data[meta_start:meta_start + meta_len], self.compression))
            for ss in meta.get(1, []):
                cols = pb_decode(ss).get(1, [])
                self.stripe_stats.append([decode_int_stats(c) for c in cols])

    @property
    def column_names(self) -> list[str]:
        return self.types[0]["field_names"]

    def _stripe_streams(self, si: int) -> tuple[dict, list[dict]]:
        s = self.stripes[si]
        sf_start = s["offset"] + s["indexLength"] + s["dataLength"]
        sf = pb_decode(decompress_stream(
            self.data[sf_start:sf_start + s["footerLength"]],
            self.compression))
        streams = []
        pos = s["offset"]
        for raw in sf.get(1, []):
            st = pb_decode(raw)
            spec = {"kind": _one(st, 1, 0), "column": _one(st, 2, 0),
                    "length": _one(st, 3, 0), "offset": pos}
            pos += spec["length"]
            streams.append(spec)
        encodings = [
            {"kind": _one(pb_decode(raw), 1, 0),
             "dict_size": _one(pb_decode(raw), 2, 0)}
            for raw in sf.get(2, [])
        ]
        return {"streams": streams, "encodings": encodings}, streams

    def _stream_bytes(self, spec: dict) -> bytes:
        raw = self.data[spec["offset"]:spec["offset"] + spec["length"]]
        return decompress_stream(raw, self.compression)

    @refuse_damage("corrupt ORC file")
    def read_stripe(self, si: int) -> dict[str, list]:
        info, streams = self._stripe_streams(si)
        encodings = info["encodings"]
        n = self.stripes[si]["numberOfRows"]
        out: dict[str, list] = {}
        for ci, name in enumerate(self.column_names):
            col_id = self.types[0]["subtypes"][ci]
            kind = self.types[col_id]["kind"]
            enc = encodings[col_id]["kind"] if col_id < len(encodings) else E_DIRECT
            rle_ver = 2 if enc in (E_DIRECT_V2, E_DICTIONARY_V2) else 1
            specs = {s["kind"]: s for s in streams if s["column"] == col_id
                     and s["kind"] != S_ROW_INDEX}
            present = None
            if S_PRESENT in specs:
                present = bool_rle_decode(
                    self._stream_bytes(specs[S_PRESENT]), n)
            nv = sum(present) if present is not None else n
            dict_size = (encodings[col_id]["dict_size"]
                         if col_id < len(encodings) else 0)
            values = self._decode_values(kind, enc, rle_ver, specs, nv,
                                         dict_size, self.types[col_id])
            if present is not None:
                it = iter(values)
                values = [next(it) if p else None for p in present]
            out[name] = values
        return out

    def _decode_values(self, kind: int, enc: int, rle_ver: int,
                       specs: dict, nv: int, dict_size: int = 0,
                       tinfo: dict | None = None) -> list:
        if kind in (K_LONG, K_INT, K_SHORT, K_BYTE, K_DATE):
            if kind == K_BYTE:
                return list(byte_rle_decode(
                    self._stream_bytes(specs[S_DATA]), nv))
            return int_rle_decode(
                self._stream_bytes(specs[S_DATA]), nv, True, rle_ver)
        if kind == K_DOUBLE:
            raw = self._stream_bytes(specs[S_DATA])
            return list(struct.unpack(f"<{nv}d", raw[:8 * nv]))
        if kind == K_FLOAT:
            raw = self._stream_bytes(specs[S_DATA])
            return list(struct.unpack(f"<{nv}f", raw[:4 * nv]))
        if kind == K_BOOLEAN:
            return bool_rle_decode(self._stream_bytes(specs[S_DATA]), nv)
        if kind == K_TIMESTAMP:
            secs = int_rle_decode(
                self._stream_bytes(specs[S_DATA]), nv, True, rle_ver)
            nraw = int_rle_decode(
                self._stream_bytes(specs[S_SECONDARY]), nv, False,
                rle_ver)
            out = []
            for sct, nv_enc in zip(secs, nraw):
                # pyarrow's C++ writer emits NEGATIVE nanos (as
                # unsigned two's complement) at the epoch boundary;
                # Python's floor-signed ops decode that shape directly
                if nv_enc >= 1 << 63:
                    nv_enc -= 1 << 64
                nanos = _dec_nanos(nv_enc)
                abs_s = sct + _TS_BASE
                if nanos >= 0 and abs_s < 0 and nanos != 0:
                    abs_s -= 1  # see writer note (ceiling convention)
                out.append(abs_s * 1_000_000 + nanos // 1000)
            return out
        if kind == K_DECIMAL:
            raw = self._stream_bytes(specs[S_DATA])
            p = 0
            mants = []
            for _ in range(nv):
                m, p = read_uvarint(raw, p, "orc", _DEC_VARINT_BYTES)
                mants.append(unzigzag(m))
            scales = int_rle_decode(
                self._stream_bytes(specs[S_SECONDARY]), nv, True,
                rle_ver)
            return [decimal.Decimal(m).scaleb(-sc, _DEC_EXACT)
                    for m, sc in zip(mants, scales)]
        if kind in (K_STRING, K_BINARY, K_VARCHAR, K_CHAR):
            if enc in (E_DICTIONARY, E_DICTIONARY_V2):
                dict_blob = self._stream_bytes(specs[S_DICTIONARY_DATA])
                # the ColumnEncoding's dictionarySize says exactly how many
                # LENGTH entries to decode (spec: ColumnEncoding field 2)
                lens = int_rle_decode(
                    self._stream_bytes(specs[S_LENGTH]),
                    dict_size, False, rle_ver)
                entries = []
                pos = 0
                for ln in lens:
                    entries.append(dict_blob[pos:pos + ln])
                    pos += ln
                idx = int_rle_decode(
                    self._stream_bytes(specs[S_DATA]), nv, False, rle_ver)
                blobs = [entries[i] for i in idx]
            else:
                lens = int_rle_decode(
                    self._stream_bytes(specs[S_LENGTH]), nv, False, rle_ver)
                blob = self._stream_bytes(specs[S_DATA])
                blobs = []
                pos = 0
                for ln in lens:
                    blobs.append(blob[pos:pos + ln])
                    pos += ln
            if kind == K_BINARY:
                return blobs
            return [b.decode("utf-8", "replace") for b in blobs]
        raise ValueError(f"reader: unsupported kind {kind}")

    def read_all(self) -> dict[str, list]:
        cols: dict[str, list] = {nm: [] for nm in self.column_names}
        for si in range(len(self.stripes)):
            for nm, vals in self.read_stripe(si).items():
                cols[nm].extend(vals)
        return cols


def read_orc(path: str) -> dict[str, list]:
    with open(path, "rb") as f:
        return OrcFile(f.read()).read_all()


# --------------------------------------------------------------------------
# Footer-only planning (the ORC twin of parquetmeta.prune_row_groups)
# --------------------------------------------------------------------------

def read_tail_metadata(path: str, guess: int = 16384) -> dict[str, Any]:
    """Decode stripes/types/stats from the file TAIL only.

    Mirrors the two-ranged-GET parquet footer read
    (``parquetmeta.read_metadata``): planning a million-object catalog
    must never touch data streams. Reads the last ``guess`` bytes,
    widening once if postscript+footer+metadata overhang it.
    """
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        take = min(guess, size)
        f.seek(size - take)
        tail = f.read(take)
        ps_len = tail[-1]
        ps = pb_decode(tail[-1 - ps_len:-1])
        need = _one(ps, 1, 0) + _one(ps, 5, 0) + ps_len + 1
        if need > take:
            f.seek(size - need)
            tail = f.read(need)
    # OrcFile only touches [len(data) - need, len(data)) during
    # metadata decode, so a zero-padded prefix stands in for the body.
    shim = b"ORC" + b"\x00" * max(0, size - len(tail) - 3) + tail
    meta = OrcFile(shim)
    return {
        "stripes": meta.stripes, "types": meta.types,
        "stripe_stats": meta.stripe_stats, "num_rows": meta.num_rows,
        "column_names": meta.column_names,
        "compression": meta.compression, "tail_bytes": len(tail),
    }


def prune_stripes(path: str, column: str, lower: Any = None,
                  upper: Any = None) -> dict[str, Any]:
    """Zone-map stripe pruning for ``lower <= col <= upper``.

    Returns the footer-only scan plan: which stripes MUST be read and
    the row/byte bounds that implies. A stripe with missing stats is
    conservatively kept, like every production ORC reader.
    """
    meta = read_tail_metadata(path)
    try:
        col_id = meta["column_names"].index(column) + 1
    except ValueError:
        raise KeyError(f"column {column!r} not in {path}") from None
    kept, total_rows, kept_rows, kept_bytes = [], 0, 0, 0
    for si, s in enumerate(meta["stripes"]):
        total_rows += s["numberOfRows"]
        st = (meta["stripe_stats"][si][col_id]
              if si < len(meta["stripe_stats"]) else {})
        mn, mx = st.get("min"), st.get("max")
        keep = True
        if mn is not None and mx is not None:
            if lower is not None and mx < lower:
                keep = False
            if upper is not None and mn > upper:
                keep = False
        if keep:
            kept.append(si)
            kept_rows += s["numberOfRows"]
            kept_bytes += s["dataLength"]
    return {
        "n_stripes": len(meta["stripes"]), "n_kept": len(kept),
        "kept_stripe_ids": kept, "total_rows": total_rows,
        "kept_rows": kept_rows, "kept_data_bytes": kept_bytes,
        "tail_bytes": meta["tail_bytes"],
    }
