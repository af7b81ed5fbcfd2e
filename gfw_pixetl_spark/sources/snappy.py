"""Pure-Python Snappy raw-block codec (the public format description
in google/snappy's format_description.txt): parquet's and Kafka's
default lightweight codec. Decode handles every element type (literals
with all four length encodings, 1/2/4-byte-offset copies with
overlapping-copy semantics); the encoder emits literals plus greedy
hash-match copies — every stream it writes decodes under the reference
implementation (cross-validated against the snappy bundled in pyarrow,
tests/test_snappy.py). Xerial/framing containers are out of scope
(detected and refused by callers; this module is the raw block codec
both of those wrap).
"""

from __future__ import annotations

from .bitio import read_uvarint, write_uvarint


def decompress(data: bytes) -> bytes:
    total, pos = read_uvarint(data, 0, "snappy")
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise ValueError("snappy: truncated literal length")
                ln = int.from_bytes(data[pos:pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("snappy: literal overruns input")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = 4 + ((tag >> 2) & 7)
            if pos >= n:
                raise ValueError("snappy: truncated copy-1 offset")
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("snappy: truncated copy-2 offset")
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("snappy: truncated copy-4 offset")
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: copy offset out of range")
        if off >= ln:  # disjoint: one slice copy
            start = len(out) - off
            out += out[start:start + ln]
        else:  # overlapping: tile the last `off` bytes (identical to
            # the byte-wise replicate, without 1 append per byte)
            seg = bytes(out[len(out) - off:])
            out += (seg * (ln // off + 1))[:ln]
    if len(out) != total:
        raise ValueError(
            f"snappy: decoded {len(out)} bytes, header says {total}")
    return bytes(out)


def _emit_literal(out: bytearray, chunk: bytes) -> None:
    n = len(chunk) - 1
    if n < 60:
        out.append(n << 2)
    else:
        nbytes = (n.bit_length() + 7) // 8
        out.append((59 + nbytes) << 2)
        out += n.to_bytes(nbytes, "little")
    out += chunk


def compress(data: bytes) -> bytes:
    """Greedy hash-match encoder: 4-byte-anchor matches emitted as
    2-byte-offset copies (<= 64 bytes each), everything else literal."""
    n = len(data)
    out = bytearray()
    write_uvarint(out, n)
    table: dict[bytes, int] = {}
    pos = 0
    lit_start = 0
    while pos + 4 <= n:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is not None and pos - cand <= 0xFFFF:
            ln = 4
            limit = min(64, n - pos)
            while (ln < limit
                   and data[cand + ln] == data[pos + ln]):
                ln += 1
            if lit_start < pos:
                _emit_literal(out, data[lit_start:pos])
            off = pos - cand
            out.append(((ln - 1) << 2) | 2)
            out += off.to_bytes(2, "little")
            pos += ln
            lit_start = pos
        else:
            pos += 1
    if lit_start < n:
        _emit_literal(out, data[lit_start:n])
    return bytes(out)
