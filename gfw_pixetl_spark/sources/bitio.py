"""Bit streams and varints shared by every in-tree codec.

Two bit orders exist in the formats this package reads and writes:

* LSB-first (DEFLATE, brotli, VP8L, zstd's forward FSE descriptions):
  the first bit of the stream is bit 0 of byte 0, and a multi-bit value
  is packed low bit first.
* MSB-first (FLAC, H.264, CCITT T.6): the first bit of the stream is bit
  7 of byte 0, and a multi-bit value is packed high bit first.

Each order has a reader and a writer here; the two orders share no
logic, so they are separate classes rather than one class with a mode.
Readers are bounded: reading past the end of the data raises
``ValueError("<name>: truncated bitstream")``, where ``name`` is the
calling codec's error prefix.

Varints are LEB128 (protobuf, Avro, Thrift compact, ORC, Kafka, Snappy):
7 bits per byte, low group first, high bit set on every byte but the
last. ``read_uvarint`` refuses more than 10 bytes (the 64-bit maximum)
unless the caller names a wider bound, so hostile input costs at most
that many byte reads. ``zigzag``/``unzigzag`` map signed integers to
unsigned ones and back (0, -1, 1, -2 -> 0, 1, 2, 3) for every Python
int, matching the int64 ``(n << 1) ^ (n >> 63)`` form on the int64
range.

``refuse_damage`` wraps a container decoder's entry point so that any
damaged file is refused with ``ValueError``, whichever decoder step
trips over it.
"""

from __future__ import annotations

import functools
import struct
import zlib

# Writers move whole bytes out of their accumulator once it holds this
# many bits, so each write costs O(1) whatever the stream length.
_FLUSH_BITS = 256


# --------------------------------------------------------------------------
# LSB-first
# --------------------------------------------------------------------------


class LsbReader:
    """LSB-first bit reader over ``data``; ``pos`` is the bit position."""

    __slots__ = ("data", "pos", "end", "name")

    def __init__(self, data: bytes, name: str) -> None:
        self.data = data
        self.pos = 0
        self.end = len(data) * 8
        self.name = name

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end:
            raise ValueError(f"{self.name}: truncated bitstream")
        self.pos = end
        chunk = int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "little")
        return (chunk >> (pos & 7)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.end:
            raise ValueError(f"{self.name}: truncated bitstream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (pos & 7)) & 1

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits."""
        return self.read(-self.pos & 7)

    def take_bytes(self, n: int) -> bytes:
        """``n`` whole bytes from a byte-aligned position."""
        if self.pos & 7:
            raise ValueError(f"{self.name}: unaligned byte copy")
        start = self.pos >> 3
        if start + n > len(self.data):
            raise ValueError(f"{self.name}: truncated bitstream")
        self.pos += n * 8
        return self.data[start:start + n]


class LsbWriter:
    """LSB-first bit writer. ``buf`` holds the flushed bytes and the low
    ``n`` bits of ``acc`` the bits after them."""

    __slots__ = ("buf", "acc", "n")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        """The low ``nbits`` bits of ``value`` (negative values wrap)."""
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        if self.n >= _FLUSH_BITS:
            self._flush()

    def write_code(self, code: int, length: int) -> None:
        """A prefix-code word, MSB of the code first: the order in which
        DEFLATE-style decoders walk ``code = code << 1 | next_bit``."""
        if length:
            self.write(int(format(code, f"0{length}b")[::-1], 2), length)

    def _flush(self) -> None:
        k = self.n >> 3
        self.buf += (self.acc & ((1 << (k * 8)) - 1)).to_bytes(k, "little")
        self.acc >>= k * 8
        self.n &= 7

    def align(self) -> None:
        """Pad with zero bits to the next byte boundary."""
        self.n += -self.n & 7

    def raw(self, data: bytes) -> None:
        """Whole bytes at a byte-aligned position."""
        if self.n & 7:
            raise ValueError("bit writer: unaligned byte copy")
        self._flush()
        self.buf += data

    def getvalue(self) -> bytes:
        """The stream so far, zero-padded to a whole byte."""
        self.align()
        self._flush()
        return bytes(self.buf)


# --------------------------------------------------------------------------
# MSB-first
# --------------------------------------------------------------------------


class MsbReader:
    """MSB-first bit reader over ``data``; ``pos`` is the bit position."""

    __slots__ = ("data", "pos", "end", "name")

    def __init__(self, data: bytes, name: str) -> None:
        self.data = data
        self.pos = 0
        self.end = len(data) * 8
        self.name = name

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end:
            raise ValueError(f"{self.name}: truncated bitstream")
        self.pos = end
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[pos >> 3:last], "big")
        return (chunk >> ((last << 3) - end)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.end:
            raise ValueError(f"{self.name}: truncated bitstream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1

    def read_signed(self, n: int) -> int:
        """``n``-bit two's complement."""
        v = self.read(n)
        return v - (1 << n) if n and v >> (n - 1) else v

    def read_unary(self) -> int:
        """The number of 0 bits before the next 1 bit (which is consumed),
        scanned a byte at a time."""
        pos = self.pos
        data = self.data
        zeros = 0
        while pos < self.end:
            rest = (data[pos >> 3] << (pos & 7)) & 0xFF
            if rest:
                run = 8 - rest.bit_length()
                self.pos = pos + run + 1
                return zeros + run
            zeros += 8 - (pos & 7)
            pos = (pos | 7) + 1
        raise ValueError(f"{self.name}: truncated bitstream")

    def ue(self) -> int:
        """Exp-Golomb unsigned (H.264 9.1)."""
        zeros = self.read_unary()
        if zeros > 32:
            raise ValueError(f"{self.name}: bad Exp-Golomb code")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        """Exp-Golomb signed (H.264 9.1.1): k -> (-1)^(k+1) ceil(k/2)."""
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits."""
        return self.read(-self.pos & 7)


class MsbWriter:
    """MSB-first bit writer. ``buf`` holds the flushed bytes and the low
    ``n`` bits of ``acc`` the bits after them."""

    __slots__ = ("buf", "acc", "n")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        """The low ``nbits`` bits of ``value`` (negative values wrap to
        two's complement)."""
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        if self.n >= _FLUSH_BITS:
            self._flush()

    def write_unary(self, n: int) -> None:
        """``n`` zero bits, then a one."""
        self.write(1, n + 1)

    def ue(self, v: int) -> None:
        """Exp-Golomb unsigned: ``bit_length(v+1) - 1`` zeros, then v+1."""
        k = v + 1
        self.write(k, 2 * k.bit_length() - 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def _flush(self) -> None:
        rem = self.n & 7
        self.buf += (self.acc >> rem).to_bytes(self.n >> 3, "big")
        self.acc &= (1 << rem) - 1
        self.n = rem

    def align(self) -> None:
        """Pad with zero bits to the next byte boundary."""
        self.write(0, -self.n & 7)

    def getvalue(self) -> bytes:
        """The stream so far, zero-padded to a whole byte."""
        self.align()
        self._flush()
        return bytes(self.buf)


# --------------------------------------------------------------------------
# varints
# --------------------------------------------------------------------------


def read_uvarint(data: bytes, pos: int, name: str,
                 max_bytes: int = 10) -> tuple[int, int]:
    """One LEB128 varint at ``pos`` -> (value, next pos). At most
    ``max_bytes`` bytes are read (10 fits any 64-bit value; a format with
    wider integers passes its own bound); more, or running out of data,
    raises ValueError."""
    result = 0
    shift = 0
    limit = 7 * max_bytes
    end = len(data)
    while pos < end:
        b = data[pos]
        pos += 1
        if b < 0x80:
            return result | (b << shift), pos
        result |= (b & 0x7F) << shift
        shift += 7
        if shift == limit:
            raise ValueError(f"{name}: varint longer than {max_bytes} bytes")
    raise ValueError(f"{name}: truncated varint")


def write_uvarint(out: bytearray, v: int) -> None:
    """Append the LEB128 bytes of ``v``; a negative int64 is written as
    its 10-byte two's complement (protobuf's int64 rule)."""
    if v < 0:
        v &= (1 << 64) - 1
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def zigzag(n: int) -> int:
    return n << 1 if n >= 0 else ~(n << 1)


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# --------------------------------------------------------------------------
# damaged input
# --------------------------------------------------------------------------

# What damaged bytes raise inside a decoder: a short buffer, a missing
# field or stream, a field of the wrong type, a zero extent, a value too
# wide for its array, a corrupt deflate chunk.
DAMAGE = (AttributeError, IndexError, KeyError, OverflowError, TypeError,
          ZeroDivisionError, struct.error, zlib.error)


def refuse_damage(what: str):
    """Decorator for a decoder's entry point: a ``DAMAGE`` error becomes
    ``ValueError("<what> (<error type>: <message>)")``, chained to the
    original."""
    def wrap(fn):
        @functools.wraps(fn)
        def guarded(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except DAMAGE as exc:
                raise ValueError(
                    f"{what} ({type(exc).__name__}: {exc})") from exc
        return guarded
    return wrap
