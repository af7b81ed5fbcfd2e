"""Shared bit streams and varints (sources/bitio.py): round trips
against a bit-string reference model, bounded reads on hostile input
through every codec path that reads varints, and a guard that keeps
private bit I/O and varint copies out of the codec modules."""

from __future__ import annotations

import ast
import io
import pathlib
import re
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources import orc, parquetdata, parquetmeta
from gfw_pixetl_spark.sources.bitio import (
    LsbReader, LsbWriter, MsbReader, MsbWriter, read_uvarint, unzigzag,
    write_uvarint, zigzag,
)

# (value, width) fields, with an occasional byte-align marker (None)
_fields = st.lists(
    st.one_of(
        st.integers(0, 64).flatmap(
            lambda w: st.tuples(st.integers(0, (1 << w) - 1), st.just(w))),
        st.none()),
    max_size=40)


def _model_bits(fields, msb: bool) -> str:
    """The stream as a string of '0'/'1' in stream order."""
    bits = ""
    for f in fields:
        if f is None:
            bits += "0" * (-len(bits) % 8)
            continue
        v, w = f
        word = format(v, f"0{w}b") if w else ""
        bits += word if msb else word[::-1]
    return bits + "0" * (-len(bits) % 8)


def _model_bytes(bits: str, msb: bool) -> bytes:
    chunks = [bits[i:i + 8] for i in range(0, len(bits), 8)]
    return bytes(int(c if msb else c[::-1], 2) for c in chunks)


@settings(max_examples=300, deadline=None)
@given(fields=_fields, tail=st.binary(max_size=8))
def test_lsb_roundtrip_matches_model(fields, tail):
    w = LsbWriter()
    for f in fields:
        if f is None:
            w.align()
        else:
            w.write(*f)
    w.align()
    w.raw(tail)
    blob = w.getvalue()
    assert blob == _model_bytes(_model_bits(fields, False), False) + tail
    r = LsbReader(blob, "test")
    for f in fields:
        if f is None:
            assert r.align() == 0
        else:
            assert r.read(f[1]) == f[0]
    assert r.align() == 0
    assert r.take_bytes(len(tail)) == tail
    assert r.pos == r.end


@settings(max_examples=300, deadline=None)
@given(fields=_fields)
def test_msb_roundtrip_matches_model(fields):
    w = MsbWriter()
    for f in fields:
        if f is None:
            w.align()
        else:
            w.write(*f)
    blob = w.getvalue()
    assert blob == _model_bytes(_model_bits(fields, True), True)
    r = MsbReader(blob, "test")
    for f in fields:
        if f is None:
            assert r.align() == 0
        else:
            assert r.read(f[1]) == f[0]
    assert r.align() == 0
    assert r.pos == r.end


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**20), st.integers(-2**20, 2**20),
                          st.integers(0, 300)), max_size=20))
def test_msb_expgolomb_unary_signed_roundtrip(items):
    w = MsbWriter()
    for u, s, q in items:
        w.ue(u)
        w.se(s)
        w.write_unary(q)
        w.write(s, 22)  # two's complement
    blob = w.getvalue()
    r = MsbReader(blob, "test")
    for u, s, q in items:
        assert (r.ue(), r.se(), r.read_unary(), r.read_signed(22)) \
            == (u, s, q, s)
    assert r.end - r.pos < 8


def test_expgolomb_spec_vectors():
    """H.264 9.1 table 9-2: codeNum 0..4 and the signed mapping."""
    w = MsbWriter()
    for v in range(5):
        w.ue(v)
    assert w.getvalue() == bytes([0b10100110, 0b01000010, 0b10000000])
    r = MsbReader(bytes([0b01001110]), "test")
    assert [r.se() for _ in range(3)] == [1, -1, 0]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(1, 15).flatmap(
    lambda n: st.tuples(st.integers(0, (1 << n) - 1), st.just(n))),
    max_size=30))
def test_write_code_is_msb_of_code_first(codes):
    """``write_code`` emits the order a DEFLATE-style decoder walks:
    ``code = code << 1 | read_bit()``."""
    w = LsbWriter()
    for c, n in codes:
        w.write_code(c, n)
    r = LsbReader(w.getvalue(), "test")
    for c, n in codes:
        got = 0
        for _ in range(n):
            got = (got << 1) | r.read_bit()
        assert got == c


@settings(max_examples=300, deadline=None)
@given(st.integers(-2**63, 2**64 - 1))
def test_uvarint_roundtrip(v):
    blob = bytearray()
    write_uvarint(blob, v)
    blob += b"\x7f"
    got, pos = read_uvarint(blob, 0, "test")
    assert got == v % 2**64 and pos == len(blob) - 1
    groups = -(-(v % 2**64).bit_length() // 7)
    assert len(blob) - 1 == max(1, groups)


def test_uvarint_vectors():
    out = bytearray(b"=")
    for v in (300, 0, -1):
        write_uvarint(out, v)
    assert out == b"=\xac\x02\x00" + b"\xff" * 9 + b"\x01"
    assert read_uvarint(b"\x00\xac\x02", 1, "test") == (300, 3)


@pytest.mark.parametrize("n", [0, 1, -1, 2**63 - 1, -2**63, 2**63,
                               -2**63 - 1, 2**64, -2**64])
def test_zigzag(n):
    assert unzigzag(zigzag(n)) == n
    assert zigzag(n) >= 0
    if -2**63 <= n < 2**63:  # the int64 form every format specifies
        assert zigzag(n) == ((n << 1) ^ (n >> 63)) & (2**64 - 1)


def test_zigzag_vectors():
    assert [zigzag(n) for n in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    assert zigzag(-2**63) == 2**64 - 1 and zigzag(2**63 - 1) == 2**64 - 2


@pytest.mark.parametrize("read", [
    lambda r: r.read(9),
    lambda r: [r.read_bit() for _ in range(9)],
    lambda r: (r.read(3), r.take_bytes(1)),
    lambda r: (r.read(8), r.align(), r.take_bytes(1)),
])
def test_lsb_reader_refuses_past_end(read):
    with pytest.raises(ValueError, match="codec: (truncated|unaligned)"):
        read(LsbReader(b"\x01", "codec"))


@pytest.mark.parametrize("read", [
    lambda r: r.read(16),
    lambda r: [r.read_bit() for _ in range(9)],
    lambda r: r.read_signed(9),
    lambda r: (r.read(8), r.read_unary()),
    lambda r: r.ue(),  # 7 zeros, then a 7-bit suffix that is not there
    lambda r: (r.read(7), r.align(), r.align(), r.read(1)),
])
def test_msb_reader_refuses_past_end(read):
    with pytest.raises(ValueError, match="codec: truncated bitstream"):
        read(MsbReader(b"\x01", "codec"))


def test_expgolomb_refuses_overlong_prefix():
    with pytest.raises(ValueError, match="codec: bad Exp-Golomb"):
        MsbReader(b"\x00" * 5 + b"\xff" * 5, "codec").ue()


@pytest.mark.parametrize("blob", [b"", b"\x80", b"\xff" * 9])
def test_uvarint_refuses_truncation(blob):
    with pytest.raises(ValueError, match="codec: truncated varint"):
        read_uvarint(blob, 0, "codec")


def test_uvarint_refuses_more_than_ten_bytes():
    with pytest.raises(ValueError, match="codec: varint longer than 10"):
        read_uvarint(b"\x80" * 10 + b"\x01", 0, "codec")


def test_uvarint_wider_bound():
    # ORC decimal mantissas: the zigzag of a 38-digit value, 19 bytes
    blob = bytearray()
    write_uvarint(blob, 2**128 - 1)
    assert len(blob) == 19
    assert read_uvarint(blob, 0, "codec", 19) == (2**128 - 1, 19)
    with pytest.raises(ValueError, match="codec: varint longer than 19"):
        read_uvarint(b"\x80" * 19 + b"\x01", 0, "codec", 19)


# --- hostile varints through the codec paths that read them --------------

_RUN = b"\xff" * 100_000 + b"\x01"  # one 700,000-bit varint


def _page_header(blob: bytes):
    chunk = {"type": "INT32", "data_page_offset": 0, "num_values": 1,
             "total_compressed_size": len(blob), "codec": "UNCOMPRESSED"}
    return parquetdata.read_column_chunk(io.BytesIO(blob), chunk, {})


_HOSTILE = {
    # Thrift compact: field 1 as i32 (0x15), then the varint
    "parquetmeta": (parquetmeta.decode_footer, b"\x15", b"\x15\x80"),
    "parquetdata_page_header": (_page_header, b"\x15", b"\x15\x80"),
    # protobuf: field 1 as varint (0x08), then the varint
    "orc_pb_decode": (orc.pb_decode, b"\x08", b"\x08\x80"),
}


@pytest.mark.parametrize("path", sorted(_HOSTILE))
def test_hostile_varint_refused_fast(path):
    decode, prefix, _ = _HOSTILE[path]
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="varint longer than 10 bytes"):
        decode(prefix + _RUN)
    assert time.perf_counter() - t0 < 0.05


@pytest.mark.parametrize("path", sorted(_HOSTILE))
def test_truncated_varint_is_value_error(path):
    decode, _, truncated = _HOSTILE[path]
    with pytest.raises(ValueError, match="truncated varint"):
        decode(truncated)


# --- guard: bit I/O and varints live in bitio only -------------------------

_PKG = pathlib.Path(__file__).resolve().parents[1] / "gfw_pixetl_spark"

# Copies kept on purpose, each for a reason bitio cannot absorb.
_ALLOWED = {
    # the only backward reader; its 64-bit window is the tuned
    # sequence-decode hot loop
    ("sources/zstd.py", "_RBits"),
    # JPEG entropy-coded data carries 0xFF00 byte stuffing and markers;
    # sharing would make bitio branch on its caller
    ("sources/jpeg.py", "_BitReader"),
    ("sources/jpeg.py", "_BitWriter"),
    ("sources/jpeg.py", "_ProgWriter"),
    # Hadoop VInt is a different encoding (length-prefixed, not LEB128)
    ("sources/sequencefile.py", "read_vint"),
    ("sources/sequencefile.py", "write_vint"),
}


def _is_bit_class(node: ast.ClassDef) -> bool:
    names = [node.name] + [b.id for b in node.bases
                           if isinstance(b, ast.Name)]
    return any("Bit" in n for n in names)


def _is_varint_def(node) -> bool:
    return bool(re.search(r"varint|(^|_)vint|zigzag|^_zz_", node.name,
                          re.IGNORECASE))


def test_no_private_bit_io_or_varint_copies():
    found = set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "sources/bitio.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef) and _is_bit_class(node):
                found.add((rel, node.name))
            elif (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and _is_varint_def(node)):
                found.add((rel, node.name))
    assert found - _ALLOWED == set(), (
        "use sources/bitio.py instead of a private copy")
    assert _ALLOWED - found == set(), "stale allowlist entry"
