"""Brotli decoder (RFC 7932, public spec) — the compression crawl
archives actually preserve: HTTP responses captured with
``Content-Encoding: br`` land verbatim in WARC payloads, and a corpus
pipeline that can't inflate them drops the fastest-growing slice of
the modern web.  Closes the top round-7 roadmap gap.

Pure-Python, same discipline as the zstd (RFC 8878) and FLAC
(RFC 9639) codecs in this tree: every structure is decoded from the
published spec, nothing shells out.  Implemented:

* stream header window sizes (WBITS 10-24),
* meta-blocks: compressed, uncompressed, metadata-skip, last-empty,
* prefix codes: simple (1-4 symbols with the tree-select bit) and
  complex (the code-length code in its RFC order, 16/17 repeat codes
  with the non-linear repeat accumulation, 32768 space accounting),
* block categories (literal / insert-copy / distance) with block-type
  switch codes (previous/increment semantics) and block-count codes,
* context modeling: the four literal context modes over the 2,048-byte
  context lookup table, distance contexts from copy length, context
  maps with run-length zero coding and inverse move-to-front,
* the 704-symbol insert-and-copy code, distance codes with the
  4-slot distance ring buffer (15 short codes), NPOSTFIX/NDIRECT
  parameterization,
* the RFC Appendix A static dictionary (122,784 bytes; words of
  length 4-24) with all 121 Appendix B word transforms, including
  the UTF-8-aware ferment (uppercase) transforms.

The static data tables (dictionary, transforms, context LUT) are
frozen into ``_brotli_data.bin`` by ``tools/extract_brotli_data.py``,
which reads them from the system brotli library and validates them
against invariants stated in the RFC (sizes, word counts, the
closed-form LSB6/MSB6 context quadrants) — the repo needs no brotli
library at runtime.

The write side is real too: ``compress`` is an entropy-coded
COMPRESSOR (greedy hash-4 LZ77 + canonical prefix codes written in
both the simple and the complex code-length-coded header forms, with
the 16/17 repeat accumulation, per-window meta-block chunking, and a
raw-block fallback for incompressible data) whose every stream is
decodable by libbrotli; ``compress_store`` is the uncompressed-
meta-block fast path.  Tests cross-validate ``decompress`` against
libbrotli's output at every quality level and window size (which
exercises the dictionary, transform, and context-map paths this file
implements), and ``compress`` against libbrotli's decoder.

Scale shape: one document = one ``.br`` payload = one independent
decode inside an Arrow kernel — the same per-record parallelism as
the WARC gzip-member and zstd-frame paths (``warc.member_index``).

Reference behavior parity: the reference engine has no HTTP-payload
path at all (it shells to GDAL for raster IO); this module is part of
the LLM-corpus front door built on top of the §2 surface.
"""
from __future__ import annotations

import struct
import zlib
from pathlib import Path

from .bitio import LsbReader, LsbWriter

# --------------------------------------------------------------------------
# static data (RFC 7932 Appendices A/B + section 7.1), frozen by
# tools/extract_brotli_data.py
# --------------------------------------------------------------------------

_DATA_PATH = Path(__file__).resolve().parent / "_brotli_data.bin"
_STATIC: tuple | None = None


def _static_data() -> tuple:
    """(size_bits[25], dict_data, ctx_lut[2048], transforms[121])."""
    global _STATIC
    if _STATIC is None:
        raw = _DATA_PATH.read_bytes()
        if raw[:8] != b"BRDATA01":
            raise ValueError("brotli: corrupt static data file")
        (clen,) = struct.unpack_from("<I", raw, 8)
        payload = zlib.decompress(raw[12:12 + clen])
        size_bits = list(payload[:25])
        pos = 25
        dict_data = payload[pos:pos + 122784]
        pos += 122784
        ctx_lut = payload[pos:pos + 2048]
        pos += 2048
        (ntr,) = struct.unpack_from("<H", payload, pos)
        pos += 2
        transforms = []
        for _ in range(ntr):
            np = payload[pos]
            pre = payload[pos + 1:pos + 1 + np]
            pos += 1 + np
            typ = payload[pos]
            pos += 1
            ns = payload[pos]
            suf = payload[pos + 1:pos + 1 + ns]
            pos += 1 + ns
            transforms.append((pre, typ, suf))
        _STATIC = (size_bits, dict_data, ctx_lut, transforms)
    return _STATIC


# transform types (RFC 7932 Appendix B)
_TR_IDENTITY = 0            # 1..9 = omit last 1..9
_TR_UPPER_FIRST = 10
_TR_UPPER_ALL = 11          # 12..20 = omit first 1..9

# --------------------------------------------------------------------------
# constant code tables (RFC 7932 section 5 / section 6)
# --------------------------------------------------------------------------

_INSERT_BASE = (0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98,
                130, 194, 322, 578, 1090, 2114, 6210, 22594)
_INSERT_EXTRA = (0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
                 6, 7, 8, 9, 10, 12, 14, 24)
_COPY_BASE = (2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54,
              70, 102, 134, 198, 326, 582, 1094, 2118)
_COPY_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
               5, 5, 6, 7, 8, 9, 10, 24)
# cell -> (insert code base, copy code base); cells 0/1 imply distance 0
_CMD_INSERT = (0, 0, 0, 0, 8, 8, 0, 16, 8, 16, 16)
_CMD_COPY = (0, 8, 0, 8, 0, 8, 16, 0, 16, 8, 16)

_BLOCK_COUNT_BASE = (1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113,
                     145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289,
                     4337, 8433, 16625)
_BLOCK_COUNT_EXTRA = (2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
                      6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

# code-length-code symbol order (RFC 7932 section 3.5)
_CLC_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
# fixed prefix code for the code lengths of the code-length code
# (symbol -> bit length); canonical codes are derived below
_CLC_LENGTHS = {0: 2, 1: 4, 2: 3, 3: 2, 4: 2, 5: 4}

_REPEAT_PREVIOUS = 16
_REPEAT_ZERO = 17

# --------------------------------------------------------------------------
# prefix codes (RFC 7932 sections 3.2-3.5).  Codes are canonical; bits
# are read MSB-of-code first (code = code<<1 | next_bit), as in DEFLATE.
# --------------------------------------------------------------------------


class _PrefixCode:
    __slots__ = ("map", "single", "min_len", "max_len")

    def __init__(self, lengths: dict[int, int],
                 single: int | None = None) -> None:
        self.single = single
        self.map: dict[int, int] = {}
        if single is not None:
            self.min_len = self.max_len = 0
            return
        by_len: dict[int, list[int]] = {}
        for sym, ln in lengths.items():
            if ln:
                by_len.setdefault(ln, []).append(sym)
        code = 0
        self.min_len = min(by_len)
        self.max_len = max(by_len)
        for ln in range(self.min_len, self.max_len + 1):
            for sym in sorted(by_len.get(ln, ())):
                self.map[(ln << 24) | code] = sym
                code += 1
            code <<= 1

    def decode(self, bits: LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        mp = self.map
        ln = 0
        read_bit = bits.read_bit
        while True:
            code = (code << 1) | read_bit()
            ln += 1
            sym = mp.get((ln << 24) | code)
            if sym is not None:
                return sym
            if ln > self.max_len:
                raise ValueError("brotli: invalid prefix code word")


_CLC_CODE = _PrefixCode(_CLC_LENGTHS)


def _alphabet_bits(alphabet_size: int) -> int:
    return max(1, (alphabet_size - 1).bit_length())


def _read_prefix_code(bits: LsbReader, alphabet_size: int) -> _PrefixCode:
    hskip = bits.read(2)
    if hskip == 1:  # simple code
        nsym = bits.read(2) + 1
        width = _alphabet_bits(alphabet_size)
        syms = []
        for _ in range(nsym):
            s = bits.read(width)
            if s >= alphabet_size:
                raise ValueError("brotli: simple code symbol out of range")
            if s in syms:
                raise ValueError("brotli: duplicate simple code symbol")
            syms.append(s)
        if nsym == 1:
            return _PrefixCode({}, single=syms[0])
        if nsym == 2:
            lens = (1, 1)
        elif nsym == 3:
            lens = (1, 2, 2)
        else:
            lens = (2, 2, 2, 2) if bits.read_bit() == 0 else (1, 2, 3, 3)
        return _PrefixCode(dict(zip(syms, lens)))

    # complex code: code lengths for the code-length code, in order,
    # starting at hskip, until their code space fills (sum 32 >> len)
    clc_lengths: dict[int, int] = {}
    space = 0
    nonzero = 0
    for sym in _CLC_ORDER[hskip:]:
        ln = _CLC_CODE.decode(bits)
        if ln:
            clc_lengths[sym] = ln
            space += 32 >> ln
            nonzero += 1
            if space >= 32:
                break
    if nonzero == 1:
        clc = _PrefixCode({}, single=next(iter(clc_lengths)))
    else:
        if space != 32:
            raise ValueError("brotli: code-length code space mismatch")
        clc = _PrefixCode(clc_lengths)

    lengths: dict[int, int] = {}
    sym = 0
    space = 0
    prev_nonzero = 8
    repeat = 0
    repeat_code = 0
    while sym < alphabet_size and space < 32768:
        c = clc.decode(bits)
        if c < 16:
            lengths[sym] = c
            sym += 1
            repeat = 0
            if c:
                prev_nonzero = c
                space += 32768 >> c
        else:
            extra_bits = 2 if c == _REPEAT_PREVIOUS else 3
            if repeat and c == repeat_code:
                # non-linear accumulation (RFC 7932 section 3.5)
                old = repeat
                repeat = ((repeat - 2) << extra_bits) + 3 + bits.read(
                    extra_bits)
                delta = repeat - old
            else:
                repeat_code = c
                repeat = 3 + bits.read(extra_bits)
                delta = repeat
            if sym + delta > alphabet_size:
                raise ValueError("brotli: code length repeat overflow")
            fill = prev_nonzero if c == _REPEAT_PREVIOUS else 0
            for _ in range(delta):
                lengths[sym] = fill
                sym += 1
            if fill:
                space += delta * (32768 >> fill)
    if space > 32768:
        raise ValueError("brotli: over-subscribed prefix code")
    if space != 32768:
        raise ValueError("brotli: under-subscribed prefix code")
    return _PrefixCode(lengths)


# --------------------------------------------------------------------------
# variable-length 1..256 values (RFC 7932 section 9.2, NBLTYPES et al.)
# --------------------------------------------------------------------------


def _read_256(bits: LsbReader) -> int:
    if bits.read_bit() == 0:
        return 1
    n = bits.read(3)
    if n == 0:
        return 2
    return (1 << n) + 1 + bits.read(n)


# --------------------------------------------------------------------------
# context maps (RFC 7932 section 7.3)
# --------------------------------------------------------------------------


def _inverse_mtf(values: list[int]) -> None:
    mtf = list(range(256))
    for i, v in enumerate(values):
        val = mtf[v]
        values[i] = val
        if v:
            del mtf[v]
            mtf.insert(0, val)


def _read_context_map(bits: LsbReader, n_trees: int, size: int) -> list[int]:
    if n_trees == 1:
        return [0] * size
    rlemax = (bits.read(4) + 1) if bits.read_bit() else 0
    code = _read_prefix_code(bits, n_trees + rlemax)
    cmap: list[int] = []
    while len(cmap) < size:
        sym = code.decode(bits)
        if sym == 0:
            cmap.append(0)
        elif sym <= rlemax:
            run = (1 << sym) + bits.read(sym)
            if len(cmap) + run > size:
                raise ValueError("brotli: context map run overflow")
            cmap.extend([0] * run)
        else:
            v = sym - rlemax
            if v >= n_trees:
                raise ValueError("brotli: context map value out of range")
            cmap.append(v)
    if bits.read_bit():
        _inverse_mtf(cmap)
    if any(v >= n_trees for v in cmap):
        raise ValueError("brotli: context map value out of range")
    return cmap


# --------------------------------------------------------------------------
# block-category state (literal / insert-copy / distance)
# --------------------------------------------------------------------------


class _BlockState:
    __slots__ = ("n_types", "btype", "prev", "count",
                 "type_code", "count_code")

    def __init__(self, bits: LsbReader) -> None:
        self.n_types = _read_256(bits)
        self.btype = 0
        self.prev = 1
        if self.n_types >= 2:
            self.type_code = _read_prefix_code(bits, self.n_types + 2)
            self.count_code = _read_prefix_code(bits, 26)
            self.count = self._read_count(bits)
        else:
            self.type_code = self.count_code = None
            self.count = 1 << 62

    def _read_count(self, bits: LsbReader) -> int:
        sym = self.count_code.decode(bits)
        return _BLOCK_COUNT_BASE[sym] + bits.read(_BLOCK_COUNT_EXTRA[sym])

    def maybe_switch(self, bits: LsbReader) -> None:
        if self.count == 0:
            sym = self.type_code.decode(bits)
            if sym == 0:
                new = self.prev
            elif sym == 1:
                new = (self.btype + 1) % self.n_types
            else:
                new = sym - 2
            self.prev = self.btype
            self.btype = new
            self.count = self._read_count(bits)
        self.count -= 1


# --------------------------------------------------------------------------
# dictionary word transforms (RFC 7932 Appendix B)
# --------------------------------------------------------------------------


def _ferment(word: bytearray, upper_all: bool) -> None:
    """UTF-8-aware uppercasing used by the ferment transforms."""
    i = 0
    n = len(word)
    while i < n:
        c = word[i]
        if c < 192:
            if 97 <= c <= 122:
                word[i] ^= 32
            i += 1
        elif c < 224:
            if i + 1 < n:
                word[i + 1] ^= 32
            i += 2
        else:
            if i + 2 < n:
                word[i + 2] ^= 5
            i += 3
        if not upper_all:
            break


def _transform_word(word: bytes, transform_id: int) -> bytes:
    _, _, _, transforms = _static_data()
    prefix, typ, suffix = transforms[transform_id]
    if typ == _TR_IDENTITY:
        body = word
    elif 1 <= typ <= 9:          # omit last 1..9
        body = word[:-typ] if typ < len(word) else b""
    elif typ in (_TR_UPPER_FIRST, _TR_UPPER_ALL):
        buf = bytearray(word)
        _ferment(buf, typ == _TR_UPPER_ALL)
        body = bytes(buf)
    elif 12 <= typ <= 20:        # omit first 1..9
        k = typ - 11
        body = word[k:] if k < len(word) else b""
    else:
        raise ValueError(f"brotli: unknown transform type {typ}")
    return prefix + body + suffix


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def _read_wbits(bits: LsbReader) -> int:
    if bits.read_bit() == 0:
        return 16
    n = bits.read(3)
    if n != 0:
        return 17 + n
    m = bits.read(3)
    if m == 0:
        return 17
    if m == 1:
        raise ValueError("brotli: reserved WBITS encoding")
    return 8 + m


def decompress(data: bytes, max_output: int | None = None) -> bytes:
    """Decode one complete brotli stream (RFC 7932 section 10)."""
    size_bits, dict_data, ctx_lut, _ = _static_data()
    bits = LsbReader(data, "brotli")
    wbits = _read_wbits(bits)
    window_size = (1 << wbits) - 16
    out = bytearray()
    cap = 1 << 62 if max_output is None else max_output
    # the distance ring buffer persists across meta-blocks (RFC 7932
    # section 4: initialized once at stream start)
    ring = [16, 15, 11, 4]
    ring_idx = 0

    while True:
        islast = bits.read_bit()
        islastempty = bits.read_bit() if islast else 0
        if islastempty:
            break
        mnib = bits.read(2)
        if mnib == 3:  # metadata meta-block
            if islast:
                raise ValueError("brotli: metadata meta-block marked last")
            if bits.read_bit():
                raise ValueError("brotli: reserved metadata bit set")
            skip_bytes = bits.read(2)
            skip_len = 0
            for i in range(skip_bytes):
                b = bits.read(8)
                if i + 1 == skip_bytes and skip_bytes > 1 and b == 0:
                    raise ValueError("brotli: non-minimal metadata length")
                skip_len |= b << (8 * i)
            if skip_bytes:
                skip_len += 1
            if bits.align():
                raise ValueError("brotli: non-zero padding bits")
            bits.take_bytes(skip_len)
            continue
        nibbles = 4 + mnib
        mlen = bits.read(4 * nibbles)
        if nibbles > 4 and (mlen >> (4 * (nibbles - 1))) == 0:
            raise ValueError("brotli: non-minimal MLEN nibble count")
        mlen += 1
        if len(out) + mlen > cap:
            raise ValueError("brotli: output exceeds declared size")

        if not islast and bits.read_bit():  # ISUNCOMPRESSED
            if bits.align():
                raise ValueError("brotli: non-zero padding bits")
            out += bits.take_bytes(mlen)
            continue

        # --- compressed meta-block header (section 9.2) ---
        lit = _BlockState(bits)
        cmd = _BlockState(bits)
        dst = _BlockState(bits)

        npostfix = bits.read(2)
        ndirect = bits.read(4) << npostfix
        postfix_mask = (1 << npostfix) - 1

        context_modes = [bits.read(2) for _ in range(lit.n_types)]

        n_trees_l = _read_256(bits)
        cmap_l = _read_context_map(bits, n_trees_l, 64 * lit.n_types)
        n_trees_d = _read_256(bits)
        cmap_d = _read_context_map(bits, n_trees_d, 4 * dst.n_types)

        lit_codes = [_read_prefix_code(bits, 256)
                     for _ in range(n_trees_l)]
        cmd_codes = [_read_prefix_code(bits, 704)
                     for _ in range(cmd.n_types)]
        dist_alphabet = 16 + ndirect + (48 << npostfix)
        dist_codes = [_read_prefix_code(bits, dist_alphabet)
                      for _ in range(n_trees_d)]

        remaining = mlen
        n_words_cache = {}

        while remaining > 0:
            cmd.maybe_switch(bits)
            sym = cmd_codes[cmd.btype].decode(bits)
            cell = sym >> 6
            implicit_zero = cell < 2
            ins_code = _CMD_INSERT[cell] + ((sym >> 3) & 7)
            cpy_code = _CMD_COPY[cell] + (sym & 7)
            insert_len = _INSERT_BASE[ins_code] + bits.read(
                _INSERT_EXTRA[ins_code])
            copy_len = _COPY_BASE[cpy_code] + bits.read(
                _COPY_EXTRA[cpy_code])

            # literals, each through its block type's context model
            for _ in range(insert_len):
                lit.maybe_switch(bits)
                mode_off = context_modes[lit.btype] << 9
                p1 = out[-1] if out else 0
                p2 = out[-2] if len(out) >= 2 else 0
                ctx = ctx_lut[mode_off + p1] | ctx_lut[mode_off + 256 + p2]
                tree = cmap_l[(lit.btype << 6) + ctx]
                out.append(lit_codes[tree].decode(bits))
            remaining -= insert_len
            if remaining < 0:
                raise ValueError("brotli: insert length overflows MLEN")
            if remaining == 0:
                break

            max_dist = min(len(out), window_size)
            if implicit_zero:
                distance = ring[(ring_idx - 1) & 3]
                dcode = 0
            else:
                dst.maybe_switch(bits)
                dist_ctx = min(copy_len, 5) - 2
                tree = cmap_d[(dst.btype << 2) + dist_ctx]
                dcode = dist_codes[tree].decode(bits)
                if dcode < 16:
                    if dcode < 4:
                        distance = ring[(ring_idx - 1 - dcode) & 3]
                    else:
                        base = ring[(ring_idx - 1 - ((dcode - 4) // 6)) & 3]
                        k = (dcode - 4) % 6
                        delta = (k // 2) + 1
                        distance = base + (delta if k & 1 else -delta)
                        if distance <= 0:
                            raise ValueError(
                                "brotli: non-positive short distance")
                elif dcode < 16 + ndirect:
                    distance = dcode - 15
                else:
                    x = dcode - ndirect - 16
                    hcode = x >> npostfix
                    lcode = x & postfix_mask
                    ndistbits = 1 + (hcode >> 1)
                    offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    distance = ((offset + bits.read(ndistbits))
                                << npostfix) + lcode + ndirect + 1

            if distance <= max_dist:
                if copy_len > remaining:
                    raise ValueError("brotli: copy length overflows MLEN")
                start = len(out) - distance
                if distance >= copy_len:
                    out += out[start:start + copy_len]
                else:
                    for i in range(copy_len):
                        out.append(out[start + i])
                remaining -= copy_len
                if dcode != 0:
                    ring[ring_idx & 3] = distance
                    ring_idx += 1
            else:
                # static dictionary reference (section 8)
                if not 4 <= copy_len <= 24 or size_bits[copy_len] == 0:
                    raise ValueError(
                        f"brotli: invalid dictionary word length {copy_len}")
                address = distance - max_dist - 1
                nbits = size_bits[copy_len]
                word_id = address & ((1 << nbits) - 1)
                transform_id = address >> nbits
                if transform_id >= 121:
                    raise ValueError("brotli: transform id out of range")
                off = n_words_cache.get(copy_len)
                if off is None:
                    off = 0
                    for ln in range(4, copy_len):
                        off += (1 << size_bits[ln]) * ln
                    n_words_cache[copy_len] = off
                start = off + word_id * copy_len
                word = dict_data[start:start + copy_len]
                piece = (word if transform_id == 0
                         else _transform_word(word, transform_id))
                if len(piece) > remaining:
                    raise ValueError(
                        "brotli: dictionary word overflows MLEN")
                out += piece
                remaining -= len(piece)
                # dictionary references never enter the distance ring

        if islast:
            break

    if bits.align():
        raise ValueError("brotli: non-zero padding bits")
    if bits.pos != bits.end:
        raise ValueError("brotli: trailing garbage after final meta-block")
    if max_output is not None and len(out) != max_output:
        raise ValueError("brotli: output size mismatch")
    return bytes(out)


# --------------------------------------------------------------------------
# store-mode encoder: valid brotli from uncompressed meta-blocks
# --------------------------------------------------------------------------


def _stream_header(wbits: int) -> LsbWriter:
    """A writer primed with the WBITS stream header (section 9.1) —
    shared by the store-mode and entropy-coded encoders."""
    if not 10 <= wbits <= 24:
        raise ValueError("brotli: WBITS must be in 10..24")
    w = LsbWriter()
    if wbits == 16:
        w.write(0, 1)
    elif wbits >= 18:
        w.write(1, 1)
        w.write(wbits - 17, 3)
    elif wbits == 17:
        w.write(1, 1)
        w.write(0, 3)
        w.write(0, 3)
    else:
        w.write(1, 1)
        w.write(0, 3)
        w.write(wbits - 8, 3)
    return w


def compress_store(data: bytes, wbits: int = 22) -> bytes:
    """Encode ``data`` as a valid brotli stream of uncompressed
    meta-blocks (no entropy coding) — the analog of zstd's raw blocks.
    Decodable by any RFC 7932 decoder including libbrotli."""
    w = _stream_header(wbits)
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + (1 << 24)]
        pos += len(chunk)
        w.write(0, 1)  # ISLAST = 0
        nib_val = len(chunk) - 1
        nibbles = max(4, (max(nib_val, 1).bit_length() + 3) // 4)
        if nibbles > 6:
            raise AssertionError("chunking bound exceeded")
        w.write(nibbles - 4, 2)
        w.write(nib_val, 4 * nibbles)
        w.write(1, 1)  # ISUNCOMPRESSED
        w.align()
        w.raw(chunk)
    w.write(1, 1)  # ISLAST
    w.write(1, 1)  # ISLASTEMPTY
    return w.getvalue()


def decode_content_encoding(body: bytes, encoding: str) -> bytes:
    """Inflate an HTTP payload per its ``Content-Encoding`` header —
    the decode step a WARC ingest needs before text extraction.
    Supports identity, gzip, deflate (both zlib-wrapped and raw), and
    br (this module's decoder)."""
    enc = (encoding or "").strip().lower()
    if enc in ("", "identity"):
        return body
    if enc in ("gzip", "x-gzip"):
        import gzip
        return gzip.decompress(body)
    if enc == "deflate":
        try:
            return zlib.decompress(body)
        except zlib.error:
            return zlib.decompress(body, -15)  # raw-deflate servers
    if enc == "br":
        return decompress(body)
    if enc == "zstd":
        from .zstd import decompress as zstd_decompress
        return zstd_decompress(body)
    raise ValueError(f"unsupported Content-Encoding: {encoding!r}")


# --------------------------------------------------------------------------
# compressor: greedy LZ77 + canonical prefix codes — real entropy-coded
# brotli, decodable by libbrotli (the encode-side twin of the zstd
# compressor in sources/zstd.py)
# --------------------------------------------------------------------------


# package-merge length-limited Huffman, shared with the zstd encoder
# (Kraft-complete by construction — the decoder's 32768-space
# accounting requires exactness)
from .zstd import _pm_lengths  # noqa: E402


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), the same (length, symbol)-ordered
    assignment the decoder's ``_PrefixCode`` builds."""
    by_len: dict[int, list[int]] = {}
    for sym, ln in lengths.items():
        if ln:
            by_len.setdefault(ln, []).append(sym)
    out: dict[int, tuple[int, int]] = {}
    code = 0
    for ln in range(min(by_len), max(by_len) + 1):
        for sym in sorted(by_len.get(ln, ())):
            out[sym] = (code, ln)
            code += 1
        code <<= 1
    return out


def _zero_run_codes(total: int) -> list[tuple[int, int]]:
    """(extra_bits_value, n_extra_bits) per 17-code so the decoder's
    non-linear repeat accumulation lands on exactly ``total`` zeros
    (total >= 3).  Solved backwards: rep_k = ((rep_{k-1}-2) << 3) + 3
    + extra."""
    steps: list[tuple[int, int]] = []
    t = total
    while t > 10:
        e = (t - 3) & 7
        steps.append((e, 3))
        t = ((t - 3) >> 3) + 2
    steps.append((t - 3, 3))
    steps.reverse()
    return steps


def _prev_run_codes(total: int) -> list[tuple[int, int]]:
    """Same accumulation for 16-codes (2 extra bits, repeat factor 4)."""
    steps: list[tuple[int, int]] = []
    t = total
    while t > 6:
        e = (t - 3) & 3
        steps.append((e, 2))
        t = ((t - 3) >> 2) + 2
    steps.append((t - 3, 2))
    steps.reverse()
    return steps


# fixed code for code-length-code lengths (value -> (code, bits)),
# canonical over _CLC_LENGTHS
_CLC_WRITE = {0: (0b00, 2), 3: (0b01, 2), 4: (0b10, 2),
              2: (0b110, 3), 1: (0b1110, 4), 5: (0b1111, 4)}


def _write_prefix_code(w: LsbWriter, counts: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Write one prefix-code header (simple or complex form) for the
    observed symbol ``counts``; returns symbol -> (code, len) for the
    data phase.  Mirrors section 3.4/3.5 of the RFC."""
    if not counts:
        counts = {0: 1}
    if len(counts) == 1:
        sym = next(iter(counts))
        w.write(1, 2)               # simple
        w.write(0, 2)               # NSYM - 1 = 0
        w.write(sym, _alphabet_bits(alphabet_size))
        return {sym: (0, 0)}
    if len(counts) <= 4:
        if len(counts) == 4:
            pm = _pm_lengths(counts, 15)
            tree_select = 0 if max(pm.values()) == 2 else 1
            lens = (2, 2, 2, 2) if tree_select == 0 else (1, 2, 3, 3)
        else:
            lens = {2: (1, 1), 3: (1, 2, 2)}[len(counts)]
            tree_select = None
        # most-frequent symbols get the shorter lengths; the stream
        # lists symbols so the i-th gets lens[i], sorted within equal
        # lengths (the decoder's canonical build sorts by symbol there,
        # so sorted listing keeps writer and reader assignments equal)
        by_freq = sorted(counts, key=lambda s: (-counts[s], s))
        assignment = dict(zip(by_freq, lens))
        listed = sorted(counts, key=lambda s: (assignment[s], s))
        w.write(1, 2)
        w.write(len(listed) - 1, 2)
        width = _alphabet_bits(alphabet_size)
        for s in listed:
            w.write(s, width)
        if tree_select is not None:
            w.write(tree_select, 1)
        return _canonical_codes(assignment)

    # complex form
    lengths = _pm_lengths(counts, 15)
    arr = [0] * alphabet_size
    for s, ln in lengths.items():
        arr[s] = ln
    last = max(s for s, ln in enumerate(arr) if ln)

    # build the code-length symbol stream (with 16/17 runs)
    stream: list[tuple[int, int, int]] = []  # (clc_sym, extra, nbits)
    i = 0
    while i <= last:
        ln = arr[i]
        j = i
        while j <= last and arr[j] == ln:
            j += 1
        run = j - i
        if ln == 0:
            if run >= 3:
                for e, nb in _zero_run_codes(run):
                    stream.append((_REPEAT_ZERO, e, nb))
            else:
                stream.extend((0, 0, 0) for _ in range(run))
        else:
            stream.append((ln, 0, 0))
            rest = run - 1
            while rest:
                if rest >= 3:
                    for e, nb in _prev_run_codes(rest):
                        stream.append((_REPEAT_PREVIOUS, e, nb))
                    rest = 0
                else:
                    stream.append((ln, 0, 0))
                    rest -= 1
        i = j

    clc_counts: dict[int, int] = {}
    for sym, _e, _nb in stream:
        clc_counts[sym] = clc_counts.get(sym, 0) + 1
    if len(clc_counts) == 1:
        clc_lengths = {next(iter(clc_counts)): 1}
    else:
        clc_lengths = _pm_lengths(clc_counts, 5)
    clc_codes = _canonical_codes(clc_lengths) if len(clc_counts) > 1 \
        else {next(iter(clc_counts)): (0, 0)}

    w.write(0, 2)  # HSKIP = 0 -> complex form
    space = 0
    single = len(clc_counts) == 1
    for sym in _CLC_ORDER:
        ln = clc_lengths.get(sym, 0)
        code, nbits = _CLC_WRITE[ln]
        w.write_code(code, nbits)
        if ln:
            space += 32 >> ln
            if space >= 32 and not single:
                break

    for sym, extra, nbits in stream:
        c, ln = clc_codes[sym]
        w.write_code(c, ln)
        if nbits:
            w.write(extra, nbits)
    return _canonical_codes(lengths)


def _insert_code(n: int) -> int:
    for i in range(len(_INSERT_BASE) - 1, -1, -1):
        if n >= _INSERT_BASE[i]:
            return i
    return 0


def _copy_code(n: int) -> int:
    for i in range(len(_COPY_BASE) - 1, -1, -1):
        if n >= _COPY_BASE[i]:
            return i
    return 0


# explicit-distance cells: (insert_hi, copy_hi) -> cell index
_CELL_OF = {( _CMD_INSERT[c], _CMD_COPY[c]): c for c in range(10, 1, -1)}


def _dist_code(distance: int) -> tuple[int, int, int]:
    """(dcode, extra, n_extra_bits) for NPOSTFIX=0, NDIRECT=0."""
    n = max(1, (distance + 3).bit_length() - 2)
    t = distance - ((1 << (n + 1)) - 3)
    if t < (1 << n):
        half, extra = 0, t
    else:
        half, extra = 1, t - (1 << n)
    return 16 + 2 * (n - 1) + half, extra, n


def _find_matches(data: bytes,
                  max_distance: int) -> list[tuple[int, int, int]]:
    """Greedy hash-4 LZ77: (literal_len, copy_len, distance) commands
    covering ``data``; a trailing literal-only tail is returned as a
    final command with copy_len 0.  Distances beyond ``max_distance``
    (the window) would decode as static-dictionary references, so such
    candidates are skipped."""
    n = len(data)
    cmds: list[tuple[int, int, int]] = []
    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    limit = n - 4
    while pos <= limit:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is None or pos - cand > max_distance:
            pos += 1
            continue
        mlen = 4
        max_m = n - pos
        while mlen < max_m and data[cand + mlen] == data[pos + mlen]:
            mlen += 1
        cmds.append((pos - anchor, mlen, pos - cand))
        pos += mlen
        anchor = pos
    if anchor < n or not cmds:
        cmds.append((n - anchor, 0, 0))
    return cmds


_CHUNK = 1 << 22


def compress(data: bytes, wbits: int = 22) -> bytes:
    """Real entropy-coded brotli: greedy LZ77 commands over canonical
    prefix codes (one literal / insert-copy / distance code per
    meta-block, trivial context maps).  Every stream is decodable by
    libbrotli; incompressible chunks fall back to uncompressed
    meta-blocks.  The full command/distance vocabulary of the decoder
    is NOT used (no context modeling, no static-dictionary references,
    no distance ring codes) — this is the honest write-side subset,
    exactly like zstd.py's predefined-FSE compressor."""
    w = _stream_header(wbits)

    # chunks never exceed the window, so every in-chunk distance is a
    # plain backward reference (never a dictionary address)
    window = (1 << wbits) - 16
    chunk_size = min(_CHUNK, window)
    for start in range(0, len(data), chunk_size):
        chunk = data[start:start + chunk_size]
        body = _encode_meta_block(chunk, window)
        w.write(0, 1)                       # ISLAST = 0
        nib_val = len(chunk) - 1
        nibbles = max(4, (max(nib_val, 1).bit_length() + 3) // 4)
        w.write(nibbles - 4, 2)
        w.write(nib_val, 4 * nibbles)
        if body is None:                    # incompressible
            w.write(1, 1)                   # ISUNCOMPRESSED
            w.align()
            w.raw(chunk)
        else:
            w.write(0, 1)
            buf, nbits = body
            full, rem = divmod(nbits, 8)
            for b in buf[:full]:
                w.write(b, 8)
            if rem:
                w.write(buf[full] & ((1 << rem) - 1), rem)
    w.write(1, 1)                           # ISLAST
    w.write(1, 1)                           # ISLASTEMPTY
    return w.getvalue()


def _encode_meta_block(chunk: bytes,
                       max_distance: int) -> tuple[bytes, int] | None:
    """Compressed meta-block payload bits (buffer, nbits) after the
    MLEN/ISUNCOMPRESSED header, or None when raw is smaller."""
    cmds = _find_matches(chunk, max_distance)

    lit_counts: dict[int, int] = {}
    cmd_counts: dict[int, int] = {}
    dist_counts: dict[int, int] = {}
    encoded = []
    pos = 0
    for idx, (ins, cpy, dist) in enumerate(cmds):
        trailing = cpy == 0
        ic = _insert_code(ins)
        cc = _copy_code(2 if trailing else cpy)
        cell = _CELL_OF[(ic & ~7, cc & ~7)]
        sym = (cell << 6) | ((ic & 7) << 3) | (cc & 7)
        cmd_counts[sym] = cmd_counts.get(sym, 0) + 1
        lits = chunk[pos:pos + ins]
        for b in lits:
            lit_counts[b] = lit_counts.get(b, 0) + 1
        if trailing:
            dinfo = None
        else:
            dinfo = _dist_code(dist)
            dist_counts[dinfo[0]] = dist_counts.get(dinfo[0], 0) + 1
        encoded.append((sym, ic, cc, ins, (2 if trailing else cpy),
                        lits, dinfo))
        pos += ins + cpy

    w = LsbWriter()
    # block types: 1 literal, 1 insert-copy, 1 distance
    for _ in range(3):
        w.write(0, 1)                       # NBLTYPES = 1
    w.write(0, 2)                           # NPOSTFIX = 0
    w.write(0, 4)                           # NDIRECT = 0
    w.write(0, 2)                           # context mode LSB6
    w.write(0, 1)                           # NTREESL = 1
    w.write(0, 1)                           # NTREESD = 1
    lit_codes = _write_prefix_code(w, lit_counts, 256)
    cmd_codes = _write_prefix_code(w, cmd_counts, 704)
    dist_codes = _write_prefix_code(w, dist_counts, 64)

    for sym, ic, cc, ins, cpy, lits, dinfo in encoded:
        c, ln = cmd_codes[sym]
        w.write_code(c, ln)
        if _INSERT_EXTRA[ic]:
            w.write(ins - _INSERT_BASE[ic], _INSERT_EXTRA[ic])
        if _COPY_EXTRA[cc]:
            w.write(cpy - _COPY_BASE[cc], _COPY_EXTRA[cc])
        for b in lits:
            lc, ll = lit_codes[b]
            w.write_code(lc, ll)
        if dinfo is not None:
            dcode, extra, nbits = dinfo
            dc, dl = dist_codes[dcode]
            w.write_code(dc, dl)
            w.write(extra, nbits)

    total_bits = len(w.buf) * 8 + w.n
    if total_bits >= len(chunk) * 8:
        return None
    return w.getvalue(), total_bits
