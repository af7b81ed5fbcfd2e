"""Zstandard decoder (RFC 8878, public spec) + seekable-format index —
the compression modern LLM corpus shards actually ship (`.jsonl.zst`,
`.warc.zst`), where gzip stops at yesterday's Common Crawl.

Pure-Python, same discipline as the FLAC/CCITT codecs in this tree:
every structure is decoded from the published spec, nothing is
shelled out. Implemented:

* frames: magic, frame-header descriptor (FCS field sizes,
  single-segment, content checksum), skippable frames,
* a COMPRESSOR (`compress`): greedy LZ77 + predefined-FSE sequences +
  package-merge Huffman literals — libzstd-decodable real compression,
* blocks: raw / RLE / compressed,
* literals: raw / RLE / Huffman-compressed / treeless (table reuse),
  1-stream and 4-stream layouts with the jump table,
* Huffman: direct 4-bit weights AND FSE-compressed weights (two
  alternating states over a backward bitstream), canonical table
  build with the implied last weight,
* FSE: table description (variable-bit probability parse, -1
  less-than-one probabilities, zero-repeat flags), spread + state
  table build, predefined LL/ML/OF distributions,
* sequences: predefined / RLE / FSE-compressed / repeat table modes,
  backward-bitstream state machine (init LL->OF->ML, bits read
  OF->ML->LL, update LL->ML->OF), offset codes with the three
  repeat-offset slots and the literals-length-0 twist,
* sequence execution with overlap-safe match copies,
* XXH64 (for the optional 4-byte content checksum, verified when
  present).

* external DICTIONARIES (RFC 8878 section 5): ``parse_dictionary``
  reads structured dictionaries (magic + id, Huffman/FSE entropy
  tables, repeat offsets, content) and raw-content blobs;
  ``decompress(dictionary=...)`` preloads the entropy state, seeds
  the repeat offsets, and extends the match window with the content;
  ``compress(dictionary=...)`` matches against the content and
  records the id in the frame header — the small-document shard
  pattern where one shared dictionary amortizes per-record headers.
  Cross-validated against libzstd in BOTH directions, including
  ZDICT-trained dictionaries.

NOT implemented, raising clearly: window sizes beyond the buffer
(every frame is decoded whole — the ingest path decodes per-record
frames, so streaming windows are unnecessary).

Scale shape: `frame_index` walks frames WITHOUT decoding (block
headers carry their sizes), giving the (offset, size) random-access
index an object-store ingest persists — one frame = one ranged GET +
one decode, the exact analog of ``warc.member_index``. The seekable
format (skippable frame 0x184D2A5E with the 0x8F92EAB1 footer — the
facebook/zstd contrib spec) is read and written so per-record frames
round-trip with a standard seek table. q382 value-checks a
.jsonl.zst shard end to end; fixtures in tests are compressed by
libzstd (via pyarrow) so the decoder is validated against the
reference encoder, not against itself.
"""

from __future__ import annotations

import struct

from .bitio import LsbReader, LsbWriter

ZSTD_MAGIC = 0xFD2FB528
DICT_MAGIC = 0xEC30A437
SKIPPABLE_LO = 0x184D2A50
SKIPPABLE_HI = 0x184D2A5F
SEEKABLE_MAGIC = 0x184D2A5E
SEEK_FOOTER_MAGIC = 0x8F92EAB1

# --------------------------------------------------------------------------
# bitstreams
# --------------------------------------------------------------------------


class _RBits:
    """Backward bitstream (RFC 8878 §3.1.1.3.2.1): values are packed
    little-endian; reading starts just below the highest set bit of the
    LAST byte (the padding sentinel) and walks down. Reads past the
    start return zero bits with ``pos`` gone negative — callers use
    that as the exhaustion signal, exactly like the reference decoder's
    offset check."""

    __slots__ = ("data", "pos", "_lo_bits", "_win")

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            raise ValueError("zstd: corrupt bitstream (no sentinel bit)")
        self.data = data
        self.pos = (len(data) - 1) * 8 + data[-1].bit_length() - 1
        self._lo_bits = 1 << 62  # sentinel: load the window on first read
        self._win = 0

    def _extract(self, pos: int, n: int) -> int:
        if n <= 0:
            return 0
        if pos < 0:
            m = pos + n
            if m <= 0:
                return 0
            return self._extract(0, m) << (n - m)
        lo, hi = pos >> 3, (pos + n - 1) >> 3
        chunk = int.from_bytes(self.data[lo:hi + 1], "little")
        return (chunk >> (pos & 7)) & ((1 << n) - 1)

    def read(self, n: int) -> int:
        """Backward read with a cached 64-bit window: identical values
        to _extract, one int.from_bytes per ~3 consumed bytes instead
        of one per call (the sequence-decode hot path)."""
        pos = self.pos - n
        self.pos = pos
        if n <= 0:
            return 0
        if pos < 0 or n > 32:
            return self._extract(pos, n)
        lo_bits = self._lo_bits
        if pos < lo_bits or pos + n > lo_bits + 64:
            lo = (pos >> 3) - 3
            if lo < 0:
                lo = 0
            lo_bits = lo << 3
            self._lo_bits = lo_bits
            self._win = int.from_bytes(self.data[lo:lo + 8], "little")
        return (self._win >> (pos - lo_bits)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        return self._extract(self.pos - n, n)

    def skip(self, n: int) -> None:
        self.pos -= n


# --------------------------------------------------------------------------
# FSE
# --------------------------------------------------------------------------


def _fse_read_distribution(fb: LsbReader, max_accuracy: int,
                           max_symbol: int):
    """RFC 8878 §4.1.1: variable-bit probability list. Returns
    (probs list incl. -1 entries, accuracy_log)."""
    accuracy_log = fb.read(4) + 5
    if accuracy_log > max_accuracy:
        raise ValueError(
            f"zstd: FSE accuracy {accuracy_log} > max {max_accuracy}")
    remaining = (1 << accuracy_log) + 1
    probs: list[int] = []
    while remaining > 1:
        if len(probs) > max_symbol:
            raise ValueError("zstd: FSE distribution has too many symbols")
        nbits = remaining.bit_length()
        v = fb.read(nbits)
        lower_mask = (1 << (nbits - 1)) - 1
        threshold = (1 << nbits) - 1 - remaining
        value = v & lower_mask
        if value < threshold:
            fb.pos -= 1
        else:
            value = v
            if value > lower_mask:
                value -= threshold
        prob = value - 1
        remaining -= -prob if prob < 0 else prob
        probs.append(prob)
        if prob == 0:
            rep = fb.read(2)
            probs.extend([0] * rep)
            while rep == 3:
                rep = fb.read(2)
                probs.extend([0] * rep)
    if remaining != 1:
        raise ValueError("zstd: FSE probabilities overshoot table size")
    return probs, accuracy_log


def _fse_build(probs: list[int], accuracy_log: int):
    """Decode table: state -> (symbol, nb_bits, baseline). Spread per
    §4.1.1 (step (size>>1)+(size>>3)+3; less-than-one symbols pinned at
    the table top with full-accuracy reads)."""
    size = 1 << accuracy_log
    syms = [0] * size
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            syms[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            syms[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("zstd: FSE spread did not return to zero")
    table: list[tuple[int, int, int]] = [None] * size  # type: ignore
    counter = [0] * len(probs)
    for state in range(high + 1):
        s = syms[state]
        nxt = probs[s] + counter[s]
        counter[s] += 1
        nb = accuracy_log - (nxt.bit_length() - 1)
        table[state] = (s, nb, (nxt << nb) - size)
    for state in range(high + 1, size):
        table[state] = (syms[state], accuracy_log, 0)
    return table


def _fse_rle_table(symbol: int):
    """Degenerate table for RLE mode: 0-bit state, always `symbol`."""
    return [(symbol, 0, 0)]


# predefined distributions (RFC 8878 §3.1.1.3.2.2)
_LL_DEFAULT = ([4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                -1, -1, -1, -1], 6)
_ML_DEFAULT = ([1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
                -1, -1, -1, -1, -1], 6)
_OF_DEFAULT = ([1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1], 5)

_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10,
                       11, 12, 13, 14, 15, 16]
_LL_BASE = list(range(16)) + [16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
                              128, 256, 512, 1024, 2048, 4096, 8192,
                              16384, 32768, 65536]
_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
                       11, 12, 13, 14, 15, 16]
_ML_BASE = [i + 3 for i in range(32)] + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539]


# --------------------------------------------------------------------------
# Huffman
# --------------------------------------------------------------------------


def _huf_read_weights(data: bytes):
    """§4.2.1: header byte >= 128 -> direct 4-bit weights (two per
    byte, high nibble first); < 128 -> FSE-compressed weights over a
    backward bitstream with two alternating states. Returns
    (weights_without_last, bytes_consumed)."""
    if not data:
        raise ValueError("zstd: empty Huffman description")
    h = data[0]
    if h >= 128:
        n = h - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ValueError("zstd: truncated Huffman weights")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return weights, 1 + nbytes
    comp = data[1:1 + h]
    if len(comp) != h:
        raise ValueError("zstd: truncated FSE-compressed weights")
    fb = LsbReader(comp, "zstd")
    probs, al = _fse_read_distribution(fb, 6, 255)
    table = _fse_build(probs, al)
    rb = _RBits(comp[(fb.pos + 7) >> 3:])
    s1 = rb.read(al)
    s2 = rb.read(al)
    weights = []
    while True:
        if len(weights) > 255:
            raise ValueError("zstd: runaway Huffman weight stream")
        sym, nb, base = table[s1]
        weights.append(sym)
        s1 = base + rb.read(nb)
        if rb.pos < 0:
            weights.append(table[s2][0])
            break
        sym, nb, base = table[s2]
        weights.append(sym)
        s2 = base + rb.read(nb)
        if rb.pos < 0:
            weights.append(table[s1][0])
            break
    return weights, 1 + h


def _huf_build(weights: list[int]):
    """Canonical table from explicit weights + the implied last weight
    that completes the 2^(w-1) sum to a power of two (§4.2.1.3).
    Returns (table[2^max_bits] of (symbol, nb_bits), max_bits)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: Huffman weights all zero")
    target = 1 << total.bit_length()
    left = target - total
    if left & (left - 1):
        raise ValueError("zstd: Huffman weights don't complete a power "
                         "of two")
    full = weights + [left.bit_length()]
    max_bits = target.bit_length() - 1
    if max_bits > 11:
        raise ValueError(f"zstd: Huffman max bits {max_bits} > 11")
    table: list[tuple[int, int]] = [None] * target  # type: ignore
    pos = 0
    for w in range(1, max_bits + 1):
        span = 1 << (w - 1)
        nb = max_bits + 1 - w
        for sym, ww in enumerate(full):
            if ww == w:
                for k in range(pos, pos + span):
                    table[k] = (sym, nb)
                pos += span
    if pos != target:
        raise ValueError("zstd: Huffman table fill mismatch")
    return table, max_bits


def _huf_decode_stream(stream: bytes, table, max_bits: int,
                       n_out: int) -> bytearray:
    """Per-symbol Huffman decode with an inlined 64-bit bit window.

    Identical output to the straightforward _RBits peek/skip loop, but
    the window is reloaded from the byte buffer only every ~40 consumed
    bits instead of slicing + int.from_bytes per symbol — measured ~4x
    on the literals sections that dominate pure-Python zstd decode.
    """
    # the window math needs max_bits <= 17 (p - lo_bits can reach 47);
    # _huf_build refuses tables wider than 11 bits
    assert max_bits <= 17, max_bits
    if not stream or stream[-1] == 0:
        raise ValueError("zstd: corrupt bitstream (no sentinel bit)")
    pos = (len(stream) - 1) * 8 + stream[-1].bit_length() - 1
    out = bytearray(n_out)
    mask = (1 << max_bits) - 1
    lo = 0
    win = 0
    lo_bits = 1 << 62  # sentinel: force a window load on first use
    for i in range(n_out):
        p = pos - max_bits
        if p >= 0:
            if p < lo_bits:
                lo = (p >> 3) - 5
                if lo < 0:
                    lo = 0
                lo_bits = lo << 3
                win = int.from_bytes(stream[lo:lo + 8], "little")
            sym, nb = table[(win >> (p - lo_bits)) & mask]
        else:
            # stream start: missing low bits read as the value shifted
            # up (the _RBits._extract contract)
            m = p + max_bits
            v = (int.from_bytes(stream[0:8], "little")
                 & ((1 << m) - 1)) << (max_bits - m) if m > 0 else 0
            sym, nb = table[v]
        pos -= nb
        out[i] = sym
    if pos < 0:
        raise ValueError("zstd: Huffman stream exhausted early")
    return out


# --------------------------------------------------------------------------
# literals + sequences sections
# --------------------------------------------------------------------------


def _decode_literals(block: bytes, frame_state: dict):
    """Returns (literals bytes, bytes_consumed_from_block)."""
    b0 = block[0]
    lb_type = b0 & 3
    sf = (b0 >> 2) & 3
    if lb_type in (0, 1):  # raw / RLE
        if sf in (0, 2):
            regen, hdr = b0 >> 3, 1
        elif sf == 1:
            if len(block) < 2:
                raise ValueError("zstd: truncated literals header")
            regen, hdr = (b0 >> 4) + (block[1] << 4), 2
        else:
            if len(block) < 3:
                raise ValueError("zstd: truncated literals header")
            regen = (b0 >> 4) + (block[1] << 4) + (block[2] << 12)
            hdr = 3
        if lb_type == 0:
            lits = block[hdr:hdr + regen]
            if len(lits) != regen:
                raise ValueError("zstd: truncated raw literals")
            return bytes(lits), hdr + regen
        if len(block) <= hdr:
            raise ValueError("zstd: truncated RLE literal byte")
        return bytes([block[hdr]]) * regen, hdr + 1
    # compressed (2) / treeless (3)
    if sf == 0:
        hdr, bits, streams = 3, 10, 1
    elif sf == 1:
        hdr, bits, streams = 3, 10, 4
    elif sf == 2:
        hdr, bits, streams = 4, 14, 4
    else:
        hdr, bits, streams = 5, 18, 4
    full = int.from_bytes(block[:hdr], "little")
    regen = (full >> 4) & ((1 << bits) - 1)
    comp = (full >> (4 + bits)) & ((1 << bits) - 1)
    payload = block[hdr:hdr + comp]
    if len(payload) != comp:
        raise ValueError("zstd: truncated compressed literals")
    if lb_type == 2:
        weights, used = _huf_read_weights(payload)
        table, max_bits = _huf_build(weights)
        frame_state["huf"] = (table, max_bits)
        payload = payload[used:]
    else:
        if "huf" not in frame_state:
            raise ValueError(
                "zstd: treeless literals with no previous Huffman table")
        table, max_bits = frame_state["huf"]
    if streams == 1:
        lits = _huf_decode_stream(bytes(payload), table, max_bits, regen)
    else:
        if len(payload) < 6:
            raise ValueError("zstd: missing 4-stream jump table")
        s1, s2, s3 = struct.unpack("<HHH", payload[:6])
        rest = payload[6:]
        s4 = len(rest) - s1 - s2 - s3
        if s4 <= 0:
            raise ValueError("zstd: 4-stream jump table overruns payload")
        per = (regen + 3) // 4
        last = regen - 3 * per
        if last < 0:
            raise ValueError("zstd: regenerated size below stream split")
        lits = bytearray()
        offs = 0
        for size, n_out in ((s1, per), (s2, per), (s3, per), (s4, last)):
            lits += _huf_decode_stream(
                bytes(rest[offs:offs + size]), table, max_bits, n_out)
            offs += size
    return bytes(lits), hdr + comp


def _seq_table(mode: int, fb_data: bytes, pos: int, kind: str,
               frame_state: dict):
    """One of the three sequence tables by mode; returns
    ((table, accuracy_log), new_pos)."""
    defaults = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}
    max_al = {"ll": 9, "of": 8, "ml": 9}[kind]
    if mode == 0:  # predefined
        probs, al = defaults[kind]
        return (_fse_build(probs, al), al), pos
    if mode == 1:  # RLE: one byte symbol
        return (_fse_rle_table(fb_data[pos]), 0), pos + 1
    if mode == 2:  # FSE-compressed
        fb = LsbReader(fb_data[pos:], "zstd")
        probs, al = _fse_read_distribution(fb, max_al, 255)
        return (_fse_build(probs, al), al), pos + ((fb.pos + 7) >> 3)
    prev = frame_state.get(f"seq_{kind}")  # mode 3: repeat
    if prev is None:
        raise ValueError(f"zstd: repeat {kind} table with no previous")
    return prev, pos


def _decode_block(block: bytes, out: bytearray,
                  frame_state: dict) -> None:
    """Compressed block: literals section, sequences section, sequence
    execution appending to the frame output ``out`` (match offsets may
    reach back across blocks within the frame)."""
    lits, consumed = _decode_literals(block, frame_state)
    rest = block[consumed:]
    if not rest:
        raise ValueError("zstd: block missing sequences section")
    b0 = rest[0]
    if b0 == 0:
        out += lits
        return
    if b0 < 128:
        nseq, p = b0, 1
    elif b0 < 255:
        nseq, p = ((b0 - 128) << 8) + rest[1], 2
    else:
        nseq, p = rest[1] + (rest[2] << 8) + 0x7F00, 3
    modes = rest[p]
    p += 1
    if modes & 3:
        raise ValueError("zstd: reserved sequence-mode bits set")
    (ll_t, ll_al), p = _seq_table((modes >> 6) & 3, rest, p, "ll",
                                  frame_state)
    (of_t, of_al), p = _seq_table((modes >> 4) & 3, rest, p, "of",
                                  frame_state)
    (ml_t, ml_al), p = _seq_table((modes >> 2) & 3, rest, p, "ml",
                                  frame_state)
    frame_state["seq_ll"] = (ll_t, ll_al)
    frame_state["seq_of"] = (of_t, of_al)
    frame_state["seq_ml"] = (ml_t, ml_al)

    rb = _RBits(bytes(rest[p:]))
    ll_state = rb.read(ll_al)
    of_state = rb.read(of_al)
    ml_state = rb.read(ml_al)
    rep = frame_state["rep"]
    lit_pos = 0
    for i in range(nseq):
        of_code = of_t[of_state][0]
        if of_code > 31:
            raise ValueError("zstd: offset code > 31")
        offset_value = (1 << of_code) + rb.read(of_code)
        ml_code = ml_t[ml_state][0]
        ml = _ML_BASE[ml_code] + rb.read(_ML_BITS[ml_code])
        ll_code = ll_t[ll_state][0]
        ll = _LL_BASE[ll_code] + rb.read(_LL_BITS[ll_code])
        if rb.pos < 0:
            raise ValueError("zstd: sequence bitstream exhausted")

        if offset_value > 3:
            offset = offset_value - 3
            rep[2], rep[1], rep[0] = rep[1], rep[0], offset
        else:
            idx = offset_value - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1], rep[0] = rep[0], offset
            elif idx == 2:
                offset = rep[2]
                rep[2], rep[1], rep[0] = rep[1], rep[0], offset
            else:  # offset_value 3 with ll == 0
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("zstd: repeat offset underflow")
                rep[2], rep[1], rep[0] = rep[1], rep[0], offset

        out += lits[lit_pos:lit_pos + ll]
        lit_pos += ll
        if offset > len(out):
            raise ValueError(
                f"zstd: match offset {offset} reaches before frame start")
        if offset >= ml:
            start = len(out) - offset
            out += out[start:start + ml]
        else:  # overlap: tile the last `offset` bytes (identical to
            # the byte-at-a-time RLE-extend, without 1 append/byte)
            seg = bytes(out[len(out) - offset:])
            out += (seg * (ml // offset + 1))[:ml]
        if i + 1 < nseq:
            s, nb, base = ll_t[ll_state]
            ll_state = base + rb.read(nb)
            s, nb, base = ml_t[ml_state]
            ml_state = base + rb.read(nb)
            s, nb, base = of_t[of_state]
            of_state = base + rb.read(nb)
    if lit_pos > len(lits):
        raise ValueError("zstd: literals overconsumed")
    out += lits[lit_pos:]


# --------------------------------------------------------------------------
# frames
# --------------------------------------------------------------------------


def _parse_frame_header(data: bytes, pos: int):
    """Returns (header dict, pos after header)."""
    desc = data[pos]
    pos += 1
    fcs_flag = desc >> 6
    single = (desc >> 5) & 1
    checksum = (desc >> 2) & 1
    did_flag = desc & 3
    if (desc >> 3) & 1:
        raise ValueError("zstd: reserved frame-header bit set")
    if not single:
        pos += 1  # window descriptor: whole-buffer decode ignores it
    did = 0
    did_len = (0, 1, 2, 4)[did_flag]
    if did_len:
        did = int.from_bytes(data[pos:pos + did_len], "little")
        pos += did_len
    fcs_len = (0, 2, 4, 8)[fcs_flag]
    if fcs_flag == 0 and single:
        fcs_len = 1
    fcs = None
    if fcs_len:
        fcs = int.from_bytes(data[pos:pos + fcs_len], "little")
        if fcs_len == 2:
            fcs += 256
        pos += fcs_len
    return {"checksum": bool(checksum), "content_size": fcs,
            "dict_id": did}, pos


def _walk_blocks(data: bytes, pos: int, out: bytearray | None,
                 frame_state: dict | None) -> int:
    """Walk (and optionally decode) blocks until the last-block flag;
    returns position after the final block."""
    while True:
        if pos + 3 > len(data):
            raise ValueError("zstd: truncated block header")
        h = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last, btype, bsize = h & 1, (h >> 1) & 3, h >> 3
        if btype == 3:
            raise ValueError("zstd: reserved block type")
        span = 1 if btype == 1 else bsize
        if pos + span > len(data):
            raise ValueError("zstd: truncated block body")
        if out is not None:
            if btype == 0:
                out += data[pos:pos + bsize]
            elif btype == 1:
                out += bytes([data[pos]]) * bsize
            else:
                _decode_block(data[pos:pos + bsize], out, frame_state)
        pos += span
        if last:
            return pos


def decompress(data: bytes, verify_checksum: bool = True,
               dictionary: bytes | dict | None = None) -> bytes:
    """Decode a concatenation of zstd frames (skippable frames are
    skipped); the content of all data frames, in order.

    ``dictionary`` (RFC 8878 section 5) may be a raw blob (magic-
    prefixed structured dictionary or raw-content dictionary) or a
    ``parse_dictionary`` result: its entropy tables preload the
    frame's Huffman/FSE repeat state, its repeat offsets seed the
    offset history, and its CONTENT extends the match window below
    the frame start — the small-document shard pattern where one
    shared dictionary amortizes the per-record headers."""
    d = (parse_dictionary(dictionary)
         if isinstance(dictionary, (bytes, bytearray)) else dictionary)
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("zstd: truncated frame magic")
        magic = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        if SKIPPABLE_LO <= magic <= SKIPPABLE_HI:
            if pos + 4 > n:
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(data[pos:pos + 4], "little")
            if pos + 4 + size > n:
                raise ValueError("zstd: truncated skippable frame")
            pos += 4 + size
            continue
        if magic != ZSTD_MAGIC:
            raise ValueError(f"zstd: bad magic 0x{magic:08x} at "
                             f"{pos - 4}")
        hdr, pos = _parse_frame_header(data, pos)
        if hdr["dict_id"] and d is None:
            raise ValueError(
                f"zstd: frame requires dictionary {hdr['dict_id']} "
                "(pass dictionary=)")
        if hdr["dict_id"] and d["id"] and hdr["dict_id"] != d["id"]:
            raise ValueError(
                f"zstd: frame wants dictionary {hdr['dict_id']}, "
                f"got {d['id']}")
        if d is not None:
            fout = bytearray(d["content"])
            base = len(fout)
            frame_state = {"rep": list(d["rep"])}
            if d["huf"] is not None:
                frame_state["huf"] = d["huf"]
            for kind in ("ll", "of", "ml"):
                if d.get(f"seq_{kind}") is not None:
                    frame_state[f"seq_{kind}"] = d[f"seq_{kind}"]
            pos = _walk_blocks(data, pos, fout, frame_state)
            produced = fout[base:]
        else:
            fout = out
            base = len(out)
            frame_state = {"rep": [1, 4, 8]}
            pos = _walk_blocks(data, pos, fout, frame_state)
            produced = fout[base:]
        if hdr["content_size"] is not None and (
                len(produced) != hdr["content_size"]):
            raise ValueError(
                f"zstd: frame decoded {len(produced)} bytes, "
                f"header promised {hdr['content_size']}")
        if hdr["checksum"]:
            want = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
            if verify_checksum:
                got = xxh64(bytes(produced)) & 0xFFFFFFFF
                if got != want:
                    raise ValueError("zstd: content checksum mismatch")
        if d is not None:
            out += produced
    return bytes(out)


def parse_dictionary(blob: bytes) -> dict:
    """Parse an RFC 8878 section-5 dictionary: magic + id, entropy
    tables (Huffman literals table, then FSE tables for offsets /
    match lengths / literals lengths), three repeat offsets, content.
    A blob without the magic is a RAW-CONTENT dictionary (id 0, no
    entropy preload, default repeat offsets)."""
    if len(blob) < 8 or int.from_bytes(blob[:4], "little") != DICT_MAGIC:
        return {"id": 0, "content": bytes(blob), "huf": None,
                "seq_ll": None, "seq_of": None, "seq_ml": None,
                "rep": [1, 4, 8]}
    dict_id = int.from_bytes(blob[4:8], "little")
    pos = 8
    weights, used = _huf_read_weights(blob[pos:])
    huf = _huf_build(weights)
    pos += used
    tables = {}
    for kind, max_al in (("of", 8), ("ml", 9), ("ll", 9)):
        fb = LsbReader(blob[pos:], "zstd")
        probs, al = _fse_read_distribution(fb, max_al, 255)
        tables[kind] = (_fse_build(probs, al), al)
        pos += (fb.pos + 7) >> 3
    rep = [int.from_bytes(blob[pos + 4 * i:pos + 4 * i + 4], "little")
           for i in range(3)]
    pos += 12
    content = bytes(blob[pos:])
    for r in rep:
        if not 0 < r <= len(content):
            raise ValueError(f"zstd: dictionary repeat offset {r} "
                             "outside content")
    return {"id": dict_id, "content": content, "huf": huf,
            "seq_ll": tables["ll"], "seq_of": tables["of"],
            "seq_ml": tables["ml"], "rep": rep}


def frame_end(data: bytes, pos: int) -> int:
    """End offset of the SINGLE frame starting at ``pos`` (data frame
    or skippable) without decoding — the O(blocks) walk lenient
    consumers use to resync one frame at a time."""
    magic = int.from_bytes(data[pos:pos + 4], "little")
    p = pos + 4
    if SKIPPABLE_LO <= magic <= SKIPPABLE_HI:
        if p + 4 > len(data):
            raise ValueError("zstd: truncated skippable frame")
        end = p + 4 + int.from_bytes(data[p:p + 4], "little")
        if end > len(data):
            raise ValueError("zstd: truncated skippable frame")
        return end
    if magic != ZSTD_MAGIC:
        raise ValueError(f"zstd: bad magic at offset {pos}")
    hdr, p = _parse_frame_header(data, p)
    p = _walk_blocks(data, p, None, None)
    if hdr["checksum"]:
        p += 4
    if p > len(data):
        raise ValueError("zstd: frame overruns buffer")
    return p


def frame_index(data: bytes) -> list[tuple[int, int, int | None]]:
    """(offset, compressed_size, content_size_or_None) per data frame
    WITHOUT decoding — block headers carry their sizes, so the walk is
    O(blocks). This is the random-access index a columnar ingest
    persists next to a `.zst` shard: one frame = one ranged GET + one
    decode (``warc.member_index``'s analog at the compression layer).
    Skippable frames are walked over and not listed."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        start = pos
        magic = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        if SKIPPABLE_LO <= magic <= SKIPPABLE_HI:
            if pos + 4 > n:
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(data[pos:pos + 4], "little")
            if pos + 4 + size > n:
                raise ValueError("zstd: truncated skippable frame")
            pos += 4 + size
            continue
        if magic != ZSTD_MAGIC:
            raise ValueError(f"zstd: bad magic at offset {start}")
        hdr, pos = _parse_frame_header(data, pos)
        pos = _walk_blocks(data, pos, None, None)
        if hdr["checksum"]:
            pos += 4
        out.append((start, pos - start, hdr["content_size"]))
    return out


# --------------------------------------------------------------------------
# raw-block encoder (fixtures without libzstd) + seekable format
# --------------------------------------------------------------------------


def compress_raw(content: bytes, checksum: bool = False) -> bytes:
    """A spec-valid zstd frame that stores ``content`` in RAW blocks
    (no entropy coding — compression is a quality choice, framing is
    the contract). Lets fixtures and tests run even where no native
    encoder exists; decodable by any zstd implementation.
    ``checksum`` appends the XXH64-low32 content checksum."""
    out = bytearray(struct.pack("<I", ZSTD_MAGIC))
    # single-segment, FCS flag by size, optional checksum bit
    ck = 0x04 if checksum else 0
    if len(content) < 256 and len(content) > 0:
        out += bytes([0x20 | ck]) + bytes([len(content)])
    else:
        out += bytes([0xA0 | ck]) + struct.pack("<I", len(content))
    if not content:
        out += (1).to_bytes(3, "little")  # last, raw, size 0
    else:
        max_block = 128 << 10
        for i in range(0, len(content), max_block):
            chunk = content[i:i + max_block]
            last = 1 if i + max_block >= len(content) else 0
            out += ((len(chunk) << 3) | last).to_bytes(3, "little")
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)


def write_seekable(frames: list[bytes],
                   content_sizes: list[int]) -> bytes:
    """Concatenate per-record zstd frames and append the seekable-
    format seek table (skippable frame 0x184D2A5E: per-frame
    (compressed_size, decompressed_size) LE pairs + footer
    [num_frames u32][descriptor u8][magic 0x8F92EAB1]) — the
    facebook/zstd contrib format every seekable-zstd reader speaks."""
    body = b"".join(frames)
    entries = b"".join(
        struct.pack("<II", len(f), c)
        for f, c in zip(frames, content_sizes))
    footer = struct.pack("<IBI", len(frames), 0, SEEK_FOOTER_MAGIC)
    table = entries + footer
    skippable = struct.pack("<II", SEEKABLE_MAGIC, len(table)) + table
    return body + skippable


def read_seek_table(data: bytes) -> list[tuple[int, int, int]]:
    """(offset, compressed_size, decompressed_size) per frame from the
    trailing seek table. The table is found from the END (footer magic
    + entry arithmetic), so readers never scan the body — the point of
    the format."""
    if len(data) < 17:
        raise ValueError("zstd-seekable: too short for a seek table")
    nf, desc, magic = struct.unpack("<IBI", data[-9:])
    if magic != SEEK_FOOTER_MAGIC:
        raise ValueError("zstd-seekable: footer magic missing")
    if desc & 0x7C:
        raise ValueError("zstd-seekable: reserved descriptor bits set")
    entry = 12 if (desc & 0x80) else 8  # bit 7: per-frame checksums
    table_len = nf * entry + 9
    head = len(data) - table_len - 8
    if head < 0:
        raise ValueError("zstd-seekable: seek table overruns file")
    smagic, ssize = struct.unpack("<II", data[head:head + 8])
    if smagic != SEEKABLE_MAGIC or ssize != table_len:
        raise ValueError("zstd-seekable: skippable envelope mismatch")
    out = []
    off = 0
    p = head + 8
    for _ in range(nf):
        c_size, d_size = struct.unpack("<II", data[p:p + 8])
        p += entry
        out.append((off, c_size, d_size))
        off += c_size
    return out


# --------------------------------------------------------------------------
# XXH64 (for frame content checksums)
# --------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (public xxHash spec) — zstd's frame checksum keeps its
    low 32 bits."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                      "little")
                v = (v + lane * _P2) & _M64
                v = (_rotl(v, 31) * _P1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (((h ^ v) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl((lane * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = ((_rotl(h ^ ((data[i] * _P5) & _M64), 11)) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# --------------------------------------------------------------------------
# compressor: LZ77 greedy matching + predefined-FSE sequence encoding
# + Huffman-coded literals (round 7). Emits spec-valid COMPRESSED
# blocks — literals raw / RLE / Huffman (whichever is smallest),
# sequences in Predefined_Mode for all three codes — so output is
# decodable by any conformant zstd (validated against libzstd in the
# suite). Custom FSE sequence tables stay decode-only: predefined mode
# keeps the encoder free of the table-serialization machinery while
# the sequence layer carries most of the match-heavy win. Falls back
# to RAW blocks when the compressed form would not be smaller (the
# spec's quality escape). Measured within ~2x of libzstd -3 on
# entropy-bound text and equal on match-bound input.
# --------------------------------------------------------------------------


def _fse_build_ctable(probs: list[int], accuracy_log: int):
    """Encode table (FSE_buildCTable shape): returns (state_table,
    per-symbol (delta_nb_bits, delta_find_state)) for the SAME spread
    `_fse_build` uses, so encoder states walk exactly the decoder's
    table."""
    size = 1 << accuracy_log
    syms = [0] * size
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            syms[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            syms[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    counts = [1 if p == -1 else max(p, 0) for p in probs]
    cumul = [0]
    for c in counts:
        cumul.append(cumul[-1] + c)
    cursor = cumul[:-1]
    cursor = list(cursor)
    state_table = [0] * size
    for u in range(size):
        s = syms[u]
        state_table[cursor[s]] = size + u
        cursor[s] += 1
    tt = []
    total = 0
    for s, p in enumerate(probs):
        c = counts[s]
        if c == 0:
            tt.append((((accuracy_log + 1) << 16) - size, 0))
        elif c == 1:
            tt.append(((accuracy_log << 16) - size, total - 1))
            total += 1
        else:
            max_bits = accuracy_log - ((c - 1).bit_length() - 1)
            tt.append(((max_bits << 16) - (c << max_bits), total - c))
            total += c
    return state_table, tt


class _CState:
    """FSE encoder state (FSE_initCState2 / FSE_encodeSymbol /
    FSE_flushCState)."""

    __slots__ = ("value", "table", "tt", "log")

    def __init__(self, state_table, tt, accuracy_log, first_symbol):
        self.table = state_table
        self.tt = tt
        self.log = accuracy_log
        dnb, dfs = tt[first_symbol]
        nb = (dnb + (1 << 15)) >> 16
        v = (nb << 16) - dnb
        self.value = state_table[(v >> nb) + dfs]

    def encode(self, wb: LsbWriter, symbol: int) -> None:
        dnb, dfs = self.tt[symbol]
        nb = (self.value + dnb) >> 16
        wb.write(self.value, nb)
        self.value = self.table[(self.value >> nb) + dfs]

    def flush(self, wb: LsbWriter) -> None:
        wb.write(self.value, self.log)


def _ll_code(ll: int) -> int:
    if ll < 16:
        return ll
    import bisect

    return bisect.bisect_right(_LL_BASE, ll) - 1


def _ml_code(ml: int) -> int:
    if ml <= 34:
        return ml - 3
    import bisect

    return bisect.bisect_right(_ML_BASE, ml) - 1


def _find_sequences(data: bytes, prefix: bytes = b""
                    ) -> tuple[list[tuple[int, int, int]], bytes]:
    """Greedy LZ77: (literal_len, offset, match_len) triples + the
    concatenated literals. Min match 4 (hash width), matches never
    cover the final byte so the last-sequence literals are non-trivial
    only when needed.  ``prefix`` (dictionary content) extends the
    match window below position 0: matches may start in it, literals
    never come from it."""
    if prefix:
        combined = prefix + data
        seqs, lits = _find_sequences_prefixed(combined, len(prefix))
        return seqs, lits
    n = len(data)
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    if n < 13:
        lits += data
        return seqs, bytes(lits)
    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    limit = n - 8
    while pos <= limit:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is None or data[cand:cand + 4] != key:
            pos += 1
            continue
        mlen = 4
        max_m = n - pos
        while mlen < max_m and data[cand + mlen] == data[pos + mlen]:
            mlen += 1
        lits += data[anchor:pos]
        seqs.append((pos - anchor, pos - cand, mlen))
        pos += mlen
        anchor = pos
    lits += data[anchor:]
    return seqs, bytes(lits)


def _find_sequences_prefixed(combined: bytes, start: int
                             ) -> tuple[list[tuple[int, int, int]], bytes]:
    """The prefixed variant: hash the dictionary span first, then scan
    the data span with the same greedy rule; offsets may reach into
    the prefix (the decoder's window holds the dictionary content)."""
    n = len(combined)
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    table: dict[bytes, int] = {}
    for p in range(max(0, start - 3)):
        table[combined[p:p + 4]] = p
    anchor = start
    pos = start
    limit = n - 8
    while pos <= limit:
        key = combined[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is None or combined[cand:cand + 4] != key:
            pos += 1
            continue
        mlen = 4
        max_m = n - pos
        while mlen < max_m and combined[cand + mlen] == combined[pos + mlen]:
            mlen += 1
        lits += combined[anchor:pos]
        seqs.append((pos - anchor, pos - cand, mlen))
        pos += mlen
        anchor = pos
    lits += combined[anchor:]
    return seqs, bytes(lits)


def _literals_header(lits: bytes) -> bytes:
    """Raw literals section header (RLE when all bytes equal)."""
    n = len(lits)
    rle = n > 1 and lits.count(lits[0]) == n
    t = 1 if rle else 0
    if n <= 31:
        head = bytes([t | (n << 3)])
    elif n <= 4095:
        head = bytes([t | 4 | ((n & 0xF) << 4), n >> 4])
    else:
        head = bytes([t | 12 | ((n & 0xF) << 4), (n >> 4) & 0xFF,
                      n >> 12])
    return head + (lits[:1] if rle else lits)


def _encode_block(data: bytes, prefix: bytes = b"") -> bytes | None:
    """One compressed block's payload, or None when raw is smaller."""
    seqs, lits = _find_sequences(data, prefix)
    lit_sec = _huf_encode_literals(lits) or _literals_header(lits)
    if not seqs:
        # literals-only block: worthwhile iff Huffman shrank them
        body = bytes(lit_sec) + b"\x00"  # nbSeq = 0
        return body if len(body) < len(data) else None
    body = bytearray(lit_sec)
    nseq = len(seqs)
    if nseq < 128:
        body.append(nseq)
    elif nseq < 0x7F00:
        body += bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        body += bytes([255, (nseq - 0x7F00) & 0xFF,
                       (nseq - 0x7F00) >> 8])
    body.append(0)  # modes: predefined for LL, OF and ML
    ll_probs, ll_al = _LL_DEFAULT
    of_probs, of_al = _OF_DEFAULT
    ml_probs, ml_al = _ML_DEFAULT
    ll_ct = _fse_build_ctable(ll_probs, ll_al)
    of_ct = _fse_build_ctable(of_probs, of_al)
    ml_ct = _fse_build_ctable(ml_probs, ml_al)

    codes = []
    for ll, offset, mlen in seqs:
        lc = _ll_code(ll)
        mc = _ml_code(mlen)
        ov = offset + 3  # no repeat-offset slots: always offset_value
        oc = ov.bit_length() - 1
        codes.append((lc, ll - _LL_BASE[lc], _LL_BITS[lc],
                      mc, mlen - _ML_BASE[mc], _ML_BITS[mc],
                      oc, ov - (1 << oc)))

    wb = LsbWriter()
    last = codes[-1]
    ml_st = _CState(*ml_ct, ml_al, last[3])
    of_st = _CState(*of_ct, of_al, last[6])
    ll_st = _CState(*ll_ct, ll_al, last[0])
    wb.write(last[1], last[2])   # LL extra
    wb.write(last[4], last[5])   # ML extra
    wb.write(last[7], last[6])   # OF extra (nb bits = code)
    for lc, llx, llb, mc, mlx, mlb, oc, ofx in reversed(codes[:-1]):
        of_st.encode(wb, oc)
        ml_st.encode(wb, mc)
        ll_st.encode(wb, lc)
        wb.write(llx, llb)
        wb.write(mlx, mlb)
        wb.write(ofx, oc)
    ml_st.flush(wb)
    of_st.flush(wb)
    ll_st.flush(wb)
    wb.write(1, 1)  # end-of-stream sentinel
    body += wb.getvalue()
    return bytes(body) if len(body) < len(data) else None


def compress(content: bytes, checksum: bool = False,
             dictionary: bytes | dict | None = None) -> bytes:
    """A spec-valid zstd frame with real COMPRESSED blocks (greedy
    LZ77 + predefined-FSE sequences, raw/RLE literals); blocks that do
    not shrink are stored raw. Single-segment with content size, so
    any decoder window-checks trivially.

    ``dictionary`` extends the first block's match window with the
    dictionary CONTENT (the sequences then reach below the frame
    start, exactly what ``decompress(dictionary=...)`` replays) and
    records the dictionary id in the frame header when non-zero.
    Entropy tables stay predefined/own-Huffman, which the spec allows
    regardless of the dictionary's tables."""
    d = (parse_dictionary(dictionary)
         if isinstance(dictionary, (bytes, bytearray)) else dictionary)
    dict_content = d["content"] if d else b""
    did = d["id"] if d else 0
    did_flag = 0 if not did else (1 if did < 256 else
                                  2 if did < 65536 else 3)
    out = bytearray(struct.pack("<I", ZSTD_MAGIC))
    ck = 0x04 if checksum else 0
    if 0 < len(content) < 256:
        out += bytes([0x20 | ck | did_flag, len(content)])
        fcs = out.pop()                      # did precedes fcs
        out += did.to_bytes((0, 1, 2, 4)[did_flag], "little")
        out.append(fcs)
    else:
        out += bytes([0xA0 | ck | did_flag])
        out += did.to_bytes((0, 1, 2, 4)[did_flag], "little")
        out += struct.pack("<I", len(content))
    if not content:
        out += (1).to_bytes(3, "little")
    else:
        max_block = 128 << 10
        for i in range(0, len(content), max_block):
            chunk = content[i:i + max_block]
            last = 1 if i + max_block >= len(content) else 0
            enc = _encode_block(chunk,
                                prefix=dict_content if i == 0 else b"")
            if enc is None:  # raw block
                out += ((len(chunk) << 3) | last).to_bytes(3, "little")
                out += chunk
            else:  # compressed block (type 2)
                out += ((len(enc) << 3) | 4 | last).to_bytes(3, "little")
                out += enc
    if checksum:
        out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)


# --------------------------------------------------------------------------
# Huffman literals encoding (round 7b): canonical length-limited codes
# via package-merge (Larmore-Hirschberg), direct-4-bit-weight headers,
# 1-stream or 4-stream layouts — the entropy layer on top of the LZ77
# sequence layer. Falls back silently (return None) when Huffman
# cannot help: fewer than 2 distinct bytes (RLE wins), alphabet past
# symbol 128 (direct-weight header limit; FSE-compressed weights are
# decode-only), or no size win.
# --------------------------------------------------------------------------


def _pm_lengths(counts: dict[int, int], max_len: int) -> dict[int, int]:
    """Optimal length-limited code lengths (package-merge). Kraft sum
    is exactly 1 by construction — required for the zstd weight scheme
    (sum of 2^(w-1) must complete a power of two)."""
    leaves = sorted((c, (s,)) for s, c in counts.items())
    lst: list[tuple[int, tuple]] = []
    for _ in range(max_len - 1):
        merged = sorted(lst + leaves)
        lst = [(merged[i][0] + merged[i + 1][0],
                merged[i][1] + merged[i + 1][1])
               for i in range(0, len(merged) - 1, 2)]
    merged = sorted(lst + leaves)
    lengths = {s: 0 for s in counts}
    for _, syms in merged[:2 * (len(leaves) - 1)]:
        for s in syms:
            lengths[s] += 1
    return lengths


def _huf_encode_literals(lits: bytes) -> bytes | None:
    """Compressed-literals section (type 2) or None when not smaller.
    Mirrors `_huf_build`'s canonical order exactly: weight-ascending,
    symbol-ascending, codes are table positions shifted to nb bits."""
    from collections import Counter

    counts = Counter(lits)
    if len(counts) < 2:
        return None
    last = max(counts)
    if last > 128:
        return None  # direct-weight header carries at most 128 weights
    lengths = _pm_lengths(dict(counts), 11)
    max_bits = max(lengths.values())
    full = [0] * (last + 1)
    for s, ln in lengths.items():
        full[s] = max_bits + 1 - ln
    codes: dict[int, tuple[int, int]] = {}
    pos = 0
    for wt in range(1, max_bits + 1):
        span = 1 << (wt - 1)
        nb = max_bits + 1 - wt
        for sym in range(last + 1):
            if full[sym] == wt:
                codes[sym] = (pos >> (wt - 1), nb)
                pos += span
    if pos != 1 << max_bits:
        return None  # defensive: lengths failed Kraft completeness
    nw = last  # weights transmitted for symbols 0..last-1, last implied
    head = bytearray([127 + nw])
    for i in range(0, nw, 2):
        hi = full[i] << 4
        lo = full[i + 1] if i + 1 < nw else 0
        head.append(hi | lo)

    def enc_stream(chunk: bytes) -> bytes:
        wb = LsbWriter()
        for b in reversed(chunk):
            c, nb = codes[b]
            wb.write(c, nb)
        wb.write(1, 1)  # end-of-stream sentinel
        return wb.getvalue()

    regen = len(lits)
    if regen <= 1023:
        payload = bytes(head) + enc_stream(lits)
        comp = len(payload)
        if comp > 1023:
            return None
        hdr = (2 | (0 << 2) | (regen << 4)
               | (comp << 14)).to_bytes(3, "little")
        section = hdr + payload
    else:
        per = (regen + 3) // 4
        chunks = [lits[0:per], lits[per:2 * per],
                  lits[2 * per:3 * per], lits[3 * per:]]
        if not chunks[3]:
            return None  # 4-stream layout needs a non-empty last part
        streams = [enc_stream(ch) for ch in chunks]
        if max(len(s) for s in streams[:3]) > 0xFFFF:
            return None
        payload = (bytes(head)
                   + struct.pack("<HHH", *(len(s) for s in streams[:3]))
                   + b"".join(streams))
        comp = len(payload)
        if regen <= 16383 and comp <= 16383:
            hdr = (2 | (2 << 2) | (regen << 4)
                   | (comp << 18)).to_bytes(4, "little")
        elif regen <= 262143 and comp <= 262143:
            hdr = (2 | (3 << 2) | (regen << 4)
                   | (comp << 22)).to_bytes(5, "little")
        else:
            return None
        section = hdr + payload
    raw_len = len(_literals_header(lits))
    return section if len(section) < raw_len else None
