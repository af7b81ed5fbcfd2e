"""Pure-Python FLAC codec over the PUBLIC spec (RFC 9639 / xiph.org
FLAC format): STREAMINFO parse, frame/subframe decode for ALL four
subframe types (CONSTANT, VERBATIM, FIXED order 0-4, LPC up to order
32), Rice/Rice2 partitioned residuals with the escape hatch, stereo
decorrelation (left-side / right-side / mid-side), wasted bits, CRC-8 /
CRC-16 verification, and the STREAMINFO MD5 check — plus an encoder
that emits every one of those paths so decode is property-testable
round-trip.

Why this exists: speech corpora (LibriSpeech-shape) ship FLAC; the
engine's audio operators (energy/ZCR/decimate, `functions/multimodal`)
need the PCM. Decode is per-document work inside Arrow `mapInPandas`
batches — the same execution shape as the PNG/JPEG codecs — so the
Spark plan is identical to the WAV path and scales the same way.

Reference parity: gfw_pixetl has no audio path at all (GDAL rasters
only); this extends SURVEY §2's LLM-pipeline multimodal family, like
`sources/wav.py` (q234/q235) which established the PCM oracles this
codec must reproduce bit-exactly.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .bitio import MsbReader, MsbWriter, unzigzag, zigzag

MAGIC = b"fLaC"

# ---------------------------------------------------------------------------
# CRCs (FLAC frame integrity): CRC-8 poly 0x07 init 0 over the frame
# header; CRC-16 poly 0x8005 init 0 over the whole frame.
# ---------------------------------------------------------------------------


def _make_crc8_table() -> list[int]:
    tab = []
    for byte in range(256):
        c = byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tab.append(c)
    return tab


def _make_crc16_table() -> list[int]:
    tab = []
    for byte in range(256):
        c = byte << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 \
                else (c << 1) & 0xFFFF
        tab.append(c)
    return tab


_CRC8 = _make_crc8_table()
_CRC16 = _make_crc16_table()


def crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8[c ^ b]
    return c


def crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ---------------------------------------------------------------------------
# UTF-8-style coded number (frame/sample number, up to 36 bits)
# ---------------------------------------------------------------------------


def _utf8_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    masks = [(0x7FF, 0xC0, 2), (0xFFFF, 0xE0, 3), (0x1FFFFF, 0xF0, 4),
             (0x3FFFFFF, 0xF8, 5), (0x7FFFFFFF, 0xFC, 6),
             (0xFFFFFFFFF, 0xFE, 7)]
    for lim, lead, nbytes in masks:
        if n <= lim:
            out = bytearray(nbytes)
            for i in range(nbytes - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = lead | n
            return bytes(out)
    raise ValueError("frame number too large")


def _utf8_decode(r: MsbReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    lead = b0
    while lead & 0x40:
        n += 1
        lead <<= 1
    if n == 0:
        raise ValueError("bad UTF-8 coded number")
    v = b0 & (0x7F >> n)
    for _ in range(n):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation")
        v = (v << 6) | (b & 0x3F)
    return v


# ---------------------------------------------------------------------------
# Rice residual coding
# ---------------------------------------------------------------------------


def _read_residual(r: MsbReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("partition count does not divide block size")
    out: list[int] = []
    for p in range(nparts):
        n = blocksize // nparts - (order if p == 0 else 0)
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            out.extend(r.read_signed(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << param) | (r.read(param) if param else 0)
                out.append(unzigzag(u))
    return out


def _write_residual(w: MsbWriter, res: list[int], blocksize: int,
                    order: int, partition_order: int = 0,
                    escape_raw: int | None = None) -> None:
    w.write(0, 2)  # RICE 4-bit params
    w.write(partition_order, 4)
    nparts = 1 << partition_order
    idx = 0
    for p in range(nparts):
        n = blocksize // nparts - (order if p == 0 else 0)
        part = res[idx:idx + n]
        idx += n
        if escape_raw is not None:
            w.write(0xF, 4)  # escape
            w.write(escape_raw, 5)
            for v in part:
                if escape_raw:
                    w.write(v, escape_raw)
            continue
        zz = [zigzag(v) for v in part]
        mean = (sum(zz) / len(zz)) if zz else 0
        param = 0
        while (1 << (param + 1)) < mean + 1 and param < 14:
            param += 1
        w.write(param, 4)
        for u in zz:
            w.write_unary(u >> param)
            if param:
                w.write(u & ((1 << param) - 1), param)


# ---------------------------------------------------------------------------
# Fixed predictors (orders 0-4) — the spec's polynomial predictors
# ---------------------------------------------------------------------------

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: list[int], order: int) -> list[int]:
    c = _FIXED_COEFS[order]
    return [x[i] - sum(c[j] * x[i - 1 - j] for j in range(order))
            for i in range(order, len(x))]


def _fixed_restore(warm: list[int], res: list[int], order: int) -> list[int]:
    c = _FIXED_COEFS[order]
    x = list(warm)
    for r in res:
        x.append(r + sum(c[j] * x[-1 - j] for j in range(order)))
    return x


# ---------------------------------------------------------------------------
# LPC: Levinson-Durbin on the block autocorrelation, coefficients
# quantized to `precision` bits with a shared shift — the standard
# public construction every FLAC encoder uses.
# ---------------------------------------------------------------------------


def _lpc_coefs(x: list[int], order: int,
               precision: int = 12) -> tuple[list[int], int] | None:
    n = len(x)
    if n <= order:
        return None
    fx = np.asarray(x, np.float64)
    auto = [float(np.dot(fx[: n - lag], fx[lag:])) for lag in range(order + 1)]
    if auto[0] == 0.0:
        return None
    err = auto[0]
    a = [0.0] * order
    for i in range(order):
        acc = auto[i + 1] - sum(a[j] * auto[i - j] for j in range(i))
        k = acc / err
        a, prev = list(a), a
        a[i] = k
        for j in range(i):
            a[j] = prev[j] - k * prev[i - 1 - j]
        err *= 1.0 - k * k
        if err <= 0:
            return None
    cmax = max(abs(c) for c in a)
    if cmax == 0:
        return None
    shift = precision - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = max(0, min(15, shift))
    q = [int(np.clip(round(c * (1 << shift)),
                     -(1 << (precision - 1)),
                     (1 << (precision - 1)) - 1)) for c in a]
    if all(v == 0 for v in q):
        return None
    return q, shift


def _lpc_residual(x: list[int], coefs: list[int], shift: int) -> list[int]:
    order = len(coefs)
    return [x[i] - (sum(coefs[j] * x[i - 1 - j]
                        for j in range(order)) >> shift)
            for i in range(order, len(x))]


def _lpc_restore(warm: list[int], res: list[int], coefs: list[int],
                 shift: int) -> list[int]:
    order = len(coefs)
    x = list(warm)
    for r in res:
        x.append(r + (sum(coefs[j] * x[-1 - j]
                          for j in range(order)) >> shift))
    return x


# ---------------------------------------------------------------------------
# Subframe decode / encode
# ---------------------------------------------------------------------------


def _read_subframe(r: MsbReader, blocksize: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits-per-sample flag
        wasted = r.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        v = r.read_signed(bps)
        out = [v] * blocksize
    elif stype == 1:  # VERBATIM
        out = [r.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        out = _fixed_restore(warm, res, order)
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        warm = [r.read_signed(bps) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision escape")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(precision) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        out = _lpc_restore(warm, res, coefs, shift)
    else:
        raise ValueError(f"reserved subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _write_subframe(w: MsbWriter, x: list[int], bps: int, mode: str,
                    lpc_order: int, partition_order: int) -> None:
    n = len(x)
    if mode == "auto":
        if all(v == x[0] for v in x):
            mode = "constant"
        else:
            mode = "fixed"
    if mode == "constant":
        if any(v != x[0] for v in x):
            raise ValueError("constant subframe over varying samples")
        w.write(0, 1)
        w.write(0, 6)
        w.write(0, 1)
        w.write(x[0], bps)
        return
    if mode == "verbatim":
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in x:
            w.write(v, bps)
        return
    if mode == "lpc":
        got = _lpc_coefs(x, min(lpc_order, max(1, n - 1)))
        if got is None:
            return _write_subframe(w, x, bps, "fixed", lpc_order,
                                   partition_order)
        coefs, shift = got
        order = len(coefs)
        # partitions must divide blocksize and the first must still
        # cover the warm-up samples (same clamp as the fixed branch)
        while partition_order and (
                n % (1 << partition_order)
                or n // (1 << partition_order) <= order):
            partition_order -= 1
        res = _lpc_residual(x, coefs, shift)
        w.write(0, 1)
        w.write(32 | (order - 1), 6)
        w.write(0, 1)
        for v in x[:order]:
            w.write(v, bps)
        w.write(12 - 1, 4)  # precision 12
        w.write(shift, 5)
        for c in coefs:
            w.write(c, 12)
        _write_residual(w, res, n, order, partition_order)
        return
    if mode == "fixed":
        best, best_cost = 0, None
        for order in range(min(4, n - 1) + 1):
            cost = sum(abs(v) for v in _fixed_residual(x, order))
            if best_cost is None or cost < best_cost:
                best, best_cost = order, cost
        # partitions must divide blocksize and first must cover warm-up
        while partition_order and (
                n % (1 << partition_order)
                or n // (1 << partition_order) <= best):
            partition_order -= 1
        res = _fixed_residual(x, best)
        w.write(0, 1)
        w.write(8 + best, 6)
        w.write(0, 1)
        for v in x[:best]:
            w.write(v, bps)
        _write_residual(w, res, n, best, partition_order)
        return
    raise ValueError(f"unknown subframe mode {mode!r}")


# ---------------------------------------------------------------------------
# Stream encode / decode
# ---------------------------------------------------------------------------

_BPS_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_BPS_FROM_CODE = {v: k for k, v in _BPS_CODES.items()}


def _pcm_md5(samples: np.ndarray, bps: int) -> bytes:
    """MD5 of the decoded PCM as FLAC defines it: interleaved samples,
    little-endian, ceil(bps/8) bytes each, signed (libFLAC packs
    12/20-bit samples into 2/3 bytes)."""
    width = (bps + 7) // 8
    flat = samples.reshape(-1)
    raw = bytearray()
    for v in flat.tolist():
        raw += int(v).to_bytes(width, "little", signed=True)
    return hashlib.md5(bytes(raw)).digest()


_STEREO_ASSIGN = {"left-side": 8, "right-side": 9, "mid-side": 10}


def encode_flac(
    samples: np.ndarray,
    rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    subframe: str = "auto",
    lpc_order: int = 8,
    partition_order: int = 0,
    stereo: str = "independent",
) -> bytes:
    """Encode (n,) or (n, channels) integer samples as a spec-valid FLAC
    stream: STREAMINFO + fixed-blocksize frames.
    ``subframe`` forces a subframe type ('constant'/'verbatim'/'fixed'/
    'lpc'), 'auto' picks constant/fixed; ``partition_order`` exercises
    multi-partition Rice residuals; ``stereo`` picks the 2-channel
    decorrelation ('independent'/'left-side'/'right-side'/'mid-side' —
    the side channel carries bps+1 bits per spec)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if not (1 <= ch <= 8):
        raise ValueError(f"1-8 channels, got {ch}")
    if bps not in _BPS_CODES:
        raise ValueError(f"bps {bps} unsupported")
    if stereo != "independent" and ch != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if arr.min() < lo or arr.max() > hi:
        raise ValueError(f"samples exceed {bps}-bit range")

    frames = bytearray()
    nframes = (n + block_size - 1) // block_size
    min_fs = max_fs = None
    for fi in range(nframes):
        block = arr[fi * block_size:(fi + 1) * block_size]
        bs = block.shape[0]
        assign = (ch - 1) if stereo == "independent" \
            else _STEREO_ASSIGN[stereo]
        w = MsbWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)   # reserved
        w.write(0, 1)   # fixed blocksize strategy
        w.write(0b0111, 4)   # 16-bit blocksize-1 at header end
        w.write(0b0000, 4)   # sample rate from STREAMINFO
        w.write(assign, 4)
        w.write(_BPS_CODES[bps], 3)
        w.write(0, 1)   # reserved
        for b in _utf8_encode(fi):
            w.write(b, 8)
        w.write(bs - 1, 16)
        w.align()
        hdr = w.getvalue()
        w = MsbWriter()
        if stereo == "independent":
            plan = [([int(v) for v in block[:, c]], bps)
                    for c in range(ch)]
        else:
            left = [int(v) for v in block[:, 0]]
            right = [int(v) for v in block[:, 1]]
            side = [l - r for l, r in zip(left, right)]
            if stereo == "left-side":
                plan = [(left, bps), (side, bps + 1)]
            elif stereo == "right-side":
                plan = [(side, bps + 1), (right, bps)]
            else:  # mid-side: mid = (l+r)>>1, LSB recovered from side
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                plan = [(mid, bps), (side, bps + 1)]
        for x, sub_bps in plan:
            _write_subframe(w, x, sub_bps, subframe, lpc_order,
                            partition_order)
        w.align()
        body = w.getvalue()
        frame = hdr + bytes([crc8(hdr)]) + body
        frame += struct.pack(">H", crc16(frame))
        min_fs = len(frame) if min_fs is None else min(min_fs, len(frame))
        max_fs = max(max_fs or 0, len(frame))
        frames += frame

    si = MsbWriter()
    si.write(min(block_size, n) if nframes else block_size, 16)
    si.write(block_size, 16)
    si.write(min_fs or 0, 24)
    si.write(max_fs or 0, 24)
    si.write(rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    si.align()
    streaminfo = si.getvalue() + _pcm_md5(arr, bps)
    header = MAGIC + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") \
        + streaminfo
    return header + bytes(frames)


_BLOCKSIZE_FIXED = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_RATE_CODES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}


def decode_flac(data: bytes, verify_md5: bool = True
                ) -> tuple[np.ndarray, int]:
    """Decode a FLAC stream -> ((n, channels) int32 samples, rate).

    Verifies frame CRC-8/CRC-16 always and the STREAMINFO PCM MD5 when
    present (all-zero MD5 means "unknown" per spec and is skipped).
    Handles every subframe type, Rice/Rice2 partitions with escapes,
    wasted bits, and left/right/mid-side stereo decorrelation.
    """
    if data[:4] != MAGIC:
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated metadata block header")
        last = data[pos] & 0x80
        btype = data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated metadata block")
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing STREAMINFO")
    r = MsbReader(streaminfo, "FLAC")
    r.read(16)  # min blocksize
    r.read(16)  # max blocksize
    r.read(24)
    r.read(24)
    rate = r.read(20)
    ch = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5 = streaminfo[18:34]

    chans: list[list[int]] = [[] for _ in range(ch)]
    r = MsbReader(data, "FLAC")
    while pos < len(data):
        frame_start = pos
        r.pos = pos * 8
        sync = r.read(14)
        if sync != 0b11111111111110:
            raise ValueError(f"bad frame sync at byte {pos}")
        if r.read(1):
            raise ValueError("reserved frame-header bit set")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        chan_assign = r.read(4)
        bps_code = r.read(3)
        if r.read(1):
            raise ValueError("reserved frame-header bit set")
        _utf8_decode(r)
        if bs_code == 0:
            raise ValueError("reserved blocksize code 0")
        elif bs_code == 6:
            bs = r.read(8) + 1
        elif bs_code == 7:
            bs = r.read(16) + 1
        else:
            bs = _BLOCKSIZE_FIXED[bs_code]
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        frame_rate = _RATE_CODES.get(rate_code, rate)
        frame_bps = _BPS_FROM_CODE.get(bps_code, bps)
        hdr_end = r.pos >> 3
        if crc8(data[frame_start:hdr_end]) != r.read(8):
            raise ValueError("frame header CRC-8 mismatch")

        if chan_assign <= 7:
            nch = chan_assign + 1
            if nch != ch:
                raise ValueError("frame channel count != STREAMINFO")
            subs = [_read_subframe(r, bs, frame_bps) for _ in range(nch)]
        elif chan_assign in (8, 9, 10):
            if ch != 2:
                raise ValueError("stereo decorrelation in non-stereo")
            # the difference (side) channel carries one extra bit
            if chan_assign == 8:    # left-side
                left = _read_subframe(r, bs, frame_bps)
                side = _read_subframe(r, bs, frame_bps + 1)
                subs = [left, [l - s for l, s in zip(left, side)]]
            elif chan_assign == 9:  # right-side
                side = _read_subframe(r, bs, frame_bps + 1)
                right = _read_subframe(r, bs, frame_bps)
                subs = [[rr + s for rr, s in zip(right, side)], right]
            else:                   # mid-side
                mid = _read_subframe(r, bs, frame_bps)
                side = _read_subframe(r, bs, frame_bps + 1)
                subs = [[], []]
                for m, s in zip(mid, side):
                    m = (m << 1) | (s & 1)
                    subs[0].append((m + s) >> 1)
                    subs[1].append((m - s) >> 1)
        else:
            raise ValueError(f"reserved channel assignment {chan_assign}")
        r.align()
        footer_at = r.pos >> 3
        if crc16(data[frame_start:footer_at]) != r.read(16):
            raise ValueError("frame CRC-16 mismatch")
        pos = r.pos >> 3
        for c in range(ch):
            chans[c].extend(subs[c])
        _ = frame_rate  # frames may override rate; STREAMINFO governs

    out = np.array(chans, np.int64).T
    if total and out.shape[0] > total:
        out = out[:total]
    if verify_md5 and md5 != b"\x00" * 16:
        if _pcm_md5(out, bps) != md5:
            raise ValueError("decoded PCM MD5 mismatch")
    return out.astype(np.int32), rate
