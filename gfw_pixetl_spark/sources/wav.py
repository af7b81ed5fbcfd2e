"""Pure-Python WAV (RIFF/WAVE) codec + ITU-T G.711 companding — the
audio analog of ``sources/png.py`` / ``sources/jpeg.py``: the formats
are public (RIFF WAVE from the Microsoft/IBM 1991 spec, G.711 from the
ITU-T recommendation), so implement them from the spec instead of
gating the audio family on a codec library.

Scope: PCM 8-bit unsigned / 16-bit signed little-endian (format 1),
G.711 mu-law (format 7) and A-law (format 6), mono or interleaved
multichannel, IMA/DVI ADPCM (format 0x11, mono, fact-chunk sample
count honored), standard ``fmt ``/``data`` chunk walk (unknown chunks
skipped, as the spec requires). FLAC lives in ``sources/flac.py``;
MP3/AAC remain honestly out of scope (container audit only,
``sources/mp3.py``).

Decoded samples are always int16 (the G.711 reference decode tables
land in int16 range; 8-bit PCM is offset-binary, decoded as
``byte - 128`` in the 8-bit domain — kept at its native scale so
feature oracles replay it from digest bytes directly).

The reference shells out to GDAL and has no audio path; this module
exists for the training-data pipeline surface (speech-corpus
featurization), same rationale as the image codecs.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitio import refuse_damage

_FMT_PCM, _FMT_ALAW, _FMT_MULAW, _FMT_IMA = 1, 6, 7, 0x11

# IMA ADPCM step-size table (IMA Digital Audio Focus Group, "Recommended
# Practices for Enhancing Digital Audio Compatibility", 1992 — the same
# 89-entry table every DVI4/WAV-0x11 implementation ships).
IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]


def ima_decode_nibbles(
    nibbles, pred: int = 0, index: int = 0
) -> "np.ndarray":
    """Run the IMA ADPCM decode DP over a nibble sequence starting from
    (pred, index). Returns int16 samples, one per nibble — the header
    sample itself is NOT emitted (callers prepend it). The arithmetic is
    the bit-shift reconstruction from the IMA recommended practice:
    diff = step>>3 (+ step>>2 if b0) (+ step>>1 if b1) (+ step if b2),
    negated when b3 is set; all-integer, so oracles can replay it."""
    out = []
    for n in nibbles:
        step = IMA_STEPS[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + IMA_INDEX_ADJUST[n & 7]))
        out.append(pred)
    return np.asarray(out, np.int16)


def ima_encode_samples(samples, pred: int = 0, index: int = 0):
    """Greedy IMA ADPCM quantizer (the recommended-practice encoder):
    each sample's delta is quantized bit-by-bit against the current
    step, and the encoder tracks the DECODER's reconstruction so the two
    DPs stay in lockstep. Returns (nibbles list, final pred, final
    index)."""
    nibbles = []
    for s in np.asarray(samples, np.int64):
        step = IMA_STEPS[index]
        delta = int(s) - pred
        n = 0
        if delta < 0:
            n = 8
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        # replay the decoder to keep predictors identical
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + IMA_INDEX_ADJUST[n & 7]))
        nibbles.append(n)
    return nibbles, pred, index


def _ima_decode_payload(payload: bytes, block_align: int) -> "np.ndarray":
    """Decode a mono WAV-0x11 data payload: each block is a 4-byte
    header (iSamp0 int16 LE, bStepTableIndex, reserved) followed by
    nibble bytes, LOW nibble first — per the Microsoft 'IMA ADPCM in
    WAV' registration. The header sample is emitted verbatim as the
    block's first output sample."""
    out = []
    for base in range(0, len(payload), block_align):
        block = payload[base:base + block_align]
        if len(block) < 4:
            raise ValueError("truncated IMA ADPCM block header")
        pred, index, _rsvd = struct.unpack("<hBB", block[:4])
        if index > 88:
            raise ValueError(f"IMA step index {index} out of range")
        out.append(pred)
        nibs = []
        for byte in block[4:]:
            nibs.append(byte & 0x0F)
            nibs.append(byte >> 4)
        out.extend(int(v) for v in ima_decode_nibbles(nibs, pred, index))
    return np.asarray(out, np.int16)


def _ima_encode_payload(
    samples: "np.ndarray", samples_per_block: int
) -> tuple[bytes, int]:
    """Encode mono int16 samples into WAV-0x11 blocks. Each block stores
    its first sample verbatim in the header; ``samples_per_block`` must
    be odd (1 header sample + 2 nibbles/byte). Returns (payload,
    block_align)."""
    if samples_per_block % 2 == 0:
        raise ValueError("samples_per_block must be odd (header + pairs)")
    block_align = 4 + (samples_per_block - 1) // 2
    x = np.asarray(samples, np.int64).ravel()
    index = 0
    blocks = []
    for base in range(0, len(x), samples_per_block):
        chunk = x[base:base + samples_per_block]
        pred = int(chunk[0])
        # seed the block's step index from the running encoder state —
        # any value 0..88 is spec-legal since the header stores it
        start_index = index
        nibs, _pred, index = ima_encode_samples(chunk[1:], pred,
                                                start_index)
        nibs += [0] * ((samples_per_block - 1) - len(nibs))
        body = bytes(
            (nibs[i] | (nibs[i + 1] << 4)) for i in range(0, len(nibs), 2)
        )
        blocks.append(struct.pack("<hBB", pred, start_index, 0) + body)
    return b"".join(blocks), block_align


def mulaw_decode(b: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> linear int16 (the standard table formula:
    complement, then magnitude = ((2m + 33) << e) - 33 in 14-bit domain,
    scaled x4 into int16 like the reference decode tables)."""
    u = 255 - np.asarray(b, np.int64)  # transmitted complemented
    sign = (u & 0x80) != 0
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = (((2 * m + 33) << e) - 33) * 4
    return np.where(sign, -mag, mag).astype(np.int16)


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """Linear int16 -> G.711 mu-law byte (closed-form segment search)."""
    x = np.asarray(x, np.int64)
    sign = x < 0
    mag = np.minimum(np.abs(x) // 4, 8158)  # 14-bit domain, clip
    mag = mag + 33
    e = np.floor(np.log2(mag)).astype(np.int64) - 5
    e = np.clip(e, 0, 7)
    m = (mag >> (e + 1)) & 0x0F
    u = (np.where(sign, 0x80, 0) | (e << 4) | m).astype(np.int64)
    return (255 - u).astype(np.uint8)


def alaw_decode(b: np.ndarray) -> np.ndarray:
    """G.711 A-law byte -> linear int16 (even-bit inversion 0x55, then
    the chord/step expansion, scaled x8 into int16). Per ITU-T G.711
    (and reference g711.c) the sign bit is SET for positive samples,
    so standard silence 0xD5 decodes to 0."""
    a = np.asarray(b, np.int64) ^ 0x55
    neg = (a & 0x80) == 0
    e = (a >> 4) & 0x07
    m = a & 0x0F
    mag = np.where(e == 0, 2 * m + 1, (2 * m + 33) << (e - 1)) * 8
    return np.where(neg, -mag, mag).astype(np.int16)


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """Linear int16 -> G.711 A-law byte (sign bit = 1 for positive,
    matching G.711: silence encodes to the standard 0xD5)."""
    x = np.asarray(x, np.int64)
    sign = x < 0
    mag = np.minimum(np.abs(x) // 8, 4095)  # 12-bit domain
    e = np.maximum(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 4, 0)
    m = np.where(e == 0, mag >> 1, (mag >> e) & 0x0F)
    a = (np.where(sign, 0, 0x80) | (e << 4) | m).astype(np.int64)
    return (a ^ 0x55).astype(np.uint8)


def encode_wav(
    samples: np.ndarray, rate: int = 8000, codec: str = "pcm"
) -> bytes:
    """Encode samples to WAV bytes.

    ``samples``: (n,) or (n, channels); uint8 (stored as PCM8) or int16
    (stored as PCM16 LE, or companded when ``codec`` is 'mulaw'/'alaw').
    """
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if codec == "pcm":
        if arr.dtype == np.uint8:
            fmt, bits, payload = _FMT_PCM, 8, arr.astype("u1").tobytes()
        elif arr.dtype == np.int16:
            fmt, bits, payload = _FMT_PCM, 16, arr.astype("<i2").tobytes()
        else:
            raise ValueError(f"pcm needs uint8/int16, got {arr.dtype}")
    elif codec == "mulaw":
        fmt, bits = _FMT_MULAW, 8
        payload = mulaw_encode(arr.astype(np.int64)).astype("u1").tobytes()
    elif codec == "alaw":
        fmt, bits = _FMT_ALAW, 8
        payload = alaw_encode(arr.astype(np.int64)).astype("u1").tobytes()
    elif codec == "ima":
        if ch != 1:
            raise ValueError("IMA ADPCM support is mono-only")
        if arr.dtype != np.int16:
            raise ValueError(f"ima needs int16 samples, got {arr.dtype}")
        spb = 505  # 4-byte header + 252 nibble bytes = 256-byte blocks
        payload, block_align = _ima_encode_payload(arr[:, 0], spb)
        fmt_body = struct.pack(
            "<HHIIHHHH", _FMT_IMA, 1, rate,
            rate * block_align // spb, block_align, 4, 2, spb)
        fact = b"fact" + struct.pack("<II", 4, n)
        chunks = (b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
                  + fact
                  + b"data" + struct.pack("<I", len(payload)) + payload
                  + (b"\x00" if len(payload) % 2 else b""))
        return (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
                + chunks)
    else:
        raise ValueError(f"unknown codec {codec!r}")
    block = ch * bits // 8
    fmt_body = struct.pack("<HHIIHH", fmt, ch, rate, rate * block, block,
                           bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
              + b"data" + struct.pack("<I", len(payload)) + payload
              + (b"\x00" if len(payload) % 2 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@refuse_damage("corrupt WAV")
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV bytes -> ((n, channels) int16 samples, sample_rate).

    8-bit PCM decodes at its native scale (``byte - 128``); G.711
    payloads expand through the mu-law/A-law tables. Damaged bytes raise
    ``ValueError``.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    fmt_extra = b""
    payload = None
    fact_samples = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + length]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_extra = body[16:]
        elif tag == b"data":
            payload = body
        elif tag == b"fact":
            (fact_samples,) = struct.unpack("<I", body[:4])
        pos += 8 + length + (length % 2)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    ftype, ch, rate, _brate, _block, bits = fmt
    if ftype == _FMT_IMA:
        if ch != 1:
            raise ValueError("IMA ADPCM support is mono-only")
        if len(fmt_extra) >= 4:
            _cb, spb = struct.unpack("<HH", fmt_extra[:4])
            if spb != (_block - 4) * 2 + 1:
                raise ValueError(
                    f"IMA wSamplesPerBlock {spb} inconsistent with "
                    f"nBlockAlign {_block}")
        out = _ima_decode_payload(payload, _block)
        if fact_samples is not None:
            out = out[:fact_samples]  # drop final-block pad nibbles
        return out.reshape(-1, 1), rate
    if ftype == _FMT_PCM and bits == 16:
        out = np.frombuffer(payload, "<i2").astype(np.int16)
    elif ftype == _FMT_PCM and bits == 8:
        out = (np.frombuffer(payload, "u1").astype(np.int64) - 128) \
            .astype(np.int16)
    elif ftype == _FMT_MULAW and bits == 8:
        out = mulaw_decode(np.frombuffer(payload, "u1"))
    elif ftype == _FMT_ALAW and bits == 8:
        out = alaw_decode(np.frombuffer(payload, "u1"))
    else:
        raise ValueError(
            f"unsupported WAVE format {ftype} / {bits}-bit (PCM 8/16, "
            "G.711 mu-law/A-law supported; compressed audio is out of "
            "scope)")
    return out.reshape(-1, ch), rate
