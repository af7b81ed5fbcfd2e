"""Pure-Python RC4 and AES-128/192/256 (FIPS-197) + CBC mode — the two
ciphers the PDF standard security handler (ISO 32000-1 7.6) uses for
/V 1-2 (RC4) and /V 4 /AESV2 (AES-128-CBC). Implemented from the public
specs; the AES S-box and round constants are GENERATED from the GF(2^8)
algebra rather than transcribed, and tests pin the FIPS-197 appendix
vectors. This is a decode-path dependency (corpus PDFs encrypted with
an empty user password — the overwhelmingly common case), not a
security library.
"""

from __future__ import annotations


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt).

    The KSA is the dominant cost for the short inputs PDF's standard
    security handler feeds this (16-32 bytes, ~60 calls per encrypted
    document): the key is pre-tiled to 256 bytes so the hot loop does
    no modulo, and locals are bound tight.
    """
    ks = (key * (256 // len(key) + 1))[:256]
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + ks[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        si = s[i]
        j = (j + si) & 0xFF
        sj = s[j]
        s[i] = sj
        s[j] = si
        out[n] = b ^ s[(si + sj) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES tables, generated from GF(2^8) with the AES polynomial 0x11B
# --------------------------------------------------------------------------


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _gen_sbox() -> tuple[list[int], list[int]]:
    # multiplicative inverses via log/antilog tables on generator 3
    exp, log = [0] * 256, [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gmul(x, 3)
    sbox = [0] * 256
    for v in range(256):
        inv = 0 if v == 0 else exp[(255 - log[v]) % 255]
        # affine transform: b ^ rot1 ^ rot2 ^ rot3 ^ rot4 ^ 0x63
        b = inv
        r = b
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            r ^= b
        sbox[v] = r ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _gen_sbox()
_RCON = [1]
while len(_RCON) < 14:
    _RCON.append(_gmul(_RCON[-1], 2))


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError("AES key must be 128/192/256 bits")
    nr = nk + 6
    words = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    # round keys as 16-byte lists
    return [sum(words[4 * r:4 * r + 4], []) for r in range(nr + 1)]


# T-table fast path (the standard 32-bit-word formulation): Te0[x]
# packs the MixColumns-multiplied S-box output, Te1-3 are its byte
# rotations; decryption uses Td tables over the inverse S-box with the
# equivalent-inverse-cipher round keys (InvMixColumns folded into the
# middle round keys). The R6 password KDF (pdf.py Algorithm 2.B) runs
# thousands of CBC blocks per call, which made the byte-wise cipher
# the bottleneck.

_TE0 = [((_gmul(s, 2) << 24) | (s << 16) | (s << 8) | _gmul(s, 3))
        for s in _SBOX]
_TE1 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TE0]
_TE2 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TE1]
_TE3 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TE2]
_TD0 = [((_gmul(s, 14) << 24) | (_gmul(s, 9) << 16)
         | (_gmul(s, 13) << 8) | _gmul(s, 11))
        for s in (_INV_SBOX[i] for i in range(256))]
_TD1 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TD0]
_TD2 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TD1]
_TD3 = [((t >> 8) | ((t & 0xFF) << 24)) for t in _TD2]


_KW_CACHE: dict[bytes, tuple] = {}


def _rk_words(rk: list[list[int]]) -> list[list[int]]:
    return [[(k[4 * c] << 24) | (k[4 * c + 1] << 16)
             | (k[4 * c + 2] << 8) | k[4 * c + 3] for c in range(4)]
            for k in rk]


def _key_schedules(rk: list[list[int]]) -> tuple:
    """(encrypt words, equivalent-inverse-cipher decrypt words),
    cached per key so CBC loops pay the schedule once."""
    tag = bytes(b for k in rk for b in k)
    hit = _KW_CACHE.get(tag)
    if hit is not None:
        return hit
    kw = _rk_words(rk)
    nr = len(kw) - 1
    dk = [kw[nr]] + [[_inv_mix_word(w) for w in kw[r]]
                     for r in range(nr - 1, 0, -1)] + [kw[0]]
    if len(_KW_CACHE) > 64:
        _KW_CACHE.clear()
    _KW_CACHE[tag] = (kw, dk)
    return kw, dk


def _inv_mix_word(w: int) -> int:
    a = (w >> 24) & 0xFF
    b = (w >> 16) & 0xFF
    c = (w >> 8) & 0xFF
    d = w & 0xFF
    return ((_gmul(a, 14) ^ _gmul(b, 11) ^ _gmul(c, 13) ^ _gmul(d, 9))
            << 24) | \
        ((_gmul(a, 9) ^ _gmul(b, 14) ^ _gmul(c, 11) ^ _gmul(d, 13))
         << 16) | \
        ((_gmul(a, 13) ^ _gmul(b, 9) ^ _gmul(c, 14) ^ _gmul(d, 11))
         << 8) | \
        (_gmul(a, 11) ^ _gmul(b, 13) ^ _gmul(c, 9) ^ _gmul(d, 14))


def _encrypt_block(block: bytes, rk: list[list[int]]) -> bytes:
    kw, _dk = _key_schedules(rk)
    nr = len(kw) - 1
    c0 = int.from_bytes(block[0:4], "big") ^ kw[0][0]
    c1 = int.from_bytes(block[4:8], "big") ^ kw[0][1]
    c2 = int.from_bytes(block[8:12], "big") ^ kw[0][2]
    c3 = int.from_bytes(block[12:16], "big") ^ kw[0][3]
    for rnd in range(1, nr):
        k = kw[rnd]
        t0 = (_TE0[c0 >> 24] ^ _TE1[(c1 >> 16) & 255]
              ^ _TE2[(c2 >> 8) & 255] ^ _TE3[c3 & 255] ^ k[0])
        t1 = (_TE0[c1 >> 24] ^ _TE1[(c2 >> 16) & 255]
              ^ _TE2[(c3 >> 8) & 255] ^ _TE3[c0 & 255] ^ k[1])
        t2 = (_TE0[c2 >> 24] ^ _TE1[(c3 >> 16) & 255]
              ^ _TE2[(c0 >> 8) & 255] ^ _TE3[c1 & 255] ^ k[2])
        t3 = (_TE0[c3 >> 24] ^ _TE1[(c0 >> 16) & 255]
              ^ _TE2[(c1 >> 8) & 255] ^ _TE3[c2 & 255] ^ k[3])
        c0, c1, c2, c3 = t0, t1, t2, t3
    k = kw[nr]
    s = _SBOX
    o0 = ((s[c0 >> 24] << 24) | (s[(c1 >> 16) & 255] << 16)
          | (s[(c2 >> 8) & 255] << 8) | s[c3 & 255]) ^ k[0]
    o1 = ((s[c1 >> 24] << 24) | (s[(c2 >> 16) & 255] << 16)
          | (s[(c3 >> 8) & 255] << 8) | s[c0 & 255]) ^ k[1]
    o2 = ((s[c2 >> 24] << 24) | (s[(c3 >> 16) & 255] << 16)
          | (s[(c0 >> 8) & 255] << 8) | s[c1 & 255]) ^ k[2]
    o3 = ((s[c3 >> 24] << 24) | (s[(c0 >> 16) & 255] << 16)
          | (s[(c1 >> 8) & 255] << 8) | s[c2 & 255]) ^ k[3]
    return (o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
            + o2.to_bytes(4, "big") + o3.to_bytes(4, "big"))


def _decrypt_block(block: bytes, rk: list[list[int]]) -> bytes:
    kw, dk = _key_schedules(rk)
    nr = len(kw) - 1
    c0 = int.from_bytes(block[0:4], "big") ^ dk[0][0]
    c1 = int.from_bytes(block[4:8], "big") ^ dk[0][1]
    c2 = int.from_bytes(block[8:12], "big") ^ dk[0][2]
    c3 = int.from_bytes(block[12:16], "big") ^ dk[0][3]
    for rnd in range(1, nr):
        k = dk[rnd]
        t0 = (_TD0[c0 >> 24] ^ _TD1[(c3 >> 16) & 255]
              ^ _TD2[(c2 >> 8) & 255] ^ _TD3[c1 & 255] ^ k[0])
        t1 = (_TD0[c1 >> 24] ^ _TD1[(c0 >> 16) & 255]
              ^ _TD2[(c3 >> 8) & 255] ^ _TD3[c2 & 255] ^ k[1])
        t2 = (_TD0[c2 >> 24] ^ _TD1[(c1 >> 16) & 255]
              ^ _TD2[(c0 >> 8) & 255] ^ _TD3[c3 & 255] ^ k[2])
        t3 = (_TD0[c3 >> 24] ^ _TD1[(c2 >> 16) & 255]
              ^ _TD2[(c1 >> 8) & 255] ^ _TD3[c0 & 255] ^ k[3])
        c0, c1, c2, c3 = t0, t1, t2, t3
    k = dk[nr]
    s = _INV_SBOX
    o0 = ((s[c0 >> 24] << 24) | (s[(c3 >> 16) & 255] << 16)
          | (s[(c2 >> 8) & 255] << 8) | s[c1 & 255]) ^ k[0]
    o1 = ((s[c1 >> 24] << 24) | (s[(c0 >> 16) & 255] << 16)
          | (s[(c3 >> 8) & 255] << 8) | s[c2 & 255]) ^ k[1]
    o2 = ((s[c2 >> 24] << 24) | (s[(c1 >> 16) & 255] << 16)
          | (s[(c0 >> 8) & 255] << 8) | s[c3 & 255]) ^ k[2]
    o3 = ((s[c3 >> 24] << 24) | (s[(c2 >> 16) & 255] << 16)
          | (s[(c1 >> 8) & 255] << 8) | s[c0 & 255]) ^ k[3]
    return (o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
            + o2.to_bytes(4, "big") + o3.to_bytes(4, "big"))


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC with PKCS#7 padding (what PDF AESV2 streams use); the IV
    is NOT prepended — PDF prepends it to the ciphertext itself."""
    rk = _expand_key(key)
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(x ^ y for x, y in zip(data[i:i + 16], prev))
        prev = _encrypt_block(block, rk)
        out += prev
    return bytes(out)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC without padding (block-aligned input required) — the
    mode PDF R6 uses for the /UE //OE key blobs and the 2.B hash."""
    if len(data) % 16:
        raise ValueError("AES-CBC no-pad needs block-aligned input")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(x ^ y for x, y in zip(data[i:i + 16], prev))
        prev = _encrypt_block(block, rk)
        out += prev
    return bytes(out)


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise ValueError("AES-CBC no-pad needs block-aligned input")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = data[i:i + 16]
        out += bytes(x ^ y for x, y in zip(_decrypt_block(block, rk),
                                           prev))
        prev = block
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise ValueError("AES-CBC ciphertext length not a multiple of 16")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = data[i:i + 16]
        out += bytes(x ^ y for x, y in zip(_decrypt_block(block, rk),
                                           prev))
        prev = block
    pad = out[-1] if out else 0
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("AES-CBC: bad PKCS#7 padding")
    return bytes(out[:-pad])
