"""PDF standard security handler + cipher tests — sources/crypto.py
pinned to the FIPS-197 / SP 800-38A appendix vectors, sources/pdf.py
encryption round-tripped through every layout the writer emits."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.crypto import (
    _INV_SBOX,
    _decrypt_block,
    _encrypt_block,
    _expand_key,
    _gmul,
    _SBOX,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    rc4,
)
from gfw_pixetl_spark.sources.pdf import (
    PdfDocument,
    extract_pdf_text,
    write_pdf,
)

PAGES = [["Hello encrypted world", "line two (with parens)"],
         ["page 2 text"]]


def test_aes_fips197_vectors():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    cases = [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),           # C.1 AES-128
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),           # C.2 AES-192
        ("000102030405060708090a0b0c0d0e0f1011121314151617"
         "18191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),           # C.3 AES-256
    ]
    for key_hex, ct_hex in cases:
        rk = _expand_key(bytes.fromhex(key_hex))
        ct = _encrypt_block(pt, rk)
        assert ct.hex() == ct_hex
        assert _decrypt_block(ct, rk) == pt


def test_aes_sp80038a_vectors():
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    p1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert _encrypt_block(p1, _expand_key(key)).hex() == \
        "3ad77bb40d7a3660a89ecaf32466ef97"          # F.1.1 ECB
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    assert aes_cbc_encrypt(key, iv, p1)[:16].hex() == \
        "7649abac8119b246cee98e9b12e9197d"          # F.2.1 CBC


def test_sbox_is_bijective_and_pinned():
    assert sorted(_SBOX) == list(range(256))
    assert (_SBOX[0x00], _SBOX[0x01], _SBOX[0x53], _SBOX[0xFF]) == \
        (0x63, 0x7C, 0xED, 0x16)


def test_rc4_vectors():
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    assert rc4(b"Secret", b"Attack at dawn").hex() == \
        "45a01f645fc35b383552544b9bf5"


@given(st.binary(min_size=0, max_size=200),
       st.binary(min_size=16, max_size=16),
       st.binary(min_size=16, max_size=16))
@settings(max_examples=40, deadline=None)
def test_cbc_round_trip(data, key, iv):
    assert aes_cbc_decrypt(key, iv, aes_cbc_encrypt(key, iv, data)) \
        == data


def test_cbc_rejects_damage():
    key = iv = bytes(16)
    ct = aes_cbc_encrypt(key, iv, b"x" * 20)
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, iv, ct[:-1])  # not block-aligned


@pytest.mark.parametrize("enc", ["rc4", "aes"])
@pytest.mark.parametrize("layout", ["classic", "xref", "objstm"])
def test_encrypted_pdf_round_trip(enc, layout):
    plain = extract_pdf_text(write_pdf(PAGES))
    data = write_pdf(PAGES, encrypt=enc,
                     xref_stream=layout != "classic",
                     use_objstm=layout == "objstm")
    assert extract_pdf_text(data) == plain
    # the ciphertext genuinely hides the plaintext
    assert b"Hello encrypted" not in data


def test_password_protected():
    data = write_pdf(PAGES, encrypt="aes", user_password="hunter2")
    with pytest.raises(ValueError, match="password"):
        extract_pdf_text(data)
    assert "Hello encrypted world" in extract_pdf_text(
        data, password="hunter2")


def test_aes256_r6_round_trip():
    plain = extract_pdf_text(write_pdf(PAGES))
    data = write_pdf(PAGES, encrypt="aes256", xref_stream=True,
                     use_objstm=True)
    assert extract_pdf_text(data) == plain
    assert b"Hello encrypted" not in data
    assert b"/CFM /AESV3" in data and b"/R 6" in data


def test_aes256_r6_password():
    data = write_pdf(PAGES, encrypt="aes256", user_password="pw9")
    with pytest.raises(ValueError, match="password"):
        extract_pdf_text(data)
    assert "Hello encrypted world" in extract_pdf_text(
        data, password="pw9")


def test_v5_unknown_revision_gated():
    data = bytearray(write_pdf(PAGES, encrypt="aes256"))
    i = data.index(b"/R 6")
    data[i:i + 4] = b"/R 7"
    with pytest.raises(NotImplementedError, match="/V 5"):
        PdfDocument(bytes(data))


def _mix_single(col: list[int], inv: bool) -> list[int]:
    a, b, c, d = col
    if not inv:
        return [
            _gmul(a, 2) ^ _gmul(b, 3) ^ c ^ d,
            a ^ _gmul(b, 2) ^ _gmul(c, 3) ^ d,
            a ^ b ^ _gmul(c, 2) ^ _gmul(d, 3),
            _gmul(a, 3) ^ b ^ c ^ _gmul(d, 2),
        ]
    return [
        _gmul(a, 14) ^ _gmul(b, 11) ^ _gmul(c, 13) ^ _gmul(d, 9),
        _gmul(a, 9) ^ _gmul(b, 14) ^ _gmul(c, 11) ^ _gmul(d, 13),
        _gmul(a, 13) ^ _gmul(b, 9) ^ _gmul(c, 14) ^ _gmul(d, 11),
        _gmul(a, 11) ^ _gmul(b, 13) ^ _gmul(c, 9) ^ _gmul(d, 14),
    ]


def _encrypt_block_slow(block: bytes, rk: list[list[int]]) -> bytes:
    """Byte-wise reference cipher: FIPS-197's round functions one byte at
    a time, the check on the T-table fast path."""
    s = [b ^ k for b, k in zip(block, rk[0])]
    nr = len(rk) - 1
    for rnd in range(1, nr + 1):
        s = [_SBOX[b] for b in s]
        # ShiftRows on column-major state: byte i of column c comes
        # from column (c + i) mod 4
        s = [s[(4 * ((c + i) % 4)) + i] for c in range(4)
             for i in range(4)]
        if rnd != nr:
            out = []
            for c in range(4):
                out += _mix_single(s[4 * c:4 * c + 4], False)
            s = out
        s = [b ^ k for b, k in zip(s, rk[rnd])]
    return bytes(s)


def _decrypt_block_slow(block: bytes, rk: list[list[int]]) -> bytes:
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[nr])]
    for rnd in range(nr - 1, -1, -1):
        # InvShiftRows: byte i of column c comes from column (c - i)
        s = [s[(4 * ((c - i) % 4)) + i] for c in range(4)
             for i in range(4)]
        s = [_INV_SBOX[b] for b in s]
        s = [b ^ k for b, k in zip(s, rk[rnd])]
        if rnd != 0:
            out = []
            for c in range(4):
                out += _mix_single(s[4 * c:4 * c + 4], True)
            s = out
    return bytes(s)


def test_fast_aes_matches_bytewise_reference():
    import os

    for klen in (16, 24, 32):
        for _ in range(20):
            key, blk = os.urandom(klen), os.urandom(16)
            rk = _expand_key(key)
            assert _encrypt_block(blk, rk) == \
                _encrypt_block_slow(blk, rk)
            assert _decrypt_block(blk, rk) == \
                _decrypt_block_slow(blk, rk)


def test_tampered_u_entry_rejected():
    data = bytearray(write_pdf(PAGES, encrypt="rc4"))
    i = data.index(b"/U <") + 4
    data[i] = ord("0") if data[i] != ord("0") else ord("1")
    with pytest.raises(ValueError, match="password"):
        PdfDocument(bytes(data))


def test_long_password_truncates_to_32_bytes():
    """Algorithm 3 pads-then-truncates to exactly 32 bytes; a >32-byte
    password must produce the same document as its 32-byte prefix
    (round-7 review finding)."""
    long_pw = "x" * 40
    d1 = write_pdf(PAGES, encrypt="rc4", user_password=long_pw)
    d2 = write_pdf(PAGES, encrypt="rc4", user_password="x" * 32)
    assert d1 == d2
    assert "Hello encrypted world" in extract_pdf_text(
        d1, password=long_pw)
    assert "Hello encrypted world" in extract_pdf_text(
        d1, password="x" * 32)
