"""Deterministic, engine-portable hashing primitives.

Dedup/fingerprint operators need hash functions that (a) run JVM-side in
Spark (no Python in the hot path) and (b) can be reproduced exactly in an
external SQL oracle. ``xxhash64``/``hash`` are Spark-specific, so we derive
64-bit integers from ``md5`` (available and identical everywhere): take the
first 15 hex chars (60 bits, fits signed int64).

All modular arithmetic stays below 2^31 so products fit in int64 without
overflow under ANSI semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: hash values < 2^31, coefficients < 2^31,
# so a*h + b < 2^62 < int64 max.
P31 = 2_147_483_647
FNV_WORD_MOD = 1_000_003  # word-hash modulus for fingerprints


def md5_int64(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (JVM-side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int64_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for h_i(x) = (a*x + b) mod P31.

    A tiny LCG keeps this dependency-free and reproducible across engines
    (the same literals are inlined into the oracle SQL).
    """
    coeffs = []
    state = seed
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        a = state | 1  # odd, non-zero
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        b = state
        coeffs.append((a % P31 or 1, b % P31))
    return coeffs
