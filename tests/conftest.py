from __future__ import annotations

import random
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"

# The suite runs on ~500-row fixtures: a local[32] session spends more
# wall time scheduling 32-way stages than computing them (measured 1.5x
# on the streaming/sink files). Size the TEST session to the fixtures,
# not the bench: 8 cores unless explicitly overridden. This only
# affects pytest — bench.py and the driver contract read
# SPARK_GRAFT_CPUS from their own environment.
import os  # noqa: E402

os.environ["SPARK_GRAFT_CPUS"] = os.environ.get(
    "SPARK_GRAFT_TEST_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from gfw_pixetl_spark.session import get_spark

    spark = get_spark("gfw_pixetl_spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from gfw_pixetl_spark.harness.compare import register_duckdb_views

    con = duckdb.connect()
    register_duckdb_views(con, SF_SMOKE)
    yield con
    con.close()


def refusal_counts(decode, blob: bytes, n: int, seed: int) -> dict:
    """Hostile-input fuzz: decode ``n`` damaged copies of the valid file
    ``blob``, each cut at a random length or with 1-3 random bits
    flipped (``random.Random(seed)``). Returns how many decoded and how
    many raised ``ValueError``; any other exception propagates."""
    rng = random.Random(seed)
    counts = {"ok": 0, "ValueError": 0}
    for _ in range(n):
        b = bytearray(blob)
        if rng.random() < 0.5:
            b = b[:rng.randrange(len(b))]
        else:
            for _ in range(rng.randint(1, 3)):
                i = rng.randrange(len(b) * 8)
                b[i // 8] ^= 1 << (i % 8)
        try:
            decode(bytes(b))
            counts["ok"] += 1
        except ValueError:
            counts["ValueError"] += 1
    return counts
