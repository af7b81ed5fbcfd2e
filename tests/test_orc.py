"""ORC codec tests: RLE codecs, writer/reader round-trips, and
cross-validation against pyarrow.orc and Spark's native ORC
(reference has no columnar sink; this extends the lakehouse surface
like sources/deltalog.py — see sources/orc.py docstring)."""

import glob
import os

import pyarrow as pa
import pyarrow.orc as po
import pytest

from gfw_pixetl_spark.sources import orc as o


# ---------------------------------------------------------------- RLE v1

@pytest.mark.parametrize("signed", [True, False])
def test_int_rle1_roundtrip(signed):
    cases = [
        [],
        [0],
        [5] * 200,                       # long run (delta 0)
        list(range(1000)),               # delta +1 run
        list(range(500, 0, -1)),         # delta -1 run
        [7, 3, 9, 1, 4] * 40,            # literals
        [2 ** 40, -2 ** 40 if signed else 2 ** 41, 0, 1],
        [i * 127 for i in range(300)],   # delta at the byte edge
    ]
    for vals in cases:
        if not signed:
            vals = [abs(v) for v in vals]
        enc = o.int_rle1_encode(vals, signed)
        got = o.int_rle_decode(enc, len(vals), signed, version=1)
        assert got == vals


def test_byte_and_bool_rle_roundtrip():
    data = bytes([1] * 300 + [5, 9, 2] + [0] * 130)
    assert o.byte_rle_decode(o.byte_rle_encode(data), len(data)) == data
    bits = [(i * 7) % 3 == 0 for i in range(1000)]
    assert o.bool_rle_decode(o.bool_rle_encode(bits), len(bits)) == bits


# ---------------------------------------------------------------- RLE v2
# Crafted bitstreams from the ORC spec's own examples.

def test_rle2_short_repeat():
    # spec example: 10000 x5 -> 0a 27 10
    got = o.int_rle_decode(bytes([0x0A, 0x27, 0x10]), 5, False, 2)
    assert got == [10000] * 5


def test_rle2_direct():
    # spec example: [23713, 43806, 57005, 48879] -> 5e 03 5c a1 ab 1e de ad be ef
    enc = bytes([0x5E, 0x03, 0x5C, 0xA1, 0xAB, 0x1E, 0xDE, 0xAD, 0xBE, 0xEF])
    assert o.int_rle_decode(enc, 4, False, 2) == [23713, 43806, 57005, 48879]


def test_rle2_delta():
    # spec example: [2,3,5,7,11,13,17,19,23,29] -> c6 09 02 02 22 42 42 46
    enc = bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46])
    assert o.int_rle_decode(enc, 10, False, 2) == [2, 3, 5, 7, 11, 13,
                                                   17, 19, 23, 29]


def test_rle2_patched_base():
    # spec example (PATCHED_BASE): 9 values around 2030 with outlier 2000000
    enc = bytes([0x8E, 0x09, 0x2B, 0x21, 0x07, 0xD0, 0x1E, 0x00, 0x14,
                 0x70, 0x28, 0x32, 0x3C, 0x46, 0x50, 0x5A, 0xFC, 0xE8])
    assert o.int_rle_decode(enc, 10, False, 2) == [
        2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]


# ------------------------------------------------------------ round-trip

def _sample_rows(n=25000):
    return [(i,
             float(i) * 1.5 if i % 7 else None,
             f"str{i % 13}" if i % 5 else None,
             i % 2 == 0)
            for i in range(n)]


_SAMPLE_COLS = [
    o.OrcColumn("a", o.K_LONG), o.OrcColumn("b", o.K_DOUBLE),
    o.OrcColumn("c", o.K_STRING), o.OrcColumn("d", o.K_BOOLEAN),
]


def test_roundtrip_our_writer_our_reader(tmp_path):
    rows = _sample_rows()
    p = str(tmp_path / "t.orc")
    info = o.write_orc(p, _SAMPLE_COLS, rows)
    assert info["n_stripes"] == 3  # 25000 rows / 10000 stripe_rows
    got = o.read_orc(p)
    assert got["a"] == [r[0] for r in rows]
    assert got["b"] == [r[1] for r in rows]
    assert got["c"] == [r[2] for r in rows]
    assert [bool(x) for x in got["d"]] == [r[3] for r in rows]


def test_roundtrip_uncompressed(tmp_path):
    rows = _sample_rows(500)
    p = str(tmp_path / "t.orc")
    o.write_orc(p, _SAMPLE_COLS, rows, compression=o.C_NONE)
    got = o.read_orc(p)
    assert got["a"] == [r[0] for r in rows]
    t = po.read_table(p)
    assert t.column("a").to_pylist() == [r[0] for r in rows]


def test_empty_file(tmp_path):
    p = str(tmp_path / "e.orc")
    o.write_orc(p, _SAMPLE_COLS, [])
    got = o.read_orc(p)
    assert got == {"a": [], "b": [], "c": [], "d": []}
    assert po.read_table(p).num_rows == 0


def test_file_stats_merged(tmp_path):
    rows = [(i, None, None, False) for i in range(25000)]
    p = str(tmp_path / "s.orc")
    o.write_orc(p, _SAMPLE_COLS, rows)
    f = o.OrcFile(open(p, "rb").read())
    st = f.file_stats[1]  # column a
    assert st["n_values"] == 25000
    assert st["min"] == 0 and st["max"] == 24999
    assert st["sum"] == 25000 * 24999 // 2
    # stripe stats cover each stripe independently
    assert [s[1]["min"] for s in f.stripe_stats] == [0, 10000, 20000]


# ---------------------------------------------------------- pyarrow interop

def test_our_writer_pyarrow_reads(tmp_path):
    rows = _sample_rows()
    p = str(tmp_path / "t.orc")
    o.write_orc(p, _SAMPLE_COLS, rows)
    t = po.read_table(p)
    assert t.column("a").to_pylist() == [r[0] for r in rows]
    assert t.column("b").to_pylist() == [r[1] for r in rows]
    assert t.column("c").to_pylist() == [r[2] for r in rows]
    assert t.column("d").to_pylist() == [r[3] for r in rows]


@pytest.mark.parametrize("comp",
                         ["uncompressed", "zlib", "snappy", "zstd", "lz4"])
def test_pyarrow_writer_our_reader(tmp_path, comp):
    n = 20000
    t = pa.table({
        "n": [None if i % 11 == 0 else (i - n // 2) * 37 for i in range(n)],
        "s": [None if i % 7 == 0 else f"val{i % 257}" for i in range(n)],
        "x": [float(i) * 0.25 for i in range(n)],
        "b": [bool(i % 3 == 0) if i % 13 else None for i in range(n)],
    })
    p = str(tmp_path / f"{comp}.orc")
    po.write_table(t, p, compression=comp)
    got = o.read_orc(p)
    assert got["n"] == t.column("n").to_pylist()
    assert got["s"] == t.column("s").to_pylist()
    assert got["x"] == t.column("x").to_pylist()
    assert ([None if v is None else bool(v) for v in got["b"]]
            == t.column("b").to_pylist())


def test_pyarrow_monotonic_delta_runs(tmp_path):
    # RLEv2 DELTA groups of 512: the off-by-one class of bug shows at
    # every group boundary.
    t = pa.table({"x": list(range(30000))})
    p = str(tmp_path / "d.orc")
    po.write_table(t, p)
    assert o.read_orc(p)["x"] == list(range(30000))


# ------------------------------------------------------------ spark interop

def test_spark_orc_interop(spark, tmp_path):
    df = spark.range(0, 50000).selectExpr(
        "id", "cast(id % 97 as int) m", "concat('doc-', id % 53) tag",
        "cast(id * 0.5 as double) v", "id % 2 = 0 flag")
    d = str(tmp_path / "sparkorc")
    df.coalesce(1).write.mode("overwrite").orc(d)
    got = o.read_orc(glob.glob(d + "/*.orc")[0])
    exp = df.orderBy("id").collect()
    assert got["id"] == [r.id for r in exp]
    assert got["m"] == [r.m for r in exp]
    assert got["tag"] == [r.tag for r in exp]
    assert got["v"] == [r.v for r in exp]
    assert [bool(x) for x in got["flag"]] == [r.flag for r in exp]

    rows = [(i, f"s{i % 17}" if i % 5 else None,
             float(i) / 3 if i % 3 else None) for i in range(20000)]
    p = str(tmp_path / "ours.orc")
    o.write_orc(p, [o.OrcColumn("a", o.K_LONG),
                    o.OrcColumn("s", o.K_STRING),
                    o.OrcColumn("x", o.K_DOUBLE)], rows)
    back = spark.read.orc(p).orderBy("a").collect()
    assert [r.a for r in back] == [r[0] for r in rows]
    assert [r.s for r in back] == [r[1] for r in rows]
    assert [r.x for r in back] == [r[2] for r in rows]


def test_bad_magic():
    with pytest.raises(ValueError):
        o.OrcFile(b"PAR1" + b"\x00" * 64)
    with pytest.raises(ValueError):
        o.OrcFile(b"ORCx" + os.urandom(64) + b"\x05")


def test_hostile_files_raise_value_error(tmp_path):
    """Seeded fuzz: truncated and 1-bit-flipped copies of writer-made
    files (RLE v1/v2, zlib/none) either decode or raise ValueError, never
    struct.error, zlib.error, KeyError, TypeError or IndexError."""
    import random

    rows = _sample_rows(300)
    blobs = []
    for rle in (1, 2):
        for comp in (o.C_ZLIB, o.C_NONE):
            p = str(tmp_path / f"f{rle}{comp}.orc")
            o.write_orc(p, _SAMPLE_COLS, rows, stripe_rows=120,
                        compression=comp, rle_version=rle)
            blobs.append(open(p, "rb").read())
            assert o.OrcFile(blobs[-1]).read_all()["a"] == [r[0] for r in rows]
    rng = random.Random(20261019)
    outcomes = {"ok": 0, "ValueError": 0}
    for k in range(800):
        b = bytearray(blobs[k % len(blobs)])
        if rng.random() < 0.5:
            b = b[:rng.randrange(len(b))]
        else:
            i = rng.randrange(len(b) * 8)
            b[i // 8] ^= 1 << (i % 8)
        try:
            o.OrcFile(bytes(b)).read_all()
            outcomes["ok"] += 1
        except ValueError:
            outcomes["ValueError"] += 1
    assert outcomes["ok"] and outcomes["ValueError"]
    # an RLE stream that ends inside a run
    with pytest.raises(ValueError):
        o.int_rle_decode(b"\x05", 8, False, 1)


# --------------------------------------------------------- footer planning

def test_prune_stripes(tmp_path):
    rows = [(i, i * 3) for i in range(20000)]
    p = str(tmp_path / "z.orc")
    o.write_orc(p, [o.OrcColumn("k", o.K_LONG), o.OrcColumn("v", o.K_LONG)],
                rows, stripe_rows=2000)
    plan = o.prune_stripes(p, "k", lower=4100, upper=4500)
    assert plan["n_stripes"] == 10
    assert plan["kept_stripe_ids"] == [2]
    assert plan["kept_rows"] == 2000
    # boundary inclusive on both sides
    edge = o.prune_stripes(p, "k", lower=1999, upper=2000)
    assert edge["kept_stripe_ids"] == [0, 1]
    # unbounded side keeps the tail
    tail = o.prune_stripes(p, "v", lower=3 * 19999)
    assert tail["kept_stripe_ids"] == [9]
    with pytest.raises(KeyError):
        o.prune_stripes(p, "nope")


def test_read_tail_metadata_matches_full_decode(tmp_path):
    rows = _sample_rows(30000)
    p = str(tmp_path / "t.orc")
    o.write_orc(p, _SAMPLE_COLS, rows)
    full = o.OrcFile(open(p, "rb").read())
    meta = o.read_tail_metadata(p, guess=64)  # force the widening path
    assert meta["num_rows"] == full.num_rows == 30000
    assert meta["stripes"] == full.stripes
    assert meta["stripe_stats"] == full.stripe_stats
    assert meta["column_names"] == full.column_names
    assert meta["tail_bytes"] < os.path.getsize(p) // 2


def test_prune_stripes_on_spark_written_file(spark, tmp_path):
    # Spark's writer populates stripe stats too — the planner must
    # work on the RLEv2 generation's metadata as well.
    d = str(tmp_path / "sp")
    (spark.range(0, 100000).selectExpr("id k", "id * 2 v")
     .coalesce(1).sortWithinPartitions("k")
     .write.option("orc.stripe.size", "65536").mode("overwrite").orc(d))
    p = glob.glob(d + "/*.orc")[0]
    plan = o.prune_stripes(p, "k", lower=10, upper=20)
    assert plan["n_kept"] <= plan["n_stripes"]
    assert plan["kept_rows"] >= 11
    got = o.read_orc(p)
    n_match = sum(1 for x in got["k"] if 10 <= x <= 20)
    assert n_match == 11 and plan["kept_rows"] >= n_match


# ------------------------------------------------------------ RLE v2 writer

def test_rle2_encode_roundtrip():
    import random

    random.seed(7)
    cases = [
        [], [0], [5] * 7, [5] * 200, list(range(1000)),
        list(range(500, 0, -1)),
        [random.randint(-2 ** 40, 2 ** 40) for _ in range(800)],
        [3, 3, 3, 9, 1, 2, 3, 4, 5] + [7] * 12,
        [i * 127 for i in range(600)],
    ]
    for signed in (True, False):
        for vals in cases:
            if not signed:
                vals = [abs(v) for v in vals]
            enc = o.int_rle2_encode(vals, signed)
            assert o.int_rle_decode(enc, len(vals), signed, 2) == vals


def test_v2_writer_readers(spark, tmp_path):
    rows = _sample_rows()
    p = str(tmp_path / "v2.orc")
    o.write_orc(p, _SAMPLE_COLS, rows, rle_version=2)
    # our reader (dispatches on the DIRECT_V2 column encoding)
    got = o.read_orc(p)
    assert got["a"] == [r[0] for r in rows]
    assert got["c"] == [r[2] for r in rows]
    # pyarrow
    t = po.read_table(p)
    assert t.column("a").to_pylist() == [r[0] for r in rows]
    assert t.column("b").to_pylist() == [r[1] for r in rows]
    assert t.column("c").to_pylist() == [r[2] for r in rows]
    # spark
    back = spark.read.orc(p).orderBy("a").collect()
    assert [r.a for r in back] == [r[0] for r in rows]
    assert [r.c for r in back] == [r[2] for r in rows]


# -------------------------------------------------- timestamp / decimal

def test_timestamp_roundtrip_and_interop(spark, tmp_path):
    import datetime as dt

    vals = [1600000000_123456, 1420070400_000000, 1400000000_500000,
            -99_750_000, 1600000000_120000, 1600000000_000000, None,
            -3_600_000_000, -2_000_001]
    for v2 in (1, 2):
        p = str(tmp_path / f"ts{v2}.orc")
        o.write_orc(p, [o.OrcColumn("t", o.K_TIMESTAMP)],
                    [(v,) for v in vals], rle_version=v2)
        assert o.read_orc(p)["t"] == vals
        pv = [None if x is None
              else int(x.replace(tzinfo=dt.timezone.utc).timestamp()
                       * 1_000_000)
              for x in po.read_table(p).column("t").to_pylist()]
        assert pv == vals
    back = spark.read.orc(p).selectExpr("unix_micros(t) u").collect()
    assert sorted(r.u for r in back if r.u is not None) == sorted(
        v for v in vals if v is not None)
    # the (-1s, 0) pre-epoch sliver is ambiguous across readers
    with pytest.raises(ValueError, match="ambiguous"):
        o.write_orc(str(tmp_path / "bad.orc"),
                    [o.OrcColumn("t", o.K_TIMESTAMP)], [(-1,)])


def test_timestamp_pyarrow_negative_nanos_shapes(tmp_path):
    # pyarrow's C++ writer emits negative nanos (unsigned two's
    # complement) at the epoch boundary — the reader must cope
    vals = [-1, -999999, 999999, -1_000_001, 1600000000_123456, None]
    p = str(tmp_path / "b.orc")
    po.write_table(pa.table({"t": pa.array(vals, pa.timestamp("us"))}),
                   p)
    assert o.read_orc(p)["t"] == vals


def test_decimal_roundtrip_and_interop(spark, tmp_path):
    from decimal import Decimal

    vals = [Decimal("12.34"), Decimal("-0.05"), Decimal("99999.99"),
            None, Decimal("0.00")]
    p = str(tmp_path / "d.orc")
    o.write_orc(p, [o.OrcColumn("d", o.K_DECIMAL, 18, 2)],
                [(v,) for v in vals])
    assert o.read_orc(p)["d"] == vals
    assert po.read_table(p).column("d").to_pylist() == vals
    back = spark.read.orc(p).collect()
    assert sorted(r.d for r in back if r.d is not None) == sorted(
        v for v in vals if v is not None)
    # pyarrow-written decimal128 -> our reader
    p2 = str(tmp_path / "d2.orc")
    po.write_table(
        pa.table({"d": pa.array(vals, pa.decimal128(18, 2))}), p2)
    assert o.read_orc(p2)["d"] == vals


def test_decimal38_wide_mantissas_roundtrip(tmp_path):
    # DECIMAL(38, s) mantissas need up to 19 varint bytes and more than
    # the 28 digits of decimal's default context
    from decimal import Decimal

    vals = [Decimal("123456789012.0123456789"),
            Decimal("-9999999999999999999999999999.9999999999"),
            Decimal("1234567890123456789012345678.0123456789"),
            None, Decimal("0E-10")]
    p = str(tmp_path / "d.orc")
    o.write_orc(p, [o.OrcColumn("d", o.K_DECIMAL, 38, 10)],
                [(v,) for v in vals])
    assert o.read_orc(p)["d"] == vals
    assert po.read_table(p).column("d").to_pylist() == vals
    p2 = str(tmp_path / "d2.orc")
    po.write_table(
        pa.table({"d": pa.array(vals, pa.decimal128(38, 10))}), p2)
    assert o.read_orc(p2)["d"] == vals
    with pytest.raises(ValueError, match="more than 38 digits"):
        o.write_orc(str(tmp_path / "bad.orc"),
                    [o.OrcColumn("d", o.K_DECIMAL, 38, 0)],
                    [(Decimal(10 ** 38),)])
