"""Pure-Python parquet footer decoder vs pyarrow ground truth.

Three independent writers (pyarrow, Spark/parquet-mr, DuckDB) produce
footers with different thrift field usage (legacy vs order-aware
stats, row-group file_offset presence, created_by strings); the
decoder must agree with ``pyarrow.parquet`` on all of them.
"""

from __future__ import annotations

import datetime
import glob
import struct

import duckdb
import pyarrow.parquet as pq
import pytest

from gfw_pixetl_spark.sources import parquetmeta as pm
from gfw_pixetl_spark.sources.bitio import read_uvarint, unzigzag

SF = "/root/testdata/sf0.001"


def _assert_matches_pyarrow(path: str) -> None:
    meta = pm.read_metadata(path)
    ref = pq.ParquetFile(path).metadata
    assert meta["num_rows"] == ref.num_rows
    assert len(meta["row_groups"]) == ref.num_row_groups
    assert meta["created_by"] == ref.created_by
    for gi in range(ref.num_row_groups):
        rg = ref.row_group(gi)
        mg = meta["row_groups"][gi]
        assert mg["num_rows"] == rg.num_rows
        assert mg["total_byte_size"] == rg.total_byte_size
        assert len(mg["columns"]) == rg.num_columns
        for ci in range(rg.num_columns):
            rc = rg.column(ci)
            mc = mg["columns"][ci]
            assert mc["path_in_schema"] == rc.path_in_schema
            assert mc["num_values"] == rc.num_values
            assert mc["codec"] == rc.compression
            assert mc["type"] == rc.physical_type
            assert mc["total_compressed_size"] == rc.total_compressed_size
            assert mc["total_uncompressed_size"] == rc.total_uncompressed_size
            assert mc["data_page_offset"] == rc.data_page_offset
            st = rc.statistics
            if st is None or not st.has_min_max:
                continue
            if st.null_count is not None:
                assert mc["statistics"].get("null_count") == st.null_count
            mn = pm.decode_stat(mc["statistics"].get("min"), mc["type"])
            mx = pm.decode_stat(mc["statistics"].get("max"), mc["type"])
            if isinstance(st.min, (datetime.date, datetime.datetime)):
                continue  # pyarrow converts logical types; raw is checked below
            if isinstance(st.min, bytes):
                assert mn == st.min.decode("utf-8", "replace")
                assert mx == st.max.decode("utf-8", "replace")
            else:
                assert mn == st.min and mx == st.max


@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{SF}/*.parquet")),
    ids=lambda p: p.rsplit("/", 1)[-1])
def test_pyarrow_parity_shipped(path: str) -> None:
    _assert_matches_pyarrow(path)


def test_pyarrow_parity_duckdb_writer(tmp_path) -> None:
    out = str(tmp_path / "orders_duck.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{SF}/orders.parquet' ORDER BY o_orderkey) "
        f"TO '{out}' (ROW_GROUP_SIZE 500)")
    _assert_matches_pyarrow(out)
    # (DuckDB floors ROW_GROUP_SIZE — multi-group footers are exercised
    # by the pyarrow writer in test_prune_row_groups instead.)
    assert pm.read_metadata(out)["created_by"] == "DuckDB"


def test_pyarrow_parity_spark_writer(spark, tmp_path) -> None:
    out = str(tmp_path / "spark_orders")
    spark.read.parquet(f"{SF}/orders.parquet").repartition(2) \
        .write.mode("overwrite").parquet(out)
    parts = sorted(glob.glob(f"{out}/*.parquet"))
    assert parts
    for p in parts:
        _assert_matches_pyarrow(p)


def test_ranged_read_is_bounded() -> None:
    """Planning fetches exactly tail + footer — never data pages."""
    import os

    path = f"{SF}/lineitem.parquet"
    size = os.path.getsize(path)
    calls: list[tuple[int, int]] = []
    with open(path, "rb") as f:
        def fetch(off: int, n: int) -> bytes:
            calls.append((off, n))
            f.seek(off)
            return f.read(n)

        meta = pm.read_footer_ranged(fetch, size)
    assert meta["num_rows"] == 6000
    assert len(calls) == 2
    assert calls[0] == (size - 8, 8)
    fetched = sum(n for _, n in calls)
    assert fetched < size * 0.5  # footer ≪ data


def test_bad_magic_rejected() -> None:
    with pytest.raises(ValueError, match="magic"):
        pm.read_footer_ranged(lambda o, n: b"\0" * n, 100)


def test_footer_len_overflow_rejected() -> None:
    tail = struct.pack("<I", 1 << 20) + pm.MAGIC
    with pytest.raises(ValueError, match="exceeds"):
        pm.read_footer_ranged(lambda o, n: tail[-n:], 64)


def test_decode_stat_types() -> None:
    assert pm.decode_stat(struct.pack("<i", -7), "INT32") == -7
    assert pm.decode_stat(struct.pack("<q", 1 << 40), "INT64") == 1 << 40
    assert pm.decode_stat(struct.pack("<d", 2.5), "DOUBLE") == 2.5
    assert pm.decode_stat(struct.pack("<f", 0.5), "FLOAT") == 0.5
    assert pm.decode_stat(b"\x01", "BOOLEAN") is True
    assert pm.decode_stat(b"abc", "BYTE_ARRAY") == "abc"
    assert pm.decode_stat(None, "INT64") is None


def test_prune_row_groups(tmp_path) -> None:
    import pyarrow.parquet as _pq

    out = str(tmp_path / "zoned.parquet")
    tbl = _pq.read_table(f"{SF}/orders.parquet",
                         columns=["o_orderkey", "o_totalprice"])
    _pq.write_table(tbl.sort_by("o_orderkey"), out, row_group_size=500)

    plan = pm.prune_row_groups(out, "o_orderkey", lower=600, upper=899)
    # keys 0..1499 sorted in groups of 500: [0,499],[500,999],[1000,1499]
    assert plan["n_groups"] == 3
    assert plan["kept_group_ids"] == [1]
    assert plan["kept_rows"] == 500
    assert plan["total_rows"] == 1500

    # open-ended + full-range + none
    assert pm.prune_row_groups(out, "o_orderkey", lower=1000)["kept_group_ids"] == [2]
    assert pm.prune_row_groups(out, "o_orderkey")["n_kept"] == 3
    assert pm.prune_row_groups(out, "o_orderkey", lower=10_000)["n_kept"] == 0
    with pytest.raises(KeyError):
        pm.prune_row_groups(out, "nope")


def test_thrift_compact_primitives() -> None:
    """Hand-encoded compact-protocol fragments decode exactly."""
    # varint + zigzag
    assert read_uvarint(b"\xac\x02", 0, "parquet") == (300, 2)
    assert unzigzag(0) == 0 and unzigzag(1) == -1 and unzigzag(2) == 1
    # struct {1: i32 5, 2: binary "hi", 3: bool true} — deltas 1,1,1
    buf = bytes([0x15, 0x0A,            # fid 1, i32, zigzag(5)=10
                 0x18, 0x02]) + b"hi" + bytes([
                 0x11,                  # fid 3, BOOLEAN_TRUE inline
                 0x00])                 # STOP
    fields, pos = pm._read_struct(buf, 0)
    assert fields == {1: 5, 2: b"hi", 3: True}
    assert pos == len(buf)
    # long-form field id (delta 0 → explicit zigzag id)
    buf2 = bytes([0x05, 0x20, 0x0A, 0x00])  # fid zigzag(0x20)=16, i32 5
    fields2, _ = pm._read_struct(buf2, 0)
    assert fields2 == {16: 5}
    # list of i64, size 3
    buf3 = bytes([0x36, 0x02, 0x04, 0x06])
    vals, _ = pm._read_value(buf3, 0, 9)
    assert vals == [1, 2, 3]
    # oversize list header (size==15 → varint size)
    body = bytes([0xF6]) + bytes([0x11]) + bytes([0x02]) * 17
    vals2, _ = pm._read_value(body, 0, 9)
    assert vals2 == [1] * 17


def _pyarrow_footer() -> bytes:
    import io

    import pyarrow as pa

    t = pa.table({
        "a": pa.array(range(100), pa.int64()),
        "s": pa.array([f"x{i}" for i in range(100)]),
        "d": pa.array([i / 3 for i in range(100)]),
        "l": pa.array([[i, i + 1] for i in range(100)]),
    })
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=30)
    data = buf.getvalue()
    (flen,) = struct.unpack("<I", data[-8:-4])
    return data[-8 - flen:-8]


def test_hostile_footers_raise_value_error() -> None:
    """Seeded fuzz: truncated and 1-bit-flipped pyarrow footers either
    decode or raise ValueError, never an IndexError, TypeError,
    AttributeError or RecursionError."""
    import random

    footer = _pyarrow_footer()
    pm.decode_footer(footer)
    rng = random.Random(20261019)
    outcomes = {"ok": 0, "ValueError": 0}
    for _ in range(400):
        b = bytearray(footer)
        if rng.random() < 0.5:
            b = b[:rng.randrange(len(b))]
        else:
            k = rng.randrange(len(b) * 8)
            b[k // 8] ^= 1 << (k % 8)
        try:
            pm.decode_footer(bytes(b))
            outcomes["ok"] += 1
        except ValueError:
            outcomes["ValueError"] += 1
    assert outcomes["ok"] and outcomes["ValueError"]
    # nesting past the bound and lengths past the end of the footer
    for blob in (b"\x1c" * 5000, b"\x19" * 5000, b"\x17\x00\x00",
                 b"\x18\xff\xff\xff\xff\x0f", b"\x19\xf8\xff\xff\xff\x0f"):
        with pytest.raises(ValueError):
            pm.decode_footer(blob)
