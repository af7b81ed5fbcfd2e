"""Parquet data-page decoder (sources/parquetdata.py): page codecs,
RLE/bit-packed hybrid levels, dictionary + PLAIN + DELTA_BINARY_PACKED
values, cross-validated against four independent writers (pyarrow v1,
pyarrow data-page-v2, DuckDB, Spark/parquet-mr)."""

import glob

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gfw_pixetl_spark.sources.parquetdata import (
    read_parquet_rows,
    rle_bp_hybrid,
)

N = 25000


def _frame():
    return pd.DataFrame({
        "a": range(N),
        "b": [None if i % 11 == 0 else i * 1.5 for i in range(N)],
        "s": [None if i % 7 == 0 else f"val{i % 257}" for i in range(N)],
        "f": [bool(i % 3 == 0) for i in range(N)],
        "i32": pd.array([i % 1000 for i in range(N)], dtype="int32"),
    })


def _expected(df):
    return {c: [None if pd.isna(v) else v for v in df[c]]
            for c in df.columns}


def _check(path, df):
    got = read_parquet_rows(path)
    exp = _expected(df)
    for c in df.columns:
        assert got[c] == exp[c], c


def test_rle_bp_hybrid_vectors():
    # RLE run: header = count<<1, value in ceil(width/8) bytes
    vals, pos = rle_bp_hybrid(b"\x14\x01", 0, 1, 10)
    assert vals == [1] * 10 and pos == 2
    # bit-packed: header = groups<<1|1; 8 3-bit values 0..7 LSB-first
    data = bytes([0x03, 0x88, 0xC6, 0xFA])
    vals, _ = rle_bp_hybrid(data, 0, 3, 8)
    assert vals == [0, 1, 2, 3, 4, 5, 6, 7]


@pytest.mark.parametrize("codec", ["none", "snappy", "gzip", "zstd",
                                   "brotli", "lz4"])
def test_pyarrow_v1_codecs(tmp_path, codec):
    df = _frame()
    p = str(tmp_path / f"{codec}.parquet")
    pq.write_table(pa.Table.from_pandas(df), p, compression=codec,
                   row_group_size=8000)
    _check(p, df)


def test_pyarrow_plain_pages(tmp_path):
    df = _frame()
    p = str(tmp_path / "plain.parquet")
    pq.write_table(pa.Table.from_pandas(df), p, use_dictionary=False)
    _check(p, df)


def test_pyarrow_v2_delta_pages(tmp_path):
    df = _frame()
    p = str(tmp_path / "v2.parquet")
    pq.write_table(pa.Table.from_pandas(df), p, data_page_version="2.0",
                   version="2.6", use_dictionary=False)
    _check(p, df)


def test_duckdb_writer(tmp_path):
    df = _frame()
    p = str(tmp_path / "duck.parquet")
    con = duckdb.connect()
    con.register("df", df)
    con.sql(f"COPY df TO '{p}' (FORMAT PARQUET)")
    _check(p, df)


def test_spark_writer(spark, tmp_path):
    d = str(tmp_path / "sp")
    df = spark.range(0, 30000).selectExpr(
        "id", "cast(id % 97 as int) m",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('k', id % 41) END tag",
        "cast(id * 0.25 as double) v")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    p = glob.glob(d + "/*.parquet")[0]
    got = read_parquet_rows(p)
    exp = df.orderBy("id").collect()
    # parquet-mr preserves write order within the single partition
    assert sorted(got["id"]) == [r.id for r in exp]
    by_id = dict(zip(got["id"], zip(got["m"], got["tag"], got["v"])))
    for r in exp:
        assert by_id[r.id] == (r.m, r.tag, r.v)


def test_column_projection_and_nested_refusal(tmp_path):
    df = _frame()
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(df), p)
    got = read_parquet_rows(p, columns=["a", "s"])
    assert set(got) == {"a", "s"}
    p2 = str(tmp_path / "nested.parquet")
    pq.write_table(pa.table({"x": [[1, 2], [3]]}), p2)
    with pytest.raises(ValueError, match="nested"):
        read_parquet_rows(p2)


def test_shipped_testdata_matches_duckdb():
    path = "/root/testdata/sf0.001/orders.parquet"
    got = read_parquet_rows(path, columns=["o_orderkey", "o_totalprice",
                                           "o_orderpriority"])
    ref = duckdb.sql(
        "SELECT o_orderkey, o_totalprice, o_orderpriority "
        f"FROM read_parquet('{path}')").fetchall()
    assert got["o_orderkey"] == [r[0] for r in ref]
    assert got["o_totalprice"] == [r[1] for r in ref]
    assert got["o_orderpriority"] == [r[2] for r in ref]


def test_empty_file(tmp_path):
    p = str(tmp_path / "e.parquet")
    pq.write_table(pa.Table.from_pandas(_frame().iloc[:0]), p)
    got = read_parquet_rows(p)
    assert all(v == [] for v in got.values())


# --------------------------------------------------------------- writer

from gfw_pixetl_spark.sources.parquetdata import (  # noqa: E402
    PColumn,
    write_parquet,
)

_W_ROWS = [(i,
            None if i % 11 == 0 else i * 1.5,
            None if i % 7 == 0 else f"val{i % 257}",
            i % 3 == 0,
            (i % 1000) - 500)
           for i in range(30000)]
_W_COLS = [
    PColumn("a", "INT64"),
    PColumn("b", "DOUBLE", nullable=True),
    PColumn("s", "BYTE_ARRAY", nullable=True),
    PColumn("f", "BOOLEAN"),
    PColumn("i32", "INT32"),
]
_W_NAMES = ["a", "b", "s", "f", "i32"]


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY", "GZIP",
                                   "ZSTD"])
def test_writer_three_readers(tmp_path, codec):
    p = str(tmp_path / f"w_{codec}.parquet")
    info = write_parquet(p, _W_COLS, _W_ROWS, row_group_rows=12000,
                         codec=codec)
    assert info["n_row_groups"] == 3
    got = read_parquet_rows(p)
    for ci, name in enumerate(_W_NAMES):
        assert got[name] == [r[ci] for r in _W_ROWS], ("self", name)
    t = pq.read_table(p)
    for ci, name in enumerate(_W_NAMES):
        assert t.column(name).to_pylist() == [r[ci] for r in _W_ROWS], \
            ("pyarrow", name)
    ref = duckdb.sql(f"SELECT a, s FROM read_parquet('{p}')").fetchall()
    assert [r[0] for r in ref] == [r[0] for r in _W_ROWS]
    assert [r[1] for r in ref] == [r[2] for r in _W_ROWS]


def test_writer_spark_reads(spark, tmp_path):
    p = str(tmp_path / "w.parquet")
    write_parquet(p, _W_COLS, _W_ROWS, row_group_rows=12000,
                  codec="SNAPPY")
    back = spark.read.parquet(p).orderBy("a").collect()
    assert [r.a for r in back] == [r[0] for r in _W_ROWS]
    assert [r.s for r in back] == [r[2] for r in _W_ROWS]
    assert [r.f for r in back] == [r[3] for r in _W_ROWS]


def test_writer_stats_and_pruning(tmp_path):
    from gfw_pixetl_spark.sources.parquetmeta import prune_row_groups

    p = str(tmp_path / "z.parquet")
    rows = [(i, i * 3.0, None, False, 0) for i in range(40000)]
    write_parquet(p, _W_COLS, rows, row_group_rows=8000)
    st = pq.ParquetFile(p).metadata.row_group(1).column(0).statistics
    assert (st.min, st.max, st.null_count) == (8000, 15999, 0)
    plan = prune_row_groups(p, "a", lower=8100, upper=8900)
    assert plan["n_groups"] == 5 and plan["kept_group_ids"] == [1]


def test_writer_empty_and_bad_codec(tmp_path):
    p = str(tmp_path / "e.parquet")
    write_parquet(p, _W_COLS, [])
    assert pq.read_table(p).num_rows == 0
    assert read_parquet_rows(p)["a"] == []
    with pytest.raises(ValueError, match="codec"):
        write_parquet(p, _W_COLS, _W_ROWS, codec="LZO")
    with pytest.raises(ValueError, match="type"):
        PColumn("x", "INT96")


# ------------------------------------------------- DELTA overflow parity

def _uvarint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _delta_stream(first: int, min_delta: int, deltas: list[int],
                  n_mini: int) -> bytes:
    """One DELTA_BINARY_PACKED block of 8-bit miniblocks; ``first`` and
    ``min_delta`` are non-negative, so their zigzag code is ``2 * v``."""
    out = (_uvarint(len(deltas)) + _uvarint(n_mini)
           + _uvarint(len(deltas) + 1) + _uvarint(2 * first)
           + _uvarint(2 * min_delta) + bytes([8] * n_mini))
    return out + bytes(deltas)  # width 8: one byte per delta


def test_delta_overflow_same_on_vector_and_scalar_paths():
    """A stream whose running sum leaves int64 decodes to the same
    values whether a miniblock takes the vectorised prefix sum
    (take >= 16) or the scalar loop (take < 16): both wrap mod 2^64."""
    from gfw_pixetl_spark.sources.parquetdata import _delta_binary_packed

    deltas = [(37 * i + 11) % 256 for i in range(32)]
    first, min_delta = (1 << 62) + 5, (1 << 62) - 3
    vec = _delta_stream(first, min_delta, deltas, n_mini=1)  # take 32
    sca = _delta_stream(first, min_delta, deltas, n_mini=4)  # take 8
    got_vec, end_vec = _delta_binary_packed(vec, 0, 33)
    got_sca, end_sca = _delta_binary_packed(sca, 0, 33)
    assert (end_vec, end_sca) == (len(vec), len(sca))
    assert got_vec == got_sca
    want, v = [first], first
    for d in deltas:
        v += min_delta + d
        want.append(((v + (1 << 63)) % (1 << 64)) - (1 << 63))
    assert got_vec == want
    assert max(abs(x) for x in got_sca) < 1 << 63
