"""Pure-Python GeoTIFF/COG codec tests (S4 read leaf + S8 write leaf).

Mirrors the reference's write/read expectations
(``gfw_pixetl/tests/test_raster_src_tile.py:36-78`` profile equality,
``tiles/utils/window_utils.py:88-133`` windowed reads) without rasterio:
the container format itself is under test, from the public TIFF 6.0 /
BigTIFF / GeoTIFF 1.1 specs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gfw_pixetl_spark.sources.geotiff import (
    GeoTiff,
    read_tile,
    validate_cog,
    write_cog,
)
from gfw_pixetl_spark.sources.raster import GeoTIFFReader
from tests.conftest import refusal_counts

TRANSFORM = (-10.0, 0.25, 60.0, 0.25)


def _data(dtype, bands=1, rows=300, cols=460, seed=3):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 120, size=(bands, rows, cols)).astype(dtype)
    if np.dtype(dtype).kind == "f":
        a += 0.5
    return a


@pytest.mark.parametrize(
    "dtype,predictor",
    [("uint8", 1), ("uint8", 2), ("int8", 1), ("uint16", 2), ("int16", 2),
     ("uint32", 1), ("int32", 2), ("float16", 1), ("float32", 1),
     ("float64", 1)],
)
def test_roundtrip_dtypes(tmp_path, dtype, predictor):
    data = _data(dtype)
    path = str(tmp_path / f"t_{dtype}_{predictor}.tif")
    prof = write_cog(path, data, transform=TRANSFORM, nodata=0,
                     blockxsize=128, predictor=predictor)
    got, got_prof = read_tile(path)
    np.testing.assert_array_equal(got, data)
    assert got_prof["dtype"] == dtype
    assert got_prof["compress"] == "DEFLATE"
    assert got_prof["crs"] == "EPSG:4326"
    assert prof["dtype"] == dtype


def test_profile_matches_reference_shape(tmp_path):
    """Profile equality analog of tests/test_raster_src_tile.py:36-78:
    tiled layout, block size, compression, CRS, nodata, photometric."""
    data = _data("uint8", bands=1, rows=400, cols=400)
    path = str(tmp_path / "p.tif")
    write_cog(path, data, transform=TRANSFORM, crs="EPSG:4326", nodata=0,
              blockxsize=256, compress="DEFLATE")
    t = GeoTiff.open(path)
    assert t.profile == {
        "dtype": "uint8", "count": 1, "nodata": 0.0,
        "blockxsize": 256, "blockysize": 256, "compress": "DEFLATE",
        "crs": "EPSG:4326", "tiled": True, "width": 400, "height": 400,
        "driver": "GTiff", "overviews": 1, "photometric": "MINISBLACK",
    }
    ox, sx, oy, sy = t.transform
    assert (ox, sx, oy, sy) == (-10.0, 0.25, 60.0, 0.25)
    left, bottom, right, top = t.bounds
    assert (left, top) == (-10.0, 60.0)
    assert (right, bottom) == (-10.0 + 400 * 0.25, 60.0 - 400 * 0.25)


def test_windowed_read_equals_slice(tmp_path):
    data = _data("uint16", bands=2, rows=512, cols=768)
    path = str(tmp_path / "w.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=256)
    t = GeoTiff.open(path)
    win = t.read_window(300, 100, 400, 300, masked=False)
    np.testing.assert_array_equal(win, data[:, 100:400, 300:700])


def test_boundless_read_masks_outside(tmp_path):
    data = _data("uint8", rows=64, cols=64)
    path = str(tmp_path / "b.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=64,
              overviews=False)
    t = GeoTiff.open(path)
    out = t.read_window(-16, -16, 96, 96)
    assert out.shape == (1, 96, 96)
    assert out.mask[0, :16, :].all() and out.mask[0, :, :16].all()
    np.testing.assert_array_equal(
        np.ma.filled(out, 0)[0, 16:80, 16:80],
        np.where(data[0] == 0, 0, data[0]))
    with pytest.raises(ValueError):
        t.read_window(-16, -16, 96, 96, boundless=False)


def test_nodata_masking(tmp_path):
    data = np.array([[[5, 0, 7], [0, 9, 0]]], dtype="uint8")
    path = str(tmp_path / "n.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, overviews=False)
    t = GeoTiff.open(path)
    out = t.read_window(0, 0, 3, 2)
    np.testing.assert_array_equal(
        out.mask[0], np.array([[0, 1, 0], [1, 0, 1]], dtype=bool))


def test_overviews_cog_layout(tmp_path):
    data = _data("uint8", rows=1024, cols=1024)
    path = str(tmp_path / "o.tif")
    prof = write_cog(path, data, transform=TRANSFORM, nodata=None,
                     blockxsize=256)
    assert prof["overviews"] == 2  # 512, 256
    t = GeoTiff.open(path)
    assert [lv.width for lv in t.levels] == [1024, 512, 256]
    assert [lv.subfile_type for lv in t.levels] == [0, 1, 1]
    ov1 = t.read_window(0, 0, 512, 512, level_idx=1, masked=False)
    np.testing.assert_array_equal(ov1, data[:, ::2, ::2])
    assert validate_cog(path) == []


def test_average_overviews_nodata_aware(tmp_path):
    data = np.full((1, 64, 64), 0, dtype="uint8")
    data[0, :32, :32] = 100  # one quadrant valid
    path = str(tmp_path / "avg.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=16,
              overview_resampling="average")
    t = GeoTiff.open(path)
    ov = t.read_window(0, 0, 32, 32, level_idx=1, masked=False)
    # valid quadrant averages to 100 (nodata excluded), rest stays 0
    assert (ov[0, :16, :16] == 100).all()
    assert (ov[0, 16:, 16:] == 0).all()


def test_read_bounds_and_window_from_bounds(tmp_path):
    data = _data("int32", rows=200, cols=200)
    path = str(tmp_path / "g.tif")
    write_cog(path, data, transform=(0.0, 0.5, 100.0, 0.5), nodata=0,
              blockxsize=64)
    t = GeoTiff.open(path)
    bounds = (10.0, 75.0, 35.0, 90.0)  # 50x30 px
    c0, r0, w, h = t.window_from_bounds(bounds)
    assert (c0, r0, w, h) == (20, 20, 50, 30)
    got = t.read_bounds(bounds, masked=False)
    np.testing.assert_array_equal(got, data[:, 20:50, 20:70])


def test_multiband_planar_separate(tmp_path):
    data = _data("uint8", bands=4, rows=96, cols=96)
    path = str(tmp_path / "mb.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=32)
    t = GeoTiff.open(path)
    assert t.count == 4 and t.planar == 2
    np.testing.assert_array_equal(
        t.read_window(10, 20, 30, 40, masked=False), data[:, 20:60, 10:40])


def test_rgb_photometric_default(tmp_path):
    data = _data("uint8", bands=3)
    path = str(tmp_path / "rgb.tif")
    prof = write_cog(path, data, transform=TRANSFORM)
    assert prof["photometric"] == "RGB"
    assert GeoTiff.open(path).profile["photometric"] == "RGB"


def test_projected_crs_and_metadata(tmp_path):
    data = _data("uint8", rows=64, cols=64)
    path = str(tmp_path / "wm.tif")
    write_cog(path, data, transform=(0.0, 100.0, 2e6, 100.0),
              crs="EPSG:3857", nodata=0, nbits=7,
              metadata={"SYMBOLOGY": '{"1": [0, 0, 0]}'},
              overviews=False)
    t = GeoTiff.open(path)
    assert t.crs == "EPSG:3857"
    assert t.nbits == 7
    assert t.metadata["SYMBOLOGY"] == '{"1": [0, 0, 0]}'


def test_float_nodata_nan(tmp_path):
    data = _data("float32")
    path = str(tmp_path / "f.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=float("nan"),
              overviews=False)
    t = GeoTiff.open(path)
    assert np.isnan(t.nodata)


def test_uncompressed(tmp_path):
    data = _data("uint8")
    path = str(tmp_path / "u.tif")
    prof = write_cog(path, data, transform=TRANSFORM, compress="NONE",
                     overviews=False)
    assert prof["compress"] == "NONE"
    got, _ = read_tile(path)
    np.testing.assert_array_equal(got, data)


def test_predictor_floats_rejected(tmp_path):
    with pytest.raises(ValueError):
        write_cog(str(tmp_path / "x.tif"), _data("float32"),
                  transform=TRANSFORM, predictor=2)


def test_partial_read_touches_only_needed_tiles(tmp_path):
    """The COG property: a window read must not decompress the whole
    image. Verified by counting zlib.decompress calls."""
    data = _data("uint8", rows=1024, cols=1024)
    path = str(tmp_path / "c.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=None,
              blockxsize=256, overviews=False)
    t = GeoTiff.open(path)
    calls = {"n": 0}
    real = zlib.decompress

    import gfw_pixetl_spark.sources.geotiff as mod

    try:
        mod.zlib = type("Z", (), {
            "decompress": staticmethod(
                lambda b: (calls.__setitem__("n", calls["n"] + 1),
                           real(b))[1]),
            "compress": staticmethod(zlib.compress)})
        out = t.read_window(100, 100, 200, 200, masked=False)
    finally:
        mod.zlib = zlib
    np.testing.assert_array_equal(out, data[:, 100:300, 100:300])
    assert calls["n"] == 4  # 2x2 of the 4x4 tile grid, not 16


# ---- reader-only formats the writer never emits ---------------------------

def _classic_header(entries: list[tuple[int, int, list]], data_blobs):
    """Build a minimal single-IFD classic TIFF byte string."""
    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    n = len(entries)
    ifd_end = 8 + 2 + n * 12 + 4
    ext = bytearray()
    ext_base = ifd_end
    body = bytearray(struct.pack("<H", n))
    fmt = {3: "H", 4: "I", 12: "d"}
    for tag, ft, vals in entries:
        payload = struct.pack(f"<{len(vals)}{fmt[ft]}", *vals)
        if len(payload) <= 4:
            body += struct.pack("<HHI", tag, ft, len(vals))
            body += payload.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, ft, len(vals),
                                ext_base + len(ext))
            ext += payload
    body += struct.pack("<I", 0)
    out += body + ext
    data_start = len(out)
    out += data_blobs
    return bytes(out), data_start


def test_reader_stripped_chunky(tmp_path):
    """Stripped, pixel-interleaved (chunky) multiband file — the layout
    plain GDAL `gdal_translate` emits by default."""
    rows, cols, bands = 10, 7, 3
    rng = np.random.default_rng(5)
    data = rng.integers(0, 250, size=(rows, cols, bands)).astype("uint8")
    raw = data.tobytes()  # chunky: pixel-major
    entries = [
        (256, 4, [cols]), (257, 4, [rows]), (258, 3, [8, 8, 8]),
        (259, 3, [1]), (262, 3, [2]), (277, 3, [bands]),
        (278, 4, [rows]), (284, 3, [1]),
    ]
    blob, start = _classic_header(entries, raw)
    # patch strip offset/count in: easiest to rebuild with known tags
    entries += [(273, 4, [start]), (279, 4, [len(raw)])]
    entries.sort()
    blob, start2 = _classic_header(entries, raw)
    assert start2 == start + 24  # two more entries grew the IFD
    # rebuild once more with corrected offset
    entries = [e for e in entries if e[0] != 273] + [(273, 4, [start2])]
    entries.sort()
    blob, _ = _classic_header(entries, raw)
    path = str(tmp_path / "chunky.tif")
    open(path, "wb").write(blob)
    t = GeoTiff.open(path)
    assert t.planar == 1 and t.count == 3
    got = t.read_window(0, 0, cols, rows, masked=False)
    np.testing.assert_array_equal(got, data.transpose(2, 0, 1))
    sub = t.read_window(2, 3, 4, 5, masked=False)
    np.testing.assert_array_equal(sub, data.transpose(2, 0, 1)[:, 3:8, 2:6])


def test_reader_bigtiff(tmp_path):
    """Minimal BigTIFF (magic 43, 8-byte offsets), single band."""
    rows, cols = 6, 5
    data = (np.arange(rows * cols) % 200).astype("uint8").reshape(rows, cols)
    raw = data.tobytes()
    entries = [  # (tag, type, count, value)
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
        (278, 4, 1, rows), (284, 3, 1, 1),
    ]
    n = len(entries) + 2
    ifd_off = 16
    data_off = ifd_off + 8 + n * 20 + 8
    entries += [(273, 16, 1, data_off), (279, 4, 1, len(raw))]
    entries.sort()
    out = bytearray(struct.pack("<2sHHHQ", b"MM"[::-1] * 0 + b"II", 43, 8,
                                0, ifd_off))
    out += struct.pack("<Q", n)
    for tag, ft, cnt, val in entries:
        fmt = {3: "H", 4: "I", 16: "Q"}[ft]
        payload = struct.pack(f"<{fmt}", val).ljust(8, b"\x00")
        out += struct.pack("<HHQ", tag, ft, cnt) + payload
    out += struct.pack("<Q", 0)
    assert len(out) == data_off
    out += raw
    path = str(tmp_path / "big.tif")
    open(path, "wb").write(bytes(out))
    t = GeoTiff.open(path)
    got = t.read_window(0, 0, cols, rows, masked=False)
    np.testing.assert_array_equal(got[0], data)


def test_reader_big_endian(tmp_path):
    """MM (big-endian) classic file, uint16 samples."""
    rows, cols = 4, 3
    data = (np.arange(rows * cols) * 37 % 60000).astype("uint16").reshape(
        rows, cols)
    raw = data.astype(">u2").tobytes()
    entries = [
        (256, 4, [cols]), (257, 4, [rows]), (258, 3, [16]),
        (259, 3, [1]), (262, 3, [1]), (277, 3, [1]),
        (278, 4, [rows]), (284, 3, [1]),
    ]
    n = len(entries) + 2
    data_off = 8 + 2 + n * 12 + 4
    entries += [(273, 4, [data_off]), (279, 4, [len(raw)])]
    entries.sort()
    out = bytearray(struct.pack(">2sHI", b"MM", 42, 8))
    out += struct.pack(">H", n)
    for tag, ft, vals in entries:
        fmt = {3: "H", 4: "I"}[ft]
        payload = struct.pack(f">{len(vals)}{fmt}", *vals)
        out += struct.pack(">HHI", tag, ft, len(vals))
        out += payload.ljust(4, b"\x00")
    out += struct.pack(">I", 0)
    assert len(out) == data_off
    out += raw
    path = str(tmp_path / "mm.tif")
    open(path, "wb").write(bytes(out))
    t = GeoTiff.open(path)
    got = t.read_window(0, 0, cols, rows, masked=False)
    np.testing.assert_array_equal(got[0], data)


def test_atomic_write_no_partial_file(tmp_path):
    """The sink's crash-safety contract: the destination path either
    doesn't exist or is a complete valid TIFF (tmp + rename)."""
    path = str(tmp_path / "a.tif")
    write_cog(path, _data("uint8"), transform=TRANSFORM)
    import os

    assert os.listdir(tmp_path) == ["a.tif"]
    assert validate_cog(path) == []


def test_build_overviews_post_pass(tmp_path):
    """gdaladdo analog: flat tile in, COG pyramid out, pixels intact."""
    from gfw_pixetl_spark.sources.geotiff import build_overviews

    data = _data("uint8", rows=600, cols=600)
    path = str(tmp_path / "flat.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=128,
              overviews=False)
    assert GeoTiff.open(path).profile["overviews"] == 0
    prof = build_overviews(path)
    assert prof["overviews"] >= 2
    t = GeoTiff.open(path)
    np.testing.assert_array_equal(
        t.read_window(0, 0, 600, 600, masked=False), data)
    np.testing.assert_array_equal(
        t.read_window(0, 0, 300, 300, level_idx=1, masked=False),
        data[:, ::2, ::2])
    assert validate_cog(path) == []
    assert t.crs == "EPSG:4326" and t.nodata == 0


@pytest.mark.parametrize("nbits", [1, 2, 5, 7])
def test_nbits_bit_packed(tmp_path, nbits):
    """Sub-byte NBITS stores bit-packed (BitsPerSample = nbits), the
    GDAL NBITS creation-option layout the reference's data_type table
    drives (gfw_pixetl data_type.py nbits 1-7)."""
    rng = np.random.default_rng(nbits)
    data = rng.integers(0, 1 << nbits, size=(1, 100, 130)).astype("uint8")
    path = str(tmp_path / f"nb{nbits}.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=None,
              blockxsize=48, nbits=nbits, overviews=False)
    t = GeoTiff.open(path)
    assert t.bits_per_sample == nbits and t.nbits == nbits
    got = t.read_window(0, 0, 130, 100, masked=False)
    np.testing.assert_array_equal(got, data)
    # windowed read through packed tiles
    win = t.read_window(33, 17, 50, 40, masked=False)
    np.testing.assert_array_equal(win, data[:, 17:57, 33:83])
    # 1-bit file is ~8x smaller than byte-aligned would be
    if nbits == 1:
        import os

        byte_aligned = str(tmp_path / "byte.tif")
        write_cog(byte_aligned, data, transform=TRANSFORM, nodata=None,
                  blockxsize=48, compress="NONE", overviews=False)
        write_cog(path, data, transform=TRANSFORM, nodata=None,
                  blockxsize=48, nbits=1, compress="NONE", overviews=False)
        assert os.path.getsize(path) < os.path.getsize(byte_aligned) / 4


def test_nbits_range_validation(tmp_path):
    data = np.full((1, 16, 16), 9, dtype="uint8")
    with pytest.raises(ValueError, match="NBITS=3"):
        write_cog(str(tmp_path / "x.tif"), data, transform=TRANSFORM,
                  nbits=3)


@pytest.mark.parametrize("compress", ["LZW", "PACKBITS"])
def test_lzw_packbits_roundtrip(tmp_path, compress):
    """LZW (TIFF early-change variant) and PackBits — the two non-zlib
    compressions external GeoTIFFs commonly carry."""
    rng = np.random.default_rng(9)
    # runs + noise exercises both RLE and dictionary paths
    data = np.where(rng.random((2, 200, 300)) < 0.5, 7,
                    rng.integers(0, 255, (2, 200, 300))).astype("uint8")
    path = str(tmp_path / f"{compress}.tif")
    prof = write_cog(path, data, transform=TRANSFORM, nodata=None,
                     blockxsize=64, compress=compress, overviews=False)
    assert prof["compress"] == compress
    t = GeoTiff.open(path)
    assert t.profile["compress"] == compress
    np.testing.assert_array_equal(
        t.read_window(0, 0, 300, 200, masked=False), data)
    np.testing.assert_array_equal(
        t.read_window(37, 51, 100, 80, masked=False),
        data[:, 51:131, 37:137])


def test_lzw_cost_is_linear_in_block_size():
    """A 256 KiB block round-trips through the LZW codec in well under a
    second. A bit buffer that keeps every bit shifted into it makes each
    shift cost O(bytes so far) and a block O(n^2): about 50 s per
    direction at this size on a 4-vCPU Xeon."""
    import time

    from gfw_pixetl_spark.sources.geotiff import _lzw_decode, _lzw_encode

    raw = np.random.default_rng(1).integers(
        0, 256, 1 << 18).astype(np.uint8).tobytes()
    t0 = time.perf_counter()
    assert _lzw_decode(_lzw_encode(raw)) == raw
    assert time.perf_counter() - t0 < 10


def test_lzw_with_predictor(tmp_path):
    data = np.cumsum(
        np.ones((1, 128, 128), dtype="uint16"), axis=2).astype("uint16")
    path = str(tmp_path / "lzwp.tif")
    write_cog(path, data, transform=TRANSFORM, compress="LZW",
              predictor=2, overviews=False)
    got, prof = read_tile(path)
    np.testing.assert_array_equal(got, data)
    assert prof["compress"] == "LZW"


@pytest.mark.parametrize("dtype", ["int64", "uint64"])
def test_predictor2_64bit_roundtrip(tmp_path, dtype):
    """Review regression: predictor-2 files with 8-byte samples must
    read back (the old int64 accumulator could not represent the
    wraparound modulus)."""
    rng = np.random.default_rng(2)
    data = rng.integers(0, 2**40, size=(1, 48, 64)).astype(dtype)
    path = str(tmp_path / f"p64_{dtype}.tif")
    write_cog(path, data, transform=TRANSFORM, predictor=2,
              overviews=False)
    got, _ = read_tile(path)
    np.testing.assert_array_equal(got, data)


def test_metadata_xml_escaping(tmp_path):
    """Review regression: metadata values with XML-special characters
    must survive the GDALMetadata tag round-trip."""
    path = str(tmp_path / "esc.tif")
    write_cog(path, _data("uint8", rows=32, cols=32),
              transform=TRANSFORM,
              metadata={"note": 'A&B <tag> "quoted"'}, overviews=False)
    t = GeoTiff.open(path)
    assert t.metadata["note"] == 'A&B <tag> "quoted"'


def test_bigtiff_write_read_roundtrip(tmp_path):
    """BigTIFF writer path (magic 43, 8-byte offsets): forced small file
    round-trips through the existing BigTIFF-aware reader — the layout
    a >4 GiB production tile would auto-select."""
    rng = np.random.default_rng(6)
    data = rng.integers(1, 200, size=(2, 300, 400)).astype("uint16")
    path = str(tmp_path / "big.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, blockxsize=128,
              bigtiff=True)
    with open(path, "rb") as f:
        assert f.read(4) == b"II\x2b\x00"  # magic 43 little-endian
    t = GeoTiff.open(path)
    np.testing.assert_array_equal(
        t.read_window(0, 0, 400, 300, masked=False), data)
    np.testing.assert_array_equal(
        t.read_window(111, 37, 120, 90, masked=False),
        data[:, 37:127, 111:231])
    assert t.crs == "EPSG:4326" and t.nodata == 0
    # classic stays the default for small payloads
    small = str(tmp_path / "small.tif")
    write_cog(small, data, transform=TRANSFORM, overviews=False)
    with open(small, "rb") as f:
        assert f.read(4) == b"II\x2a\x00"


def test_bigtiff_validates_as_cog(tmp_path):
    data = _data("uint8", rows=600, cols=600)
    path = str(tmp_path / "bigcog.tif")
    write_cog(path, data, transform=TRANSFORM, blockxsize=128,
              bigtiff=True)
    assert validate_cog(path) == []


def test_read_decimated_picks_overview(tmp_path):
    import numpy as np

    from gfw_pixetl_spark.sources.geotiff import GeoTiff, write_cog

    p = str(tmp_path / "d.tif")
    ii, jj = np.meshgrid(np.arange(128), np.arange(128), indexing="ij")
    v = ((ii * 3 + jj * 5) % 17).astype("uint8")
    write_cog(p, v[None], transform=(0.0, 0.05, 10.0, 0.05),
              blockxsize=32, overviews=True, overview_resampling="nearest")
    t = GeoTiff.open(p)
    assert len(t.levels) == 3  # 128, 64, 32
    assert t.pick_level(1.0) == 0
    assert t.pick_level(2.5) == 1
    assert t.pick_level(4.0) == 2
    # full-bounds decimated read == nearest pyramid level == v[::4, ::4]
    arr = t.read_decimated(t.bounds, 32, 32)
    assert arr.shape == (1, 32, 32)
    assert np.array_equal(np.ma.getdata(arr)[0], v[::4, ::4])
    # sub-window at 2x decimation comes from level 1 (v[::2, ::2])
    sub = t.read_decimated((0.0, 8.4, 1.6, 10.0), 16, 16)
    assert np.array_equal(np.ma.getdata(sub)[0], v[:32:2, :32:2])


# --- CCITT Group 4 (T.6) boolean layers ------------------------------------
# Reference assigns CCITTFAX4 + NBITS=1 to boolean data types
# (gfw_pixetl/data_type.py:122-124); the codec implements T.6 MMR from
# the public recommendation (sources/ccitt.py).

@pytest.mark.parametrize("photometric", ["MINISWHITE", "MINISBLACK"])
def test_ccittfax4_boolean_roundtrip(tmp_path, photometric):
    rng = np.random.default_rng(11)
    ii, jj = np.meshgrid(np.arange(100), np.arange(130), indexing="ij")
    data = (((ii - 40) ** 2 + (jj - 70) ** 2 < 900)
            | (rng.random((100, 130)) < 0.02)).astype("uint8")[None]
    path = str(tmp_path / f"fax_{photometric}.tif")
    prof = write_cog(path, data, transform=TRANSFORM, nbits=1,
                     compress="CCITTFAX4", photometric=photometric,
                     blockxsize=48, overviews=False)
    assert prof["compress"] == "CCITTFAX4"
    assert prof["photometric"] == photometric
    t = GeoTiff.open(path)
    assert t.compression == 4 and t.bits_per_sample == 1
    arr = t.read_window(0, 0, 130, 100)
    assert np.array_equal(np.ma.getdata(arr[0]), data[0])


def test_ccittfax4_compresses_structured_masks(tmp_path):
    """A realistic boolean mask (large connected regions) must come out
    smaller than the bit-packed NONE encoding — fax coding is the point."""
    ii, jj = np.meshgrid(np.arange(256), np.arange(256), indexing="ij")
    data = ((ii // 64 + jj // 64) % 2 == 0).astype("uint8")[None]
    p_fax = str(tmp_path / "fax.tif")
    p_none = str(tmp_path / "none.tif")
    write_cog(p_fax, data, transform=TRANSFORM, nbits=1,
              compress="CCITTFAX4", overviews=False)
    write_cog(p_none, data, transform=TRANSFORM, nbits=1,
              compress="NONE", overviews=False)
    import os
    assert os.path.getsize(p_fax) < os.path.getsize(p_none)
    t = GeoTiff.open(p_fax)
    arr = t.read_window(0, 0, 256, 256)
    assert np.array_equal(np.ma.getdata(arr[0]), data[0])


def test_ccittfax4_requires_nbits1_single_band(tmp_path):
    with pytest.raises(ValueError, match="NBITS=1"):
        write_cog(str(tmp_path / "x.tif"), _data("uint8"),
                  transform=TRANSFORM, compress="CCITTFAX4")
    with pytest.raises(ValueError, match="NBITS=1"):
        write_cog(str(tmp_path / "y.tif"),
                  np.zeros((2, 32, 32), "uint8"), transform=TRANSFORM,
                  nbits=1, compress="CCITTFAX4")


def test_ccittfax4_partial_tile_and_overviews(tmp_path):
    """Edge tiles pad, overview IFDs fax-code too, windowed reads hit
    only the needed tiles."""
    rng = np.random.default_rng(5)
    data = (rng.random((1, 300, 460)) < 0.1).astype("uint8")
    path = str(tmp_path / "fax_ov.tif")
    prof = write_cog(path, data, transform=TRANSFORM, nbits=1,
                     compress="CCITTFAX4", blockxsize=64, overviews=True)
    assert prof["overviews"] >= 1
    t = GeoTiff.open(path)
    arr = t.read_window(37, 51, 200, 120)
    assert np.array_equal(np.ma.getdata(arr[0]),
                          data[0, 51:171, 37:237])


def test_t4_code_table_spot_checks():
    """Published T.4 §4.1 code words (spot sample across both trees)."""
    from gfw_pixetl_spark.sources.ccitt import _BLACK_CODES, _WHITE_CODES

    assert _WHITE_CODES[0] == (0b00110101, 8)
    assert _WHITE_CODES[1] == (0b000111, 6)
    assert _WHITE_CODES[63] == (0b00110100, 8)
    assert _WHITE_CODES[64] == (0b11011, 5)
    assert _WHITE_CODES[2560] == (0b000000011111, 12)
    assert _BLACK_CODES[0] == (0b0000110111, 10)
    assert _BLACK_CODES[2] == (0b11, 2)
    assert _BLACK_CODES[3] == (0b10, 2)
    assert _BLACK_CODES[63] == (0b000001100111, 12)
    assert _BLACK_CODES[64] == (0b0000001111, 10)


def test_g4_known_bitstream():
    """An all-white 2x8 tile is two V0 codes (1 bit each) + EOFB:
    11 000000000001 000000000001 + 6 pad -> C0 04 00 40."""
    from gfw_pixetl_spark.sources.ccitt import g4_encode

    enc = g4_encode(np.zeros((2, 8), dtype=bool))
    assert enc == bytes([0xC0, 0x04, 0x00, 0x40])


# --- paletted output (ColorMap tag 320, photometric 3) ---------------------

def test_palette_roundtrip(tmp_path):
    import numpy as np

    from gfw_pixetl_spark.sources.geotiff import GeoTiff, write_cog

    p = str(tmp_path / "pal.tif")
    data = (np.arange(64 * 64, dtype=np.int64) % 5).astype(
        "uint8").reshape(64, 64)
    cmap = {0: (1, 2, 3), 1: (255, 0, 0), 2: (0, 255, 0),
            3: (0, 0, 255), 4: (128, 128, 128)}
    prof = write_cog(p, data[None], transform=(0.0, 0.1, 10.0, 0.1),
                     colormap=cmap, blockxsize=32, overviews=True)
    assert prof["photometric"] == "PALETTE"
    t = GeoTiff.open(p)
    assert t.profile["photometric"] == "PALETTE"
    assert t.profile["colormap"] == cmap
    arr = t.read_window(0, 0, 64, 64, masked=False)
    assert (arr[0] == data).all()  # indices, not colors


def test_palette_16bit_channel_convention(tmp_path):
    """Tag 320 stores v*257 per channel (0xFFFF for 255): verify the
    raw tag words, not just the round trip."""
    import numpy as np

    from gfw_pixetl_spark.sources.geotiff import (
        GeoTiff, T_COLOR_MAP, write_cog)

    p = str(tmp_path / "pal16.tif")
    write_cog(p, np.zeros((1, 16, 16), dtype="uint8"),
              transform=(0.0, 0.1, 10.0, 0.1),
              colormap={0: (255, 1, 0)}, blockxsize=16, overviews=False)
    raw = open(p, "rb").read()
    t = GeoTiff.open(p)
    # decode the tag words directly through the parser's main-IFD path
    assert t.colormap == {0: (255, 1, 0)}
    # 255 -> 0xFFFF must appear in the palette block
    assert b"\xff\xff" in raw


def test_palette_gates(tmp_path):
    import numpy as np
    import pytest

    from gfw_pixetl_spark.sources.geotiff import write_cog

    p = str(tmp_path / "bad.tif")
    rgb = np.zeros((3, 16, 16), dtype="uint8")
    with pytest.raises(ValueError, match="single-band uint8"):
        write_cog(p, rgb, transform=(0.0, 0.1, 10.0, 0.1),
                  colormap={0: (0, 0, 0)})
    with pytest.raises(ValueError, match="requires a colormap"):
        write_cog(p, rgb[:1], transform=(0.0, 0.1, 10.0, 0.1),
                  photometric="PALETTE")
    with pytest.raises(ValueError, match="out of range"):
        write_cog(p, rgb[:1], transform=(0.0, 0.1, 10.0, 0.1),
                  colormap={300: (1, 1, 1)})


@pytest.mark.parametrize("compress", ["DEFLATE", "LZW", "NONE", "PACKBITS"])
def test_hostile_files_raise_value_error(tmp_path, compress):
    """Seeded fuzz through the raster pipe's reader: truncated and
    bit-flipped copies of a writer-made COG (DEFLATE with overviews)
    either read or raise ValueError, never struct.error, zlib.error,
    KeyError, IndexError or ZeroDivisionError."""
    src = str(tmp_path / "src.tif")
    write_cog(src, _data("uint16", rows=64, cols=64),
              transform=(0.0, 1 / 64, 1.0, 1 / 64), nodata=0,
              blockxsize=32, compress=compress,
              overviews=compress == "DEFLATE")
    dst = str(tmp_path / "damaged.tif")

    def read(blob):
        with open(dst, "wb") as f:
            f.write(blob)
        GeoTIFFReader()([dst], (0.0, 0.0, 1.0, 1.0), (64, 64), 1)

    counts = refusal_counts(read, open(src, "rb").read(), 200, seed=11)
    assert counts["ok"] and counts["ValueError"]
