"""GeoTIFFReader (S4 leaf) against real COG files — the previously
rasterio-gated read path, now exercised end to end: COG sources ->
RasterPipe kernel -> COG tile out. Spark twin of the reference's
source-tile golden tests (gfw_pixetl tests/test_raster_src_tile.py) with
the VRT mosaic semantic (first-non-null by file order,
gfw_pixetl/utils/gdal.py:31-49).
"""

from __future__ import annotations

import numpy as np
import pytest

from gfw_pixetl_spark.grids import LatLngGrid
from gfw_pixetl_spark.models import LayerModel
from gfw_pixetl_spark.plans import raster_pipe as rp
from gfw_pixetl_spark.sources.geotiff import GeoTiff, read_tile, write_cog
from gfw_pixetl_spark.sources.raster import GeoTIFFReader

GRID = LatLngGrid(10, 160)  # 10-degree tiles, 160 px -> xres 0.0625


def _ramp(rows, cols, base):
    ii, jj = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")
    return ((ii + jj + base) % 90).astype("uint8")  # 0 rides as nodata


@pytest.fixture(scope="module")
def sources(tmp_path_factory):
    """Two overlapping source COGs on the target grid.

    src_a covers the west half of tile 10N_000E (lon 0..5), src_b covers
    all of it (lon 0..10) with different values — file order [a, b] must
    prefer a where a is valid.
    """
    d = tmp_path_factory.mktemp("srcs")
    res = GRID.xres
    a = _ramp(160, 80, base=7)
    pa = str(d / "a.tif")
    write_cog(pa, a[None], transform=(0.0, res, 10.0, res), nodata=0,
              blockxsize=80, overviews=False)
    b = _ramp(160, 160, base=31)
    pb = str(d / "b.tif")
    write_cog(pb, b[None], transform=(0.0, res, 10.0, res), nodata=0,
              blockxsize=160, overviews=False)
    return {"a": (pa, a), "b": (pb, b)}


def _mosaic(sources):
    """numpy golden: first-non-null of [a, b] over the full tile."""
    _, a = sources["a"]
    _, b = sources["b"]
    full_a = np.zeros((160, 160), dtype="uint8")
    full_a[:, :80] = a
    data = np.where(full_a != 0, full_a, b)
    mask = data == 0
    return data, mask


def test_reader_mosaics_first_non_null(sources):
    reader = GeoTIFFReader()
    bounds = (0.0, 0.0, 10.0, 10.0)
    out = reader([sources["a"][0], sources["b"][0]], bounds, (160, 160), 1)
    data, mask = _mosaic(sources)
    np.testing.assert_array_equal(np.ma.filled(out, 0)[0], data)
    np.testing.assert_array_equal(np.ma.getmaskarray(out)[0], mask)


def test_reader_boundless_pad(sources):
    reader = GeoTIFFReader()
    # window hangs 2.5 degrees west of src_a's coverage
    out = reader([sources["a"][0]], (-2.5, 5.0, 2.5, 10.0), (80, 80), 1)
    assert np.ma.getmaskarray(out)[0, :, :40].all()
    _, a = sources["a"]
    np.testing.assert_array_equal(
        np.ma.filled(out, 0)[0, :, 40:], np.where(a[:80, :40] == 0, 0,
                                                  a[:80, :40]))


def test_reader_rejects_cross_grid(sources, tmp_path):
    path = str(tmp_path / "coarse.tif")
    write_cog(path, np.ones((1, 16, 16), dtype="uint8"),
              transform=(0.0, 1.0, 10.0, 1.0), nodata=0, overviews=False)
    with pytest.raises(ValueError, match="WarpReader"):
        GeoTIFFReader()([path], (0.0, 0.0, 10.0, 10.0), (160, 160), 1)


def _masked_equal_mosaic(uris, bounds, shape, band_count, src_nodata):
    """The mosaic as the reader built it with ``np.ma.masked_equal`` per
    file and ``np.ma.concatenate`` for a multiband calc over fewer
    source bands."""
    rows, cols = shape
    acc_data, acc_mask = None, np.ones((band_count, rows, cols), bool)
    for uri in uris:
        src = GeoTiff.open(uri)
        c0, r0, _, _ = src.window_from_bounds(bounds)
        arr = src.read_window(c0, r0, cols, rows)
        if src_nodata is not None:
            arr = np.ma.masked_equal(arr, src_nodata)
        if arr.shape[0] >= band_count:
            arr = arr[:band_count]
        else:
            arr = np.ma.concatenate([arr] * band_count)[:band_count]
        data, mask = np.ma.getdata(arr), np.ma.getmaskarray(arr)
        if acc_data is None:
            acc_data, acc_mask = data.copy(), mask.copy()
        else:
            take = acc_mask & ~mask
            acc_data[take] = data[take]
            acc_mask &= mask
    return acc_data, acc_mask


@pytest.mark.parametrize("src_nodata", [None, 0, 40])
@pytest.mark.parametrize("band_count", [1, 2, 3])
@pytest.mark.parametrize("bounds,shape", [
    ((0.0, 0.0, 10.0, 10.0), (160, 160)),   # the whole tile
    ((2.5, 2.5, 7.5, 7.5), (80, 80)),       # across src_a's east edge
    ((-2.5, 5.0, 2.5, 10.0), (80, 80)),     # hangs off every source
])
def test_reader_matches_masked_equal_mosaic(sources, tmp_path, src_nodata,
                                            band_count, bounds, shape):
    """Plain-mask mosaic == the masked-array one, data and mask, over
    overlapping files: a, b (nodata 0) and a two-band source c with no
    nodata tag; a single-band source feeds a multiband calc."""
    path_c = str(tmp_path / "c.tif")
    c = np.stack([_ramp(160, 160, base=3), _ramp(160, 160, base=50)])
    write_cog(path_c, c, transform=(0.0, GRID.xres, 10.0, GRID.xres),
              nodata=None, blockxsize=80, overviews=False)
    for uris in ([sources["a"][0], sources["b"][0]],
                 [sources["a"][0], path_c, sources["b"][0]],
                 [path_c, sources["a"][0]]):
        out = GeoTIFFReader(src_nodata)(uris, bounds, shape, band_count)
        data, mask = _masked_equal_mosaic(uris, bounds, shape, band_count,
                                          src_nodata)
        assert out.dtype == data.dtype
        np.testing.assert_array_equal(np.ma.getdata(out), data)
        np.testing.assert_array_equal(np.ma.getmaskarray(out), mask)


def test_pipe_cog_to_cog(spark, tmp_path, sources):
    """Full raster job with real GeoTIFF at both ends."""
    layer = LayerModel(
        dataset="cog_ds", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A*2", no_data=0, source_uri=["memory://cogs"],
    )
    pipe = rp.RasterPipe(
        layer=layer, reader=GeoTIFFReader(), work_dir=str(tmp_path),
        grid=GRID,
    )
    files = [
        {"uri": sources["a"][0], "band": 1,
         "left": 0.0, "bottom": 0.0, "right": 5.0, "top": 10.0},
        {"uri": sources["b"][0], "band": 1,
         "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0},
    ]
    status = pipe.run(spark, files, subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    got, profile = read_tile(rows[0].out_path)
    data, mask = _mosaic(sources)
    expected = np.where(mask, 0, (data.astype("int64") * 2) % 256
                        ).astype("uint8")
    # calc A*2 on masked source, cast uint8, nodata fill 0
    np.testing.assert_array_equal(got[0], expected)
    assert profile["dtype"] == "uint8"
    assert profile["crs"] == "EPSG:4326"
    out = GeoTiff.open(rows[0].out_path)
    ox, sx, oy, sy = out.transform
    assert (ox, oy) == (0.0, 10.0)
    assert abs(sx - GRID.xres) < 1e-12


def test_streaming_incremental_tiler_with_real_cogs(spark, tmp_path,
                                                    sources):
    """Streaming drop-directory tiling over REAL COG sources: manifest
    lands -> micro-batch runs the pipe with GeoTIFFReader -> real COG
    tiles out; a re-trigger with no new drops is a no-op."""
    import json

    from gfw_pixetl_spark.streaming.incremental import IncrementalTiler

    layer = LayerModel(
        dataset="stream_cog", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A", no_data=0, source_uri=["memory://cogs"],
    )
    pipe = rp.RasterPipe(
        layer=layer, reader=GeoTIFFReader(), work_dir=str(tmp_path / "w"),
        grid=GRID,
    )
    drop = tmp_path / "drops"
    drop.mkdir()
    tiler = IncrementalTiler(
        pipe=pipe, manifest_dir=str(drop),
        checkpoint_dir=str(tmp_path / "ckpt"),
        status_dir=str(tmp_path / "status"),
        subset=["10N_000E"],
    )
    (drop / "m1.json").write_text(json.dumps(
        {"uri": sources["b"][0], "band": 1,
         "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}) + "\n")
    tiler.run_available_now(spark)
    rows = tiler.statuses_of(spark).collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    got, profile = read_tile(rows[0].out_path)
    _, b = sources["b"]
    np.testing.assert_array_equal(got[0], np.where(b == 0, 0, b))
    assert profile["crs"] == "EPSG:4326"
    # no new drops -> no re-burn
    tiler.run_available_now(spark)
    assert tiler.statuses_of(spark).count() == 1
