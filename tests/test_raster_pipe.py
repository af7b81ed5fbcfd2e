"""End-to-end tile pipeline test — the Spark twin of the reference's
golden transform tests (gfw_pixetl tests/test_raster_src_tile.py:36-78):
run a layer, read back the written tiles, assert exact arrays, profile,
and status accounting."""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

import numpy as np
import pytest

from gfw_pixetl_spark.grids import (
    GRID_NAMES, LatLngGrid, WebMercatorGrid, grid_factory,
)
from gfw_pixetl_spark.models import LayerModel
from gfw_pixetl_spark.plans import raster_pipe as rp
from gfw_pixetl_spark.sources.raster import SyntheticReader
from gfw_pixetl_spark.sources.geotiff import read_tile


def make_layer(**overrides) -> LayerModel:
    base = dict(
        dataset="test_ds", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A*2", no_data=0, source_uri=["memory://synthetic"],
    )
    base.update(overrides)
    return LayerModel(**base)


def make_pipe(tmp_path, grid, **layer_overrides) -> rp.RasterPipe:
    return rp.RasterPipe(
        layer=make_layer(**layer_overrides),
        reader=SyntheticReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path),
        grid=grid,
    )


@dataclass
class ProbeReader(SyntheticReader):
    """SyntheticReader that reads fully masked windows west of
    ``empty_west_of``, raises on the window whose top-left corner is
    ``fail_at`` and, given ``span_dir``, appends one line per call to a
    per-process file there (reader calls happen in Python workers)."""

    empty_west_of: float = -180.0
    fail_at: tuple[float, float] | None = None
    span_dir: str | None = None

    def __call__(self, uris, bounds, shape, band_count):
        if self.span_dir:
            with open(os.path.join(self.span_dir, f"{os.getpid()}.txt"),
                      "a") as fh:
                fh.write(f"{bounds}\n")
        left, _, _, top = bounds
        if self.fail_at and np.allclose((left, top), self.fail_at):
            raise IOError("synthetic read failure")
        arr = super().__call__(uris, bounds, shape, band_count)
        if left < self.empty_west_of - 1e-9:
            arr.mask = True
        return arr


def expected_tile(bounds, grid, band_count=1):
    """Golden output: synthetic source values *2, masked->0, uint8."""
    reader = SyntheticReader(xres=grid.xres, yres=grid.yres)
    arr = reader(
        [], (bounds.left, bounds.bottom, bounds.right, bounds.top),
        (grid.rows, grid.cols), band_count,
    )
    return np.ma.filled(arr * 2, 0).astype("uint8")


def test_pipe_end_to_end(spark, tmp_path):
    grid = LatLngGrid(10, 160)  # 160x160 px tiles, single 160-px block
    pipe = make_pipe(tmp_path, grid)
    files = [
        {"uri": "memory://a", "band": 1,
         "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0},
    ]
    status = pipe.run(
        spark, files, subset=["00N_000E", "10N_000E", "20N_020E"]
    )
    rows = {r.tile_id: r for r in status.collect()}
    # 20N_020E doesn't intersect the file footprint -> pruned before the
    # kernel ever runs; the two intersecting tiles process fully.
    assert set(rows) == {"00N_000E", "10N_000E"}
    assert all(r.status == "processed" for r in rows.values())
    assert all(r.n_windows == 1 for r in rows.values())

    for tid, r in rows.items():
        data, profile = read_tile(r.out_path)
        bounds = grid.get_tile_bounds(tid)
        np.testing.assert_array_equal(data, expected_tile(bounds, grid))
        assert profile["dtype"] == "uint8"
        assert profile["count"] == 1
        assert profile["nodata"] == 0
        assert profile["blockxsize"] == grid.blockxsize
        assert profile["crs"] == "EPSG:4326"
        assert profile["compress"] == "DEFLATE"


def test_pipe_skips_existing(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(
        spark, files, subset=["10N_000E"], existing_tile_ids=["10N_000E"]
    )
    assert status.collect() == []  # incremental skip removed the only tile


def test_multiband_calc(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(
        tmp_path, grid,
        calc="np.ma.array([A, B, A+B])", band_count=3, no_data=[0, 0, 0],
    )
    # reader yields 3 input bands? band_count drives both input and output
    # here (like the reference's multi-in multi-out RGB test)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    data, _ = read_tile(rows[0].out_path)
    assert data.shape == (3, 160, 160)
    # band 3 = A+B with mask union filled by 0
    reader = SyntheticReader(xres=grid.xres, yres=grid.yres)
    bounds = grid.get_tile_bounds("10N_000E")
    src = reader([], (bounds.left, bounds.bottom, bounds.right, bounds.top),
                 (160, 160), 3)
    expected = np.ma.filled(
        np.ma.array([src[0], src[1], src[0] + src[1]]), 0
    ).astype("uint8")
    np.testing.assert_array_equal(data, expected)


def test_window_alignment_across_windows(spark, tmp_path):
    """Multi-window tiles must assemble seamlessly (C5 alignment)."""
    # 544px tile: largest block divisor <=512 is 272 -> 2x2 windows
    grid = LatLngGrid(10, 544)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].n_windows == 4
    data, _ = read_tile(rows[0].out_path)
    bounds = grid.get_tile_bounds("10N_000E")
    np.testing.assert_array_equal(data, expected_tile(bounds, grid))


def test_manifest(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["00N_000E", "10N_000E"])
    m = rp.manifest(status, grid)
    assert len(m["tiles"]["features"]) == 2
    ext = m["extent"]["geometry"]["coordinates"][0]
    xs = [p[0] for p in ext]
    ys = [p[1] for p in ext]
    assert min(xs) == 0.0 and max(xs) == 10.0
    assert min(ys) == -10.0 and max(ys) == 10.0


def test_seed_tiles_matches_grid(spark):
    g = LatLngGrid(10, 160)
    df = rp.seed_tiles(spark, g)
    got = {r.tile_id for r in df.collect()}
    assert got == g.get_tile_ids()
    r = df.filter(df.tile_id == "10N_000E").collect()[0]
    assert (r.tile_left, r.tile_bottom, r.tile_right, r.tile_top) == (
        0.0, 0.0, 10.0, 10.0
    )
    # every lat/lng catalog grid, offset grids (8/32000) included: the
    # exact tile set, bounds and no duplicate rows
    for name in GRID_NAMES:
        g = grid_factory(name)
        if not isinstance(g, LatLngGrid):
            continue
        rows = rp.seed_tiles(spark, g).collect()
        got = {r.tile_id: (r.tile_left, r.tile_bottom, r.tile_right,
                           r.tile_top) for r in rows}
        assert len(rows) == len(got), name
        assert set(got) == g.get_tile_ids(), name
        for tid, bounds in got.items():
            bb = g.get_tile_bounds(tid)
            assert bounds == (bb.left, bb.bottom, bb.right, bb.top), tid


def test_seed_tiles_offset_grid(spark):
    g = LatLngGrid(8, 160)  # offset grid (tiles straddle equator/meridian)
    df = rp.seed_tiles(spark, g)
    got = {r.tile_id for r in df.collect()}
    assert got == g.get_tile_ids()


def test_seed_tiles_wm(spark):
    g = WebMercatorGrid(10)
    df = rp.seed_tiles(spark, g)
    rows = {r.tile_id: r for r in df.collect()}
    assert set(rows) == g.get_tile_ids()
    for tid in ("000R_000C", "003R_003C"):
        bb = g.get_tile_bounds(tid)
        r = rows[tid]
        assert abs(r.tile_left - bb.left) < 1e-6
        assert abs(r.tile_top - bb.top) < 1e-6


def test_gdal_geotiff_secondary_copy(spark, tmp_path):
    """DstFormat.gdal_geotiff (tiles/tile.py:125-137): same pixels,
    higher compression, parallel directory tree."""
    import os

    from gfw_pixetl_spark.sources.geotiff import GeoTiff

    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid,
                     dst_formats=("geotiff", "gdal-geotiff"))
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    rows = pipe.run(spark, files, subset=["10N_000E"]).collect()
    assert rows[0].status == "processed"
    primary = rows[0].out_path
    secondary = primary.replace("/geotiff/", "/gdal-geotiff/")
    assert os.path.isfile(secondary)
    a, pa = read_tile(primary)
    b, pb = read_tile(secondary)
    np.testing.assert_array_equal(a, b)
    # the copy carries the predictor+max-deflate profile: never larger
    assert os.path.getsize(secondary) <= os.path.getsize(primary)
    assert GeoTiff.open(secondary).predictor == 2


def test_boolean_layer_writes_real_ccittfax4(tmp_path, spark):
    """Boolean layers carry the reference's NBITS=1 + CCITTFAX4 profile
    (gfw_pixetl/data_type.py:122-124) — since the T.6 codec landed, the
    output is genuinely fax-coded, not a NONE fallback, and reads back
    exactly."""
    from gfw_pixetl_spark.grids import grid_factory
    from gfw_pixetl_spark.sources.geotiff import GeoTiff, read_tile

    grid = grid_factory("1/4000")
    pipe = rp.RasterPipe(
        layer=make_layer(data_type="boolean", calc="A>5", no_data=0,
                         grid="1/4000"),
        reader=SyntheticReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path),
        grid=grid,
    )
    files = [{"uri": "memory://b", "band": 1, "left": 10.0, "bottom": 40.0,
              "right": 11.0, "top": 41.0}]
    rows = [r for r in pipe.run(spark, files).collect()
            if r.status == "processed"]
    assert rows
    t = GeoTiff.open(rows[0].out_path)
    assert t.compression == 4  # CCITTFAX4
    assert t.bits_per_sample == 1
    arr, profile = read_tile(rows[0].out_path)
    assert profile["compress"] == "CCITTFAX4"
    assert set(np.unique(np.ma.getdata(arr))) <= {0, 1}


def test_tile_with_only_empty_windows_is_skipped(spark, tmp_path):
    """F9: a tile that intersects the catalog but reads only masked
    pixels gets one ``skipped (has no data)`` row and no file."""
    grid = LatLngGrid(10, 544)  # 2x2 windows of 272 px
    pipe = make_pipe(tmp_path, grid)
    pipe.reader = ProbeReader(xres=grid.xres, yres=grid.yres,
                              empty_west_of=0.0)
    files = [{"uri": "m://a", "band": 1,
              "left": -10.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    rows = pipe.run(spark, files, subset=["10N_000E", "10N_010W"]).collect()
    assert sorted(r.tile_id for r in rows) == ["10N_000E", "10N_010W"]
    rows = {r.tile_id: r for r in rows}
    skipped = rows["10N_010W"]
    assert skipped.status == "skipped (has no data)"
    assert skipped.n_windows == 0 and skipped.out_path is None
    tif_dir = tmp_path / pipe.layer.prefix / "geotiff"
    assert not (tif_dir / "10N_010W.tif").exists()
    assert rows["10N_000E"].status == "processed"
    assert rows["10N_000E"].n_windows == 4


def test_failed_tile_counts_data_and_error_windows(spark, tmp_path):
    """F10 next to F8: one failing window, two empty ones and one data
    window fail the tile; ``n_windows`` counts the data and error windows
    only, and nothing is written."""
    grid = LatLngGrid(10, 544)
    pipe = make_pipe(tmp_path, grid)
    pipe.reader = ProbeReader(xres=grid.xres, yres=grid.yres,
                              empty_west_of=-5.0, fail_at=(-5.0, 10.0))
    files = [{"uri": "m://a", "band": 1,
              "left": -10.0, "bottom": 0.0, "right": 0.0, "top": 10.0}]
    [row] = pipe.run(spark, files, subset=["10N_010W"]).collect()
    assert row.status.startswith("failed - OSError: synthetic read failure")
    assert row.n_windows == 2 and row.out_path is None
    assert not (tmp_path / pipe.layer.prefix / "geotiff").exists()


def test_each_window_read_once_and_one_writer(spark, tmp_path):
    """The status frame is one linear plan: the reader runs once per
    planned window, and the executed plan holds a single tile job with
    no exchange under it."""
    grid = LatLngGrid(10, 544)
    spans = tmp_path / "spans"
    spans.mkdir()
    pipe = make_pipe(tmp_path, grid)
    pipe.reader = ProbeReader(xres=grid.xres, yres=grid.yres,
                              empty_west_of=0.0, span_dir=str(spans))
    files = [{"uri": "m://a", "band": 1,
              "left": -10.0, "bottom": -10.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files)
    rows = status.collect()
    assert len(rows) == 4  # 2 processed + 2 skipped tiles, 4 windows each
    calls = sum(len(f.read_text().splitlines()) for f in spans.iterdir())
    assert calls == 16
    plan = status._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_window_kernel_is_the_first_python_stage(spark, tmp_path):
    """The tile plan is a local relation built on the driver: the
    executed plan of a non-empty layer holds exactly one Python node,
    the fused tile job that runs the window kernel inside the tile
    writer, over a ``LocalTableScan`` and no RDD scan."""
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, existing_tile_ids=["10N_170E"])
    assert len(status.collect()) == 2
    plan = status._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*(?:Python|InPandas|InArrow)\w*", plan) == [
        "MapInPandas"]
    assert re.match(r"MapInPandas tile_job\(.*\n\+- LocalTableScan ", plan)
    assert "Scan ExistingRDD" not in plan


def _planned_windows(spark, pipe, files, existing_tile_ids=None):
    """The windows ``RasterPipe.run`` plans, for driving the payload path
    (``transform_windows`` -> ``write_tiles``) over the same input."""
    from pyspark.sql import functions as F

    tiles = rp.seed_tiles(spark, pipe.grid_obj)
    if existing_tile_ids:
        tiles = tiles.filter(~F.col("tile_id").isin(existing_tile_ids))
    windows = rp.plan_windows(
        rp.tile_files(tiles, rp.file_catalog(spark, files)), pipe.grid_obj)
    # reverse window order, so a writer that kept arrival order would
    # see the bottom-right window of each tile first
    return windows.orderBy(F.desc("row_off"), F.desc("col_off"))


@dataclass
class TwoFailReader(SyntheticReader):
    """Fails the top-left and the bottom-right 5-degree window of tile
    10N_010W with different messages."""

    def __call__(self, uris, bounds, shape, band_count):
        left, _, _, top = bounds
        if np.allclose((left, top), (-10.0, 10.0)):
            raise IOError("top-left window")
        if np.allclose((left, top), (-5.0, 5.0)):
            raise ValueError("bottom-right window")
        return super().__call__(uris, bounds, shape, band_count)


def test_failed_tile_reports_first_window_in_order(spark, tmp_path):
    """F10 names the failing window that comes first in (row_off,
    col_off) order: on the fused path over the driver's tile plan and
    over a Spark-planned tile frame, and on the payload path whatever
    order the windows arrive in."""
    grid = LatLngGrid(10, 544)  # 2x2 windows of 272 px = 5 degrees
    pipe = make_pipe(tmp_path, grid)
    pipe.reader = TwoFailReader(xres=grid.xres, yres=grid.yres)
    files = [{"uri": "m://a", "band": 1,
              "left": -10.0, "bottom": 0.0, "right": 0.0, "top": 10.0}]
    want = "failed - OSError: top-left window"
    [row] = pipe.run(spark, files).collect()
    assert (row.status, row.n_windows) == (want, 4)
    catalog = rp.file_catalog(spark, files)
    [row] = pipe.tile_jobs(rp.tile_files(
        rp.seed_tiles(spark, grid), catalog)).collect()
    assert (row.status, row.n_windows) == (want, 4)
    windows = _planned_windows(spark, pipe, files)
    [row] = pipe.write_tiles(pipe.transform_windows(windows)).collect()
    assert (row.status, row.n_windows) == (want, 4)


def test_fused_and_payload_paths_are_byte_identical(spark, tmp_path):
    """``pipe.run`` (the fused tile job) and the payload path
    ``write_tiles(transform_windows(windows))`` agree bit for bit on a
    layer with processed, skipped, failed and existing tiles: every COG,
    every .aux.xml sidecar and every status row."""
    grid = LatLngGrid(10, 544)
    files = [{"uri": "m://a", "band": 1,
              "left": -20.0, "bottom": 0.0, "right": 20.0, "top": 10.0}]
    existing = ["10N_010E"]
    out = {}
    for path in ("fused", "payload"):
        pipe = make_pipe(tmp_path / path, grid, compute_stats=True,
                         compute_histogram=True)
        # 10N_020W reads only masked pixels (skipped) and 10N_010W fails
        # one window
        pipe.reader = ProbeReader(xres=grid.xres, yres=grid.yres,
                                  empty_west_of=-10.0,
                                  fail_at=(-5.0, 5.0))
        if path == "fused":
            status = pipe.run(spark, files, existing_tile_ids=existing)
        else:
            status = pipe.write_tiles(pipe.transform_windows(
                _planned_windows(spark, pipe, files,
                                 existing_tile_ids=existing)))
        rows = sorted(
            (r.tile_id, r.status, r.n_windows,
             r.out_path and os.path.relpath(r.out_path, tmp_path / path))
            for r in status.collect())
        files_out = {
            os.path.relpath(os.path.join(d, f), tmp_path / path):
                open(os.path.join(d, f), "rb").read()
            for d, _, names in os.walk(tmp_path / path) for f in names
        }
        out[path] = rows, files_out
    rows, written = out["fused"]
    assert [r[:2] for r in rows] == [
        ("10N_000E", "processed"),
        ("10N_010W", "failed - OSError: synthetic read failure"),
        ("10N_020W", "skipped (has no data)"),
    ]
    assert sorted(os.path.basename(p) for p in written) == [
        "10N_000E.tif", "10N_000E.tif.aux.xml"]
    assert out["payload"] == out["fused"]
