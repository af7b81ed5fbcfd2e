"""The driver-side tile plan (``raster_pipe.plan_tiles``) against the
Spark-planned tile frame it replaces in ``RasterPipe.run``
(``tile_files(select_tiles(seed_tiles(...)))``), and the in-task window
layout against ``plan_windows``: same tiles, same bounds to the bit,
same ``uris`` order, same windows in the same order."""

from __future__ import annotations

import ast
import random

import pytest
from pyspark.sql import functions as F

from gfw_pixetl_spark.grids import (
    GRID_NAMES, BoundingBox, LatLngGrid, grid_factory,
)
from gfw_pixetl_spark.plans import raster_pipe as rp
from tests.test_raster_pipe import ProbeReader, make_pipe

LATLNG_GRIDS = [n for n in GRID_NAMES
                if isinstance(grid_factory(n), LatLngGrid)]
PLAN_GRIDS = LATLNG_GRIDS + ["zoom_0", "zoom_8", "zoom_12"]


def _file(uri, box, band=1) -> dict:
    left, bottom, right, top = box
    return {"uri": uri, "band": band, "left": left, "bottom": bottom,
            "right": right, "top": top}


def seeded_files(grid, seed: int) -> list[dict]:
    """Footprints that exercise every edge of the overlap predicate:
    random boxes, boxes exactly on tile edges and touching a neighbour
    only along an edge, boxes at and past the antimeridian and the
    poles, a duplicated file and a multi-band pair listed band 2 first
    and out of uri order."""
    rng = random.Random(seed)
    b = grid.bounds
    w, h = b.right - b.left, b.top - b.bottom

    def rand_box(frac):
        x0 = rng.uniform(b.left - 0.05 * w, b.right)
        y0 = rng.uniform(b.bottom - 0.05 * h, b.top)
        return (x0, y0, x0 + rng.uniform(0, frac) * w,
                y0 + rng.uniform(0, frac) * h)

    files = [_file(f"s3://r/rand_{i}.tif", rand_box(0.2)) for i in range(6)]
    # one tile's exact bounds, and a box that only touches it
    probe = rand_box(0.0)
    tid = grid.overlapping_tile_ids(BoundingBox(*probe))
    if tid:
        t = grid.get_tile_bounds(tid[0])
        files.append(_file("s3://r/exact.tif",
                           (t.left, t.bottom, t.right, t.top)))
        files.append(_file("s3://r/touch_e.tif",
                           (t.right, t.bottom, t.right + 0.1 * w, t.top)))
        files.append(_file("s3://r/touch_n.tif",
                           (t.left, t.top, t.right, t.top + 0.1 * h)))
    files += [
        _file("s3://r/anti_w.tif", (b.left, -0.1 * h, b.left + 0.02 * w,
                                    0.1 * h)),
        _file("s3://r/anti_e.tif", (b.right - 0.02 * w, 0.0, b.right,
                                    0.05 * h)),
        _file("s3://r/past_e.tif", (b.right - 0.01 * w, -0.02 * h,
                                    b.right + 0.03 * w, 0.02 * h)),
        _file("s3://r/pole_n.tif", (-0.1 * w, b.top - 0.03 * h, 0.1 * w,
                                    b.top)),
        _file("s3://r/pole_s.tif", (0.0, b.bottom - 0.01 * h, 0.05 * w,
                                    b.bottom + 0.02 * h)),
    ]
    files.append(dict(files[0]))                       # duplicate file
    # inside every grid's covered extent (offset grids leave the poles)
    cx = b.left + w * rng.uniform(0.3, 0.6)
    cy = b.bottom + h * rng.uniform(0.3, 0.6)
    mb = (cx, cy, cx + 0.1 * w, cy + 0.1 * h)
    files.append(_file("s3://r/mb_a.tif", mb, band=2))
    files.append(_file("s3://r/mb_z.tif", mb, band=1))
    files.append(_file("s3://r/mb_b.tif", mb, band=2))
    rng.shuffle(files)
    return files


def _rows(df) -> list[tuple]:
    return sorted(
        (r.tile_id, r.tile_left, r.tile_bottom, r.tile_right, r.tile_top,
         list(r.uris)) for r in df.collect())


@pytest.mark.parametrize("name", PLAN_GRIDS)
def test_plan_tiles_equals_spark_planned_frame(spark, name):
    grid = grid_factory(name)
    files = seeded_files(grid, seed=PLAN_GRIDS.index(name))
    catalog = rp.file_catalog(spark, files)
    want = _rows(rp.tile_files(rp.seed_tiles(spark, grid), catalog))
    got = _rows(rp.plan_tiles(spark, grid, files))
    assert got == want
    assert want  # the footprints reach the grid
    # a multi-band tile lists band 1 first, then band 2 by uri
    mb = [r[5] for r in got if "s3://r/mb_z.tif" in r[5]]
    assert mb and all(
        [u for u in uris if "/mb_" in u]
        == ["s3://r/mb_z.tif", "s3://r/mb_a.tif", "s3://r/mb_b.tif"]
        for uris in mb)


@pytest.mark.parametrize("name", ["10/40000", "8/32000", "zoom_12"])
def test_plan_tiles_subset_and_existing(spark, name):
    """F2 and F5 on the driver keep exactly the rows that ``select_tiles``
    and an anti-join on the existing ids keep on the Spark-planned
    frame."""
    grid = grid_factory(name)
    files = seeded_files(grid, seed=7)
    ids = [r[0] for r in _rows(rp.plan_tiles(spark, grid, files))]
    subset = ids[::2] + ["not_a_tile"]
    existing = ids[::3]
    catalog = rp.file_catalog(spark, files)
    frame = spark.createDataFrame([(t,) for t in existing], "tile_id string")
    tiles = rp.select_tiles(rp.seed_tiles(spark, grid), subset)
    want = _rows(rp.tile_files(
        tiles.join(frame, "tile_id", "left_anti"), catalog))
    got = _rows(rp.plan_tiles(spark, grid, files, subset, existing))
    assert got == want
    assert {r[0] for r in got} == set(ids[::2]) - set(existing)


def test_plan_tiles_without_files_is_empty(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    plan = rp.plan_tiles(spark, grid, [])
    assert plan.collect() == []
    assert make_pipe(tmp_path, grid).tile_jobs(plan).collect() == []


@pytest.mark.parametrize("name", PLAN_GRIDS)
@pytest.mark.parametrize("blocks_per_window", [1, 3])
def test_window_layout_equals_plan_windows(spark, name, blocks_per_window):
    """The windows a tile job enumerates for each tile are
    ``plan_windows``' rows for that tile, in ``(row_off, col_off)``
    order, clipped windows at the tile edge included."""
    grid = grid_factory(name)
    tid = sorted(grid.overlapping_tile_ids(BoundingBox(0.0, 0.0, 1.0, 1.0)))[0]
    tile = rp.plan_tiles(spark, grid, [_file("u", (0.0, 0.0, 1.0, 1.0))],
                         subset=[tid])
    rows = (rp.plan_windows(tile, grid, blocks_per_window)
            .orderBy("row_off", "col_off")
            .select("row_off", "col_off", "height", "width").collect())
    assert rp.window_layout(grid, blocks_per_window) == [
        tuple(r) for r in rows]


def test_tile_job_reads_the_planned_windows_in_order(spark, tmp_path):
    """End to end: the reader sees each tile's ``plan_windows`` windows
    once, in ``(row_off, col_off)`` order, edge windows clipped."""
    grid = LatLngGrid(10, 1200)      # 400-px blocks, 800-px windows
    spans = tmp_path / "spans"
    spans.mkdir()
    pipe = make_pipe(tmp_path, grid)
    pipe.blocks_per_window = 2
    pipe.reader = ProbeReader(xres=grid.xres, yres=grid.yres,
                              span_dir=str(spans))
    files = [_file("m://a", (-10.0, 0.0, 10.0, 10.0))]
    assert {r.status for r in pipe.run(spark, files).collect()} == {
        "processed"}
    windows = rp.plan_windows(rp.plan_tiles(spark, grid, files), grid, 2)
    want = {}
    for r in windows.orderBy("tile_id", "row_off", "col_off").collect():
        left = r.tile_left + r.col_off * grid.xres
        top = r.tile_top - r.row_off * grid.yres
        want.setdefault(r.tile_id, []).append(
            (left, top - r.height * grid.yres, left + r.width * grid.xres,
             top))
    calls = [ast.literal_eval(line) for f in sorted(spans.iterdir())
             for line in f.read_text().splitlines()]
    assert sorted(calls) == sorted(b for v in want.values() for b in v)
    assert len(calls) == 2 * 4
    # each worker's calls hold every tile's windows in window order
    for f in spans.iterdir():
        seen = [ast.literal_eval(line) for line in f.read_text().splitlines()]
        for tile_windows in want.values():
            mine = [b for b in seen if b in tile_windows]
            assert mine == [b for b in tile_windows if b in mine]


def test_tiles_land_in_distinct_partitions(spark, tmp_path):
    """Up to defaultParallelism tiles, each tile runs in its own task:
    the local relation splits one row per partition."""
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    n = spark.sparkContext.defaultParallelism
    for k in sorted({1, 3, n}):
        files = [_file(f"m://{i}", (10.0 * i, 0.0, 10.0 * i + 10.0, 10.0))
                 for i in range(k)]
        rows = pipe.run(spark, files).select(
            "tile_id", F.spark_partition_id().alias("part")).collect()
        assert len(rows) == k
        assert len({r.part for r in rows}) == k


def test_plan_without_existing_has_no_exchange(spark, tmp_path):
    """Whatever the subset and existing ids, the executed status plan is
    the local tile relation under the tile job: no exchange, no join."""
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [_file("m://a", (-10.0, -10.0, 10.0, 10.0))]
    for kwargs in ({}, {"subset": ["10N_000E", "00N_010W"]},
                   {"existing_tile_ids": ["10N_000E"]}):
        status = pipe.run(spark, files, **kwargs)
        status.collect()
        plan = status._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan, kwargs
        assert plan.startswith("MapInPandas tile_job("), plan
    rows = pipe.run(spark, files, existing_tile_ids=["10N_000E"]).collect()
    assert sorted(r.tile_id for r in rows) == [
        "00N_000E", "00N_010W", "10N_010W"]


def test_plan_tiles_scales_with_overlaps_not_grid(spark):
    """A footprint on the 1-degree grid (64,800 tiles) plans its few
    tiles without enumerating the grid."""
    grid = grid_factory("1/4000")
    calls = []
    real = grid.get_tile_bounds
    grid.get_tile_bounds = lambda t: calls.append(t) or real(t)
    rows = rp.plan_tiles(spark, grid, [_file("u", (0.5, 0.5, 2.5, 1.5))])
    assert sorted(r.tile_id for r in rows.collect()) == [
        "01N_000E", "01N_001E", "01N_002E", "02N_000E", "02N_001E",
        "02N_002E"]
    assert len(calls) == 6
