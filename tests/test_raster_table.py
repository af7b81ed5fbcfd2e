"""Raster-as-table read path: SQL over real COG files
(sources/raster_table.py) — catalog pruning, windowed kernel reads,
nodata dropping, coordinate correctness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfw_pixetl_spark.sources.geotiff import write_cog
from gfw_pixetl_spark.sources.raster_table import raster_catalog, read_pixels


@pytest.fixture(scope="module")
def cogs(tmp_path_factory):
    d = tmp_path_factory.mktemp("rt")
    # file A: lon 0..4, lat 6..10, 80x80 px at 0.05 deg
    ii, jj = np.meshgrid(np.arange(80), np.arange(80), indexing="ij")
    a = ((ii * 3 + jj) % 11).astype("uint8")  # zeros ride as nodata
    pa = str(d / "a.tif")
    write_cog(pa, a[None], transform=(0.0, 0.05, 10.0, 0.05), nodata=0,
              blockxsize=32, overviews=False)
    # file B: lon 4..8, lat 6..10
    b = ((ii + jj * 2) % 7 + 1).astype("uint8")  # no zeros: fully valid
    pb = str(d / "b.tif")
    write_cog(pb, b[None], transform=(4.0, 0.05, 10.0, 0.05), nodata=0,
              blockxsize=32, overviews=False)
    return {"a": (pa, a), "b": (pb, b)}


def test_catalog(spark, cogs):
    cat = raster_catalog(spark, [cogs["a"][0], cogs["b"][0]])
    rows = {r.uri: r for r in cat.collect()}
    ra = rows[cogs["a"][0]]
    assert (ra.left, ra.bottom, ra.right, ra.top) == (0.0, 6.0, 4.0, 10.0)
    assert ra.bands == 1 and ra.width == 80


def test_full_read_matches_numpy(spark, cogs):
    cat = raster_catalog(spark, [cogs["a"][0]])
    px = read_pixels(cat, window=32)
    _, a = cogs["a"]
    got = {(r.row, r.col): r.value for r in px.collect()}
    exp = {(i, j): float(a[i, j])
           for i in range(80) for j in range(80) if a[i, j] != 0}
    assert got == exp


def test_coordinates_are_pixel_centers(spark, cogs):
    cat = raster_catalog(spark, [cogs["a"][0]])
    r = (read_pixels(cat, window=64)
         .filter((F.col("row") == 2) & (F.col("col") == 3)).collect())
    assert len(r) == 1
    assert abs(r[0].x - (0.0 + 3.5 * 0.05)) < 1e-12
    assert abs(r[0].y - (10.0 - 2.5 * 0.05)) < 1e-12


def test_bbox_prunes_files_and_pixels(spark, cogs):
    cat = raster_catalog(spark, [cogs["a"][0], cogs["b"][0]])
    # bbox entirely inside file B
    px = read_pixels(cat, bounds=(5.0, 7.0, 6.0, 8.0), window=32)
    rows = px.collect()
    assert {r.uri for r in rows} == {cogs["b"][0]}
    assert all(5.0 < r.x < 6.0 and 7.0 < r.y < 8.0 for r in rows)
    # 20x20 px window of fully-valid data
    assert len(rows) == 400


def test_zonal_stats_sql_over_rasters(spark, cogs):
    """The point of the table: plain SQL (zonal mean per integer-degree
    cell) over imagery."""
    cat = raster_catalog(spark, [cogs["a"][0], cogs["b"][0]])
    px = read_pixels(cat, window=64)
    zonal = (
        px.groupBy(
            F.floor("x").cast("int").alias("cell_x"),
            F.floor("y").cast("int").alias("cell_y"),
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    got = {(r.cell_x, r.cell_y): (r.n, r.s) for r in zonal}
    # numpy golden
    exp: dict = {}
    for key, (path, arr) in cogs.items():
        ox = 0.0 if key == "a" else 4.0
        for i in range(80):
            for j in range(80):
                v = arr[i, j]
                if v == 0:
                    continue
                cx = int(np.floor(ox + (j + 0.5) * 0.05))
                cy = int(np.floor(10.0 - (i + 0.5) * 0.05))
                n, s = exp.get((cx, cy), (0, 0.0))
                exp[(cx, cy)] = (n + 1, s + float(v))
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 1e-6


def test_focal_sum_matches_numpy(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import focal_sum_pixels

    pb, b = cogs["b"]  # fully valid raster
    cat = raster_catalog(spark, [pb])
    # window smaller than the image so halos cross window AND tile edges
    px = focal_sum_pixels(cat, window=32, parallelism=4)
    got = {(r.row, r.col): r.focal_sum for r in px.collect()}
    ref = b.astype("int64")
    assert len(got) == 78 * 78  # interior only
    for (r0, c0) in [(1, 1), (1, 78), (78, 1), (40, 40), (31, 32), (32, 31)]:
        assert got[(r0, c0)] == ref[r0 - 1:r0 + 2, c0 - 1:c0 + 2].sum()


def test_focal_sum_skips_masked_neighborhoods(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import focal_sum_pixels

    pa, a = cogs["a"]  # zeros are nodata
    cat = raster_catalog(spark, [pa])
    px = focal_sum_pixels(cat, window=48, parallelism=2)
    got = {(r.row, r.col): r.focal_sum for r in px.collect()}
    valid = a != 0
    import numpy as np

    for (r0, c0), v in list(got.items())[:50]:
        nb = a[r0 - 1:r0 + 2, c0 - 1:c0 + 2]
        assert valid[r0 - 1:r0 + 2, c0 - 1:c0 + 2].all()
        assert v == nb.astype("int64").sum()
    # a pixel with a nodata neighbor must be absent
    bad = np.argwhere(~valid)
    r0, c0 = bad[len(bad) // 2]
    if 0 < r0 < 79 and 0 < c0 < 79:
        assert (r0, c0) not in got


def test_horn_slope_matches_numpy(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import horn_slope_pixels

    pb, b = cogs["b"]
    cat = raster_catalog(spark, [pb])
    px = horn_slope_pixels(cat, window=32, parallelism=4)
    got = {(r.row, r.col): (r.dzdx, r.dzdy, r.slope_pct)
           for r in px.collect()}
    z = b.astype("float64")
    sx = sy = 0.05
    assert len(got) == 78 * 78
    for (r0, c0) in [(1, 1), (40, 40), (31, 32), (78, 78)]:
        n = z[r0 - 1:r0 + 2, c0 - 1:c0 + 2]
        dzdx = ((n[0, 2] + 2 * n[1, 2] + n[2, 2])
                - (n[0, 0] + 2 * n[1, 0] + n[2, 0])) / (8 * sx)
        dzdy = ((n[2, 0] + 2 * n[2, 1] + n[2, 2])
                - (n[0, 0] + 2 * n[0, 1] + n[0, 2])) / (8 * sy)
        gx, gy, gs = got[(r0, c0)]
        assert gx == dzdx and gy == dzdy
        assert gs == 100.0 * np.sqrt(dzdx * dzdx + dzdy * dzdy)


def test_terrain_indices_match_numpy(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import terrain_indices_pixels

    pb, b = cogs["b"]
    cat = raster_catalog(spark, [pb])
    got = {(r.row, r.col): r for r in
           terrain_indices_pixels(cat, window=32, parallelism=4).collect()}
    z = b.astype("int64")
    assert len(got) == 78 * 78
    for (r0, c0) in [(1, 1), (40, 40), (31, 32), (78, 78)]:
        nb = z[r0 - 1:r0 + 2, c0 - 1:c0 + 2]
        zc = z[r0, c0]
        r = got[(r0, c0)]
        assert r.tpi == zc - (nb.sum() - zc) / 8.0
        assert r.tri == np.sqrt(((nb - zc) ** 2).sum())
        assert r.roughness == nb.max() - nb.min()


def test_hillshade_matches_numpy(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import hillshade_pixels

    pb, b = cogs["b"]
    cat = raster_catalog(spark, [pb])
    got = {(r.row, r.col): r for r in
           hillshade_pixels(cat, window=32, parallelism=4).collect()}
    z = b.astype("float64")
    sx = sy = 0.05
    az, alt = np.radians(315.0), np.radians(45.0)
    assert len(got) == 78 * 78
    for (r0, c0) in [(1, 1), (40, 40), (31, 32)]:
        n = z[r0 - 1:r0 + 2, c0 - 1:c0 + 2]
        dzdx = ((n[0, 2] + 2 * n[1, 2] + n[2, 2])
                - (n[0, 0] + 2 * n[1, 0] + n[2, 0])) / (8 * sx)
        dzdy = ((n[2, 0] + 2 * n[2, 1] + n[2, 2])
                - (n[0, 0] + 2 * n[0, 1] + n[0, 2])) / (8 * sy)
        slope = np.arctan(np.hypot(dzdx, dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = np.clip((np.sin(alt) * np.cos(slope)
                         + np.cos(alt) * np.sin(slope)
                         * np.cos(az - np.pi / 2 - aspect)) * 255, 0, 255)
        r = got[(r0, c0)]
        assert abs(r.hillshade - shade) < 1e-9
        want_asp = np.degrees(np.arctan2(-dzdx, dzdy))
        if want_asp < 0:
            want_asp += 360.0
        if dzdx == 0 and dzdy == 0:
            assert np.isnan(r.aspect)
        else:
            assert abs(r.aspect - want_asp) < 1e-9


def test_materialize_pixels_round_trip(spark, cogs, tmp_path):
    """SQL over pixels -> COG store -> read back == the SQL result
    (CREATE TABLE AS SELECT for rasters)."""
    from gfw_pixetl_spark.sources.geotiff import GeoTiff
    from gfw_pixetl_spark.sources.raster_table import materialize_pixels

    pb, b = cogs["b"]  # 80x80, fully valid, transform (4.0,0.05,10.0,0.05)
    cat = raster_catalog(spark, [pb])
    px = read_pixels(cat, window=32, parallelism=4)
    doubled = px.withColumn("value", F.col("value") * 2 + 1)
    out = str(tmp_path / "mat")
    res = materialize_pixels(
        doubled, out, transform=(4.0, 0.05, 10.0, 0.05),
        tile_size=40, dtype="int16", nodata=None, blockxsize=32,
    ).collect()
    assert len(res) == 4 and all(r.n_px == 40 * 40 for r in res)
    want = (b.astype("int64") * 2 + 1).astype("int16")
    for r in res:
        t = GeoTiff.open(r.uri)
        tr, tc = [int(x) for x in
                  r.uri.rsplit("tile_", 1)[1][:-4].split("_")]
        got = np.ma.getdata(t.read_window(0, 0, 40, 40))[0]
        np.testing.assert_array_equal(
            got, want[tr * 40:(tr + 1) * 40, tc * 40:(tc + 1) * 40])
        # georeferencing follows the tile offset
        assert t.transform == (4.0 + tc * 40 * 0.05, 0.05,
                               10.0 - tr * 40 * 0.05, 0.05)


def test_d8_flow_matches_numpy(spark, cogs):
    from gfw_pixetl_spark.sources.raster_table import (
        D8_NEIGHBORS, d8_flow_pixels)

    pb, b = cogs["b"]
    cat = raster_catalog(spark, [pb])
    got = {(r.row, r.col): r for r in
           d8_flow_pixels(cat, window=32, parallelism=4).collect()}
    z = b.astype("int64")
    assert len(got) == 78 * 78
    for (r0, c0) in [(1, 1), (40, 40), (31, 32), (78, 78), (2, 77)]:
        best_m, best_c = 0, 0
        for code, dr, dc, diag in D8_NEIGHBORS:
            d = z[r0, c0] - z[r0 + dr, c0 + dc]
            m = (d * d if diag else 2 * d * d) if d > 0 else 0
            if m > best_m:
                best_m, best_c = m, code
        r = got[(r0, c0)]
        assert (r.flow_dir, r.metric) == (best_c, best_m)


def test_d8_flat_raster_is_all_pits(spark, tmp_path):
    from gfw_pixetl_spark.sources.raster_table import d8_flow_pixels

    p = str(tmp_path / "flat.tif")
    write_cog(p, np.full((1, 40, 40), 5, dtype="uint8"),
              transform=(0.0, 0.1, 10.0, 0.1), blockxsize=32,
              overviews=False)
    rows = d8_flow_pixels(
        raster_catalog(spark, [p]), window=32, parallelism=2).collect()
    assert len(rows) == 38 * 38
    assert all(r.flow_dir == 0 and r.metric == 0 for r in rows)


def test_bbox_read_across_files_and_windows_matches_numpy(spark, cogs):
    """A bbox that straddles both files and cuts through 32-px windows
    returns exactly the NumPy slice of pixels whose centers lie strictly
    inside it, with nodata dropped."""
    bounds = (3.03, 7.02, 4.61, 9.37)
    cat = raster_catalog(spark, [cogs["a"][0], cogs["b"][0]])
    px = read_pixels(cat, bounds=bounds, window=32, parallelism=3)
    got = {(r.uri, r.row, r.col): (r.x, r.y, r.value) for r in px.collect()}
    ql, qb, qr, qt = bounds
    exp = {}
    for ox, (path, arr) in ((0.0, cogs["a"]), (4.0, cogs["b"])):
        xs = ox + (np.arange(80) + 0.5) * 0.05
        ys = 10.0 - (np.arange(80) + 0.5) * 0.05
        cols = np.flatnonzero((xs > ql) & (xs < qr))
        rows = np.flatnonzero((ys > qb) & (ys < qt))
        sub = arr[rows[0]:rows[-1] + 1, cols[0]:cols[-1] + 1]
        for i, j in zip(*np.nonzero(sub)):
            r, c = rows[0] + i, cols[0] + j
            exp[(path, r, c)] = (xs[c], ys[r], float(sub[i, j]))
    assert {k[0] for k in exp} == {cogs["a"][0], cogs["b"][0]}
    assert got == exp


def test_warp_windows_match_full_image_sample_grid(spark, cogs):
    """warp_pixels over 32-px destination windows equals sample_grid run
    once over the whole source, restricted to the pixels whose kernel
    support lies inside the source and whose taps are all valid."""
    from gfw_pixetl_spark.functions.warp import KERNELS, sample_grid
    from gfw_pixetl_spark.sources.raster_table import warp_pixels

    pa, a = cogs["a"]  # zeros are nodata
    scale, method = 1.5, "cubic"
    rad = KERNELS[method][1]
    px = warp_pixels(raster_catalog(spark, [pa]), scale=scale,
                     method=method, window=32, parallelism=4)
    got = {(r.row, r.col): r.value for r in px.collect()}
    assert all(r.band == 1 for r in px.select("band").distinct().collect())
    n = int(np.ceil(80 * scale))
    f = (np.arange(n) + 0.5) / scale - 0.5
    gfy, gfx = np.meshgrid(f, f, indexing="ij")
    res = sample_grid(np.ma.masked_equal(a, 0), gfx, gfy, method)
    i0 = np.floor(f).astype("int64")
    inside = (i0 - rad + 1 >= 0) & (i0 + rad <= 79)
    ok = ~np.ma.getmaskarray(res) & inside[:, None] & inside[None, :]
    exp = {(int(r), int(c)): float(np.ma.getdata(res)[r, c])
           for r, c in zip(*np.nonzero(ok))}
    assert n > 32 and len(exp) > 0
    assert got == exp
