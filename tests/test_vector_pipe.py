"""Rasterize kernel + vector pipeline tests — the engine twin of the
reference's vector path tests (gfw_pixetl tests/test_vector_src_tile.py /
test_vector_pipe.py): pixel-center coverage, ordered last-wins paint,
count mode, per-tile status accounting."""

from __future__ import annotations

import numpy as np

from gfw_pixetl_spark.functions.rasterize_kernel import polygon_mask, rasterize
from gfw_pixetl_spark.grids import LatLngGrid
from gfw_pixetl_spark.models import LayerModel
from gfw_pixetl_spark.plans.vector_pipe import GEOM_TYPE, VectorPipe
from gfw_pixetl_spark.sources.geotiff import read_tile

# 4x4 px grid over (0..4, 0..4), origin top-left at (0, 4), 1-unit pixels
T = (0.0, 4.0, 1.0, 1.0)


def sq(x0, y0, x1, y1):
    return [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]


def test_polygon_mask_pixel_centers():
    # square [0.5, 2.5)x[0.5, 2.5): centers 0.5/1.5 in, 2.5 out (half-open)
    mask = polygon_mask(sq(0.5, 0.5, 2.5, 2.5), T, (4, 4))
    expected = np.zeros((4, 4), dtype=bool)
    expected[2:4, 0:2] = True  # rows with centers y=1.5, 0.5
    np.testing.assert_array_equal(mask, expected)


def test_polygon_mask_full_cover():
    mask = polygon_mask(sq(0, 0, 4, 4), T, (4, 4))
    assert mask.all()


def test_polygon_mask_hole():
    outer = sq(0, 0, 4, 4)[0]
    hole = sq(1, 1, 3, 3)[0]
    mask = polygon_mask([outer, hole], T, (4, 4))
    assert mask.sum() == 16 - 4  # 2x2 center hole not burned
    assert not mask[1:3, 1:3].any()


def test_rasterize_last_wins_order():
    a = (1.0, sq(0, 0, 4, 4))
    b = (2.0, sq(0, 0, 2, 2))  # burns lower-left quadrant
    out_asc = rasterize([a, b], T, (4, 4), method="value")
    assert out_asc[3, 0] == 2.0  # b burned last (higher value wins, asc)
    assert out_asc[0, 3] == 1.0
    out_desc = rasterize([b, a], T, (4, 4), method="value")
    assert out_desc[3, 0] == 1.0  # a burned last


def test_rasterize_count_mode():
    feats = [(1.0, sq(0, 0, 4, 4)), (1.0, sq(0, 0, 2, 2))]
    out = rasterize(feats, T, (4, 4), method="count", dtype="int32")
    assert out[3, 0] == 2 and out[0, 3] == 1
    assert out.sum() == 16 + 4


def _vector_layer(**over):
    base = dict(
        dataset="veg", version="v1", source_type="vector",
        pixel_meaning="cls", data_type="uint8", grid="10/40000",
        no_data=0,
    )
    base.update(over)
    return LayerModel(**base)


def _features(spark):
    # two squares inside tile 10N_000E (0..10E, 0..10N); values 3 and 7;
    # the value-7 square overlaps the value-3 square's east half
    rows = [
        (1, 3.0, [[[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0], [0.0, 0.0]]]),
        (2, 7.0, [[[2.5, 0.0], [7.5, 0.0], [7.5, 5.0], [2.5, 5.0], [2.5, 0.0]]]),
    ]
    return spark.createDataFrame(
        rows, f"feature_id long, value double, geom {GEOM_TYPE}"
    )


def test_vector_pipe_value(spark, tmp_path):
    grid = LatLngGrid(10, 160)  # 160x160 px, 1/16-degree pixels
    pipe = VectorPipe(layer=_vector_layer(order="asc"),
                      work_dir=str(tmp_path), grid=grid)
    status = pipe.run(spark, _features(spark), subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    data = read_tile(rows[0].out_path)[0][0]
    assert data.shape == (160, 160)
    # pixel at lon 1, lat 1 -> col 16, row 144: only feature 3
    assert data[144, 16] == 3
    # overlap zone lon 4, lat 1 -> col 64: value-7 painted last (asc order)
    assert data[144, 64] == 7
    # value-7-only zone lon 6
    assert data[144, 96] == 7
    # outside both -> nodata 0
    assert data[16, 144] == 0


def test_vector_pipe_desc_order(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = VectorPipe(layer=_vector_layer(order="desc"),
                      work_dir=str(tmp_path), grid=grid)
    status = pipe.run(spark, _features(spark), subset=["10N_000E"])
    rows = status.collect()
    data = read_tile(rows[0].out_path)[0][0]
    # desc: value 3 painted last -> wins the overlap
    assert data[144, 64] == 3
    assert data[144, 96] == 7


def test_vector_pipe_count(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = VectorPipe(
        layer=_vector_layer(rasterize_method="count", data_type="uint16"),
        work_dir=str(tmp_path), grid=grid,
    )
    status = pipe.run(spark, _features(spark), subset=["10N_000E"])
    rows = status.collect()
    data = read_tile(rows[0].out_path)[0][0]
    assert data[144, 16] == 1   # single cover
    assert data[144, 64] == 2   # overlap covered twice
    assert data[16, 144] == 0


def test_vector_pipe_multiwindow_assembly(spark, tmp_path):
    """544px tile -> 272px blocks -> 2x2 windows: the burn runs per
    window and the writer reassembles seamlessly (no seams, no double
    paint at window borders); result must equal the single-window burn."""
    from gfw_pixetl_spark.functions.rasterize_kernel import rasterize

    grid = LatLngGrid(10, 544)
    pipe = VectorPipe(layer=_vector_layer(order="asc"),
                      work_dir=str(tmp_path), grid=grid)
    status = pipe.run(spark, _features(spark), subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    # features span lon 0..7.5, lat 0..5 -> windows (1,0) and (1,1) only
    assert rows[0].n_windows == 2
    data = read_tile(rows[0].out_path)[0][0]
    feats = [
        (3.0, [[(0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0)]]),
        (7.0, [[(2.5, 0.0), (7.5, 0.0), (7.5, 5.0), (2.5, 5.0), (2.5, 0.0)]]),
    ]
    expected = rasterize(
        feats, (0.0, 10.0, grid.xres, grid.yres), (544, 544),
        method="value", fill=0, dtype="uint8",
    )
    np.testing.assert_array_equal(data, expected)


def test_vector_pipe_prunes_empty_tiles(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = VectorPipe(layer=_vector_layer(), work_dir=str(tmp_path), grid=grid)
    status = pipe.run(
        spark, _features(spark), subset=["10N_000E", "80N_170E"]
    )
    rows = status.collect()
    assert {r.tile_id for r in rows} == {"10N_000E"}  # F4: no features, no work


def test_keyed_merge_matches_sequential_burn():
    """Salted decomposition is exact: merging keyed partial burns over any
    feature partition equals the sequential last-wins burn."""
    import itertools

    from gfw_pixetl_spark.functions.rasterize_kernel import (
        merge_keyed, rasterize_keyed,
    )

    rng = np.random.default_rng(7)
    feats = []
    for fid in range(12):
        x0, y0 = rng.uniform(0, 3, 2)
        w, h = rng.uniform(0.5, 2, 2)
        feats.append((float(rng.integers(1, 5)), fid, sq(x0, y0, x0 + w, y0 + h)))
    for descending in (False, True):
        ordered = sorted(
            feats, key=lambda f: (-f[0] if descending else f[0], f[1])
        )
        expected = rasterize(
            [(v, g) for v, _, g in ordered], T, (4, 4),
            method="value", fill=0, dtype="uint8",
        )
        for n_salts in (2, 3, 5):
            shards = [
                [f for f in ordered if f[1] % n_salts == s]
                for s in range(n_salts)
            ]
            partials = [
                rasterize_keyed(shard, T, (4, 4), fill=0, dtype="uint8")
                for shard in shards if shard
            ]
            for perm in itertools.permutations(partials):
                merged = merge_keyed(
                    list(perm), (4, 4), fill=0, dtype="uint8",
                    descending=descending,
                )
                np.testing.assert_array_equal(merged, expected)


def test_vector_pipe_salted_matches_sequential(spark, tmp_path):
    """End-to-end: n_salts=3 produces byte-identical tiles to the
    sequential burn for value (asc/desc) and count modes, including a
    uint8 count that wraps past 255, and the same status text for a
    window that fails."""
    grid = LatLngGrid(10, 160)
    schema = f"feature_id long, value double, geom {GEOM_TYPE}"
    square = [[[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]]]
    # a hole ring with no vertices makes the burn of its window raise
    holed = spark.createDataFrame(
        [(3, 5.0, [square[0], []])], schema).unionByName(_features(spark))
    stacked = spark.createDataFrame(
        [(fid, 1.0, square) for fid in range(300)], schema)
    for over, feats in (
        (dict(order="asc"), _features(spark)),
        (dict(order="desc"), _features(spark)),
        (dict(rasterize_method="count", data_type="uint16"), _features(spark)),
        (dict(order="asc"), holed),
        (dict(rasterize_method="count"), stacked),
    ):
        seq = VectorPipe(layer=_vector_layer(**over),
                         work_dir=str(tmp_path / "seq"), grid=grid)
        sal = VectorPipe(layer=_vector_layer(**over),
                         work_dir=str(tmp_path / "sal"), grid=grid, n_salts=3)
        [r1] = seq.run(spark, feats, subset=["10N_000E"]).collect()
        [r2] = sal.run(spark, feats, subset=["10N_000E"]).collect()
        assert r1.status == r2.status
        if feats is holed:
            assert r1.status.startswith("failed - IndexError")
            continue
        assert r1.status == "processed"
        a, _ = read_tile(r1.out_path)
        b, _ = read_tile(r2.out_path)
        if feats is stacked:  # 300 covers wrap to 44 in uint8
            assert a[0, 128, 32] == 300 % 256
        np.testing.assert_array_equal(a, b)


def test_vector_pipe_salted_stress_many_features(spark, tmp_path):
    """300 overlapping features in one tile: salted (n_salts=8) output is
    byte-identical to sequential — the skew path at volume."""
    rng = np.random.default_rng(13)
    rows = []
    for fid in range(300):
        x0 = float(rng.uniform(0, 8))
        y0 = float(rng.uniform(0, 8))
        w = float(rng.uniform(0.5, 2))
        h = float(rng.uniform(0.5, 2))
        v = float(rng.integers(1, 50))
        rows.append((fid, v, [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                               [x0, y0 + h], [x0, y0]]]))
    feats = spark.createDataFrame(
        rows, f"feature_id long, value double, geom {GEOM_TYPE}"
    )
    grid = LatLngGrid(10, 160)
    outs = []
    for n_salts, sub in ((1, "seq"), (8, "sal")):
        pipe = VectorPipe(layer=_vector_layer(order="desc"),
                          work_dir=str(tmp_path / sub), grid=grid,
                          n_salts=n_salts)
        [r] = pipe.run(spark, feats, subset=["10N_000E"]).collect()
        assert r.status == "processed"
        data, _ = read_tile(r.out_path)
        outs.append(data)
    np.testing.assert_array_equal(outs[0], outs[1])
