"""Grid math vs the reference's own test vectors
(gfw_pixetl tests/test_grids.py)."""

from __future__ import annotations

import pytest

from gfw_pixetl_spark.grids import (
    GRID_NAMES, BoundingBox, LatLngGrid, WebMercatorGrid, grid_factory,
)


def test_grid_factory_vectors():
    # reference tests/test_grids.py:10-60
    for name, width, cols, block in [
        ("3/33600", 3, 33600, 480),
        ("10/40000", 10, 40000, 400),
        ("8/32000", 8, 32000, 400),
        ("90/27008", 90, 27008, 128),
        ("90/9984", 90, 9984, 416),
    ]:
        g = grid_factory(name)
        assert isinstance(g, LatLngGrid)
        assert g.width == width and g.height == width
        assert g.cols == cols and g.rows == cols
        assert g.blockxsize == block and g.blockysize == block
        assert g.crs == "EPSG:4326"


def test_tile_ids_10_40000():
    # reference tests/test_grids.py:63-83
    g = grid_factory("10/40000")
    assert g.xy_to_tile_id(0, 0) == "00N_000E"
    assert g.xy_to_tile_id(1, 1) == "10N_000E"
    assert g.xy_to_tile_id(-1, -1) == "00N_010W"
    assert g.xy_to_tile_id(90, 90) == "90N_090E"
    with pytest.raises(ValueError):
        g.xy_to_tile_id(-90, -90)


def test_tile_ids_8_32000_offset_grid():
    # reference tests/test_grids.py:85-113 — offset grid straddles 0/0
    g = grid_factory("8/32000")
    assert g.xy_to_tile_id(0, 0) == "04N_004W"
    assert g.xy_to_tile_id(1, 1) == "04N_004W"
    assert g.xy_to_tile_id(-1, -1) == "04N_004W"
    assert g.xy_to_tile_id(-5, 5) == "12N_012W"
    assert g.xy_to_tile_id(5, -5) == "04S_004E"
    with pytest.raises(ValueError):
        g.xy_to_tile_id(90, 90)
    with pytest.raises(ValueError):
        g.xy_to_tile_id(-90, -90)


def test_wm_grid_tile_counts():
    # reference tests/test_grids.py:116-130
    for name, n in [("zoom_1", 1), ("zoom_10", 16), ("zoom_14", 4096)]:
        g = grid_factory(name)
        assert isinstance(g, WebMercatorGrid)
        assert len(g.get_tile_ids()) == n == g.nb_tiles
    with pytest.raises(ValueError):
        grid_factory("zoom_30")


def test_wm_grid_bounds_partition_world():
    g = grid_factory("zoom_10")
    ids = sorted(g.get_tile_ids())
    assert ids[0] == "000R_000C" and ids[-1] == "003R_003C"
    b0 = g.get_tile_bounds("000R_000C")
    b_last = g.get_tile_bounds("003R_003C")
    # top-left tile starts at world top-left
    assert abs(b0.left - g.bounds.left) < 1e-6
    assert abs(b0.top - g.bounds.top) < 1e-6
    assert abs(b_last.right - g.bounds.right) < 1e-6
    assert abs(b_last.bottom - g.bounds.bottom) < 1e-6
    # adjacent tiles share edges exactly
    b1 = g.get_tile_bounds("000R_001C")
    assert b0.right == b1.left


def test_latlng_world_tile_count():
    g = grid_factory("10/40000")
    ids = g.get_tile_ids()
    assert len(ids) == 36 * 18  # 648 world tiles (SURVEY §6)
    bb = g.get_tile_bounds("10N_010E")
    assert (bb.left, bb.bottom, bb.right, bb.top) == (10.0, 0.0, 20.0, 10.0)


def test_snap_coordinates_top_left_bias():
    g = grid_factory("10/40000")
    top, left = g.snap_coordinates(0.1001, 9.8999)
    assert top >= 0.1001 and top - 0.1001 <= g.yres
    assert left <= 9.8999 and 9.8999 - left <= g.xres


def test_bbox_intersects_not_touches():
    from gfw_pixetl_spark.grids import BoundingBox

    a = BoundingBox(0, 0, 10, 10)
    assert a.intersects(BoundingBox(5, 5, 15, 15))
    assert not a.intersects(BoundingBox(10, 0, 20, 10))  # edge touch only
    assert not a.intersects(BoundingBox(20, 20, 30, 30))
    assert a.intersection(BoundingBox(5, 5, 15, 15)) == BoundingBox(5, 5, 10, 10)
    assert a.intersection(BoundingBox(10, 0, 20, 10)) is None


# every catalog grid up to zoom_16's 65,536 tiles (brute force
# enumerates the grid)
@pytest.mark.parametrize("name", GRID_NAMES[:GRID_NAMES.index("zoom_16") + 1])
def test_overlapping_tile_ids_matches_brute_force(name):
    """``overlapping_tile_ids`` returns exactly the tiles whose bounds
    strictly overlap the footprint (``BoundingBox.intersects``), top-left
    first: random boxes, boxes on tile edges, zero-width boxes and boxes
    past the grid's bounds."""
    import random

    g = grid_factory(name)
    bounds = {t: g.get_tile_bounds(t) for t in g.get_tile_ids()}
    b = g.bounds
    w, h = b.right - b.left, b.top - b.bottom
    rng = random.Random(GRID_NAMES.index(name))
    boxes = []
    for _ in range(40):
        x0 = rng.uniform(b.left - 0.1 * w, b.right)
        y0 = rng.uniform(b.bottom - 0.1 * h, b.top)
        boxes.append(BoundingBox(x0, y0, x0 + rng.uniform(0, 0.3) * w,
                                 y0 + rng.uniform(0, 0.3) * h))
    for t in rng.sample(sorted(bounds.values(), key=repr),
                        min(10, len(bounds))):
        boxes += [t, BoundingBox(t.left, t.bottom, t.left, t.top),
                  BoundingBox(t.right, t.bottom, t.right + 0.1 * w, t.top)]
    boxes.append(BoundingBox(b.left - w, b.bottom - h, b.right + w,
                             b.top + h))
    for box in boxes:
        got = g.overlapping_tile_ids(box)
        want = {t for t, tb in bounds.items() if tb.intersects(box)}
        assert set(got) == want and len(got) == len(want), box
        tops = [bounds[t].top for t in got]
        assert tops == sorted(tops, reverse=True)
