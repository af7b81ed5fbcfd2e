"""Tile-engine operator harness queries (SURVEY §2 coverage: the spatial
prune/clip/merge family), expressed over the TPC-H-ish tables by deriving
deterministic rectangles from row values so a DuckDB oracle can replay the
exact same math.

Mapping:
  q41 — F1 (WM variant): WebMercator zoom-grid seeding
  q42 — G5: window union (min/max over block offsets)
  q43 — G4/S10: extent union (footprint bounds aggregation)
  q44 — F6/G1: per-file spatial pruning, intersects-and-not-touches
  q45 — F7: window-extent clip (interval intersection + empty drop)
  q46 — C3: cast + nodata fill (sentinel semantics)
  q47 — S5: VRT mosaic merge = first non-null by file order per cell
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grids import WebMercatorGrid
from . import load, register

# --------------------------------------------------------------------------
# q41 — WebMercator grid seeding (F1), zoom 10 -> 4x4 tiles. Bounds are
# exact closed-form mercator math; DuckDB replays the same constants.
# --------------------------------------------------------------------------
_WM = WebMercatorGrid(10)
_SIDE = int(_WM.nb_tiles ** 0.5)
_TW = (_WM.bounds.right - _WM.bounds.left) / _SIDE
_TH = (_WM.bounds.top - _WM.bounds.bottom) / _SIDE


@register(
    "q41_wm_seed_grid",
    oracle=f"""
    SELECT
      lpad(CAST(i // {_SIDE} AS VARCHAR), 3, '0') || 'R_' ||
        lpad(CAST(i % {_SIDE} AS VARCHAR), 3, '0') || 'C' AS tile_id,
      CAST({_WM.bounds.left!r} AS DOUBLE)
        + (i % {_SIDE}) * CAST({_TW!r} AS DOUBLE) AS tile_left,
      CAST({_WM.bounds.top!r} AS DOUBLE)
        - (i // {_SIDE} + 1) * CAST({_TH!r} AS DOUBLE) AS tile_bottom,
      CAST({_WM.bounds.left!r} AS DOUBLE)
        + (i % {_SIDE} + 1) * CAST({_TW!r} AS DOUBLE) AS tile_right,
      CAST({_WM.bounds.top!r} AS DOUBLE)
        - (i // {_SIDE}) * CAST({_TH!r} AS DOUBLE) AS tile_top
    FROM range({_SIDE * _SIDE}) t(i)
    """,
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.raster_pipe import seed_tiles

    return seed_tiles(spark, _WM)


# --------------------------------------------------------------------------
# q42 — window union (G5): merge a rectangle range of block windows into
# one window per tile = min/max over offsets
# (gfw_pixetl/tiles/raster_src_tile.py:491-502).
# --------------------------------------------------------------------------
@register(
    "q42_window_union",
    oracle="""
    SELECT l_orderkey AS tile_key,
           MIN(l_linenumber * 256) AS row_off,
           MIN((l_suppkey % 16) * 256) AS col_off,
           MAX(l_linenumber * 256 + 256) - MIN(l_linenumber * 256) AS height,
           MAX((l_suppkey % 16) * 256 + 256) - MIN((l_suppkey % 16) * 256) AS width
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("tile_key"),
        (F.col("l_linenumber") * 256).alias("r0"),
        ((F.col("l_suppkey") % 16) * 256).alias("c0"),
    )
    return li.groupBy("tile_key").agg(
        F.min("r0").alias("row_off"),
        F.min("c0").alias("col_off"),
        (F.max(F.col("r0") + 256) - F.min("r0")).alias("height"),
        (F.max(F.col("c0") + 256) - F.min("c0")).alias("width"),
    )


# --------------------------------------------------------------------------
# q43 — extent union (G4/S10): bounds union across footprints =
# min/min/max/max aggregation (gfw_pixetl/utils/geometry.py:41-48).
# --------------------------------------------------------------------------
@register(
    "q43_extent_union",
    oracle="""
    SELECT s_nationkey AS region_key,
           MIN(s_suppkey % 36 * 10 - 180) AS ext_left,
           MIN(s_suppkey % 18 * 10 - 90) AS ext_bottom,
           MAX(s_suppkey % 36 * 10 - 170) AS ext_right,
           MAX(s_suppkey % 18 * 10 - 80) AS ext_top,
           COUNT(*) AS n_tiles
    FROM supplier GROUP BY s_nationkey
    """,
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("region_key"),
        (F.col("s_suppkey") % 36 * 10 - 180).alias("left"),
        (F.col("s_suppkey") % 18 * 10 - 90).alias("bottom"),
        (F.col("s_suppkey") % 36 * 10 - 170).alias("right"),
        (F.col("s_suppkey") % 18 * 10 - 80).alias("top"),
    )
    return s.groupBy("region_key").agg(
        F.min("left").alias("ext_left"),
        F.min("bottom").alias("ext_bottom"),
        F.max("right").alias("ext_right"),
        F.max("top").alias("ext_top"),
        F.count("*").alias("n_tiles"),
    )


# --------------------------------------------------------------------------
# q44 — per-file spatial pruning (F6/G1): broadcast theta-join on strict
# interior overlap — intersects AND NOT touches
# (gfw_pixetl/tiles/raster_src_tile.py:49-96, 155-161). Tiles come from
# the 10-degree seed; "files" are rects derived from part rows.
# --------------------------------------------------------------------------
@register(
    "q44_file_pruning",
    oracle="""
    WITH tiles AS (
      SELECT CAST(-180 + (i % 36) * 10 AS DOUBLE) AS t_left,
             CAST(-80 + (i // 36) * 10 AS DOUBLE) AS t_bottom,
             CAST(-180 + (i % 36) * 10 + 10 AS DOUBLE) AS t_right,
             CAST(-80 + (i // 36) * 10 + 10 AS DOUBLE) AS t_top
      FROM range(648) t(i)
    ), files AS (
      SELECT p_partkey,
             CAST(p_partkey % 36 * 10 - 185 AS DOUBLE) AS f_left,
             CAST(p_partkey % 18 * 10 - 85 AS DOUBLE) AS f_bottom,
             CAST(p_partkey % 36 * 10 - 185 + 15 AS DOUBLE) AS f_right,
             CAST(p_partkey % 18 * 10 - 85 + 15 AS DOUBLE) AS f_top
      FROM part
    )
    SELECT t_left, t_bottom, COUNT(*) AS n_files
    FROM tiles JOIN files
      ON t_left < f_right AND t_right > f_left
     AND t_bottom < f_top AND t_top > f_bottom
    GROUP BY 1, 2
    """,
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = spark.range(648).select(
        (F.lit(-180) + (F.col("id") % 36) * 10).cast("double").alias("t_left"),
        (F.lit(-80) + (F.col("id") / 36).cast("long") * 10)
        .cast("double").alias("t_bottom"),
        (F.lit(-180) + (F.col("id") % 36) * 10 + 10)
        .cast("double").alias("t_right"),
        (F.lit(-80) + (F.col("id") / 36).cast("long") * 10 + 10)
        .cast("double").alias("t_top"),
    )
    files = load(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 36 * 10 - 185).cast("double").alias("f_left"),
        (F.col("p_partkey") % 18 * 10 - 85).cast("double").alias("f_bottom"),
        (F.col("p_partkey") % 36 * 10 - 185 + 15).cast("double").alias("f_right"),
        (F.col("p_partkey") % 18 * 10 - 85 + 15).cast("double").alias("f_top"),
    )
    overlap = (
        (F.col("t_left") < F.col("f_right"))
        & (F.col("t_right") > F.col("f_left"))
        & (F.col("t_bottom") < F.col("f_top"))
        & (F.col("t_top") > F.col("f_bottom"))
    )
    return (
        files.join(F.broadcast(tiles), overlap)
        .groupBy("t_left", "t_bottom")
        .agg(F.count("*").alias("n_files"))
    )


# --------------------------------------------------------------------------
# q45 — window-extent clip (F7): intersect candidate windows with the
# dst∩src extent; drop empty intersections
# (gfw_pixetl/tiles/raster_src_tile.py:118-153).
# --------------------------------------------------------------------------
@register(
    "q45_window_clip",
    oracle="""
    WITH wins AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 100 AS DOUBLE) AS w_left,
             CAST(o_orderkey % 80 AS DOUBLE) AS w_bottom,
             CAST(o_orderkey % 100 + 30 AS DOUBLE) AS w_right,
             CAST(o_orderkey % 80 + 30 AS DOUBLE) AS w_top
      FROM orders
    )
    SELECT o_orderkey,
           greatest(w_left, 50.0) AS c_left,
           greatest(w_bottom, 40.0) AS c_bottom,
           least(w_right, 90.0) AS c_right,
           least(w_top, 70.0) AS c_top
    FROM wins
    WHERE greatest(w_left, 50.0) < least(w_right, 90.0)
      AND greatest(w_bottom, 40.0) < least(w_top, 70.0)
    """,
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 100).cast("double").alias("w_left"),
        (F.col("o_orderkey") % 80).cast("double").alias("w_bottom"),
        (F.col("o_orderkey") % 100 + 30).cast("double").alias("w_right"),
        (F.col("o_orderkey") % 80 + 30).cast("double").alias("w_top"),
    )
    c_left = F.greatest(F.col("w_left"), F.lit(50.0))
    c_bottom = F.greatest(F.col("w_bottom"), F.lit(40.0))
    c_right = F.least(F.col("w_right"), F.lit(90.0))
    c_top = F.least(F.col("w_top"), F.lit(70.0))
    return (
        o.select(
            "o_orderkey",
            c_left.alias("c_left"), c_bottom.alias("c_bottom"),
            c_right.alias("c_right"), c_top.alias("c_top"),
        )
        .filter((F.col("c_left") < F.col("c_right"))
                & (F.col("c_bottom") < F.col("c_top")))
    )


# --------------------------------------------------------------------------
# q46 — cast + nodata fill (C3): masked -> sentinel, dtype cast
# (gfw_pixetl/tiles/utils/array_utils.py:12-41) in column form:
# NULL (mask) -> nodata sentinel, cast to uint8-range int.
# --------------------------------------------------------------------------
@register(
    "q46_cast_nodata",
    oracle="""
    SELECT e.event_id,
           CAST(coalesce(
             CASE WHEN e.value > 90 THEN NULL
                  ELSE CAST(trunc(e.value) AS INT) % 256 END,
             255) AS SMALLINT) AS px
    FROM events e
    """,
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    masked = F.when(F.col("value") > 90, F.lit(None)).otherwise(
        F.col("value").cast("int") % 256
    )
    return ev.select(
        "event_id",
        F.coalesce(masked, F.lit(255)).cast("smallint").alias("px"),
    )


# --------------------------------------------------------------------------
# q47 — VRT mosaic merge (S5): first non-null by file order per cell
# (gfw_pixetl/utils/gdal.py:31-49: gdalbuildvrt resolution order).
# Files = sources ranked by file_order; cell value = value of the
# lowest-order file covering it -> min_by over file order.
# --------------------------------------------------------------------------
@register(
    "q47_vrt_first_nonnull",
    oracle="""
    WITH ranked AS (
      SELECT l_partkey, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_partkey
               ORDER BY l_suppkey, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_partkey) AS n_sources
      FROM lineitem
    )
    SELECT l_partkey AS cell, l_extendedprice AS value, n_sources
    FROM ranked WHERE rn = 1
    """,
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    order = F.struct("l_suppkey", "l_orderkey", "l_linenumber")
    return li.groupBy(F.col("l_partkey").alias("cell")).agg(
        F.min_by("l_extendedprice", order).alias("value"),
        F.count("*").alias("n_sources"),
    )


# --------------------------------------------------------------------------
# q71/q72 — the flagship tile pipelines as harness entries, VALUE-CHECKED
# end-to-end: the job runs (seed -> prune -> kernel -> COG write), then a
# read-back kernel re-opens every written tile and emits per-tile valid-
# pixel counts and pixel sums, which the oracles replay analytically —
# q71 from the synthetic source formula through calc/mask/cast, q72 from
# pixel-center rectangle coverage with last-wins paint order. The 160-px
# test grid keeps the driver's repeat runs stable; array values are ALSO
# golden-tested in tests/test_raster_pipe.py / test_vector_pipe.py.
# --------------------------------------------------------------------------
_Q71_GRID_PX = 160  # 10-degree tiles at 160 px -> res 0.0625
# footprint deliberately NOT tile-aligned on the east edge (15 < 20) so
# partial-coverage tiles have position-dependent checksums
_Q71_FOOTPRINT = (-20.0, -20.0, 15.0, 20.0)


def _tile_value_summary(status_df: DataFrame) -> DataFrame:
    """Read every processed tile back through the COG codec and emit
    (tile_id, n_valid, px_sum) — the checksum columns the oracles check.
    One task per tile, reads ride the same pure-Python reader the rest
    of S4 uses."""
    import pandas as pd

    def kernel(batches):
        import numpy as np

        from ..sources.geotiff import read_tile

        for pdf in batches:
            out = {"tile_id": [], "n_valid": [], "px_sum": []}
            for tile_id, path in zip(pdf["tile_id"], pdf["out_path"]):
                arr, profile = read_tile(path)
                a = np.ma.getdata(np.asarray(arr))[0]
                nodata = profile.get("nodata")
                valid = (np.ones(a.shape, bool) if nodata is None
                         else a != np.asarray(nodata, dtype=a.dtype))
                out["tile_id"].append(tile_id)
                out["n_valid"].append(int(valid.sum()))
                out["px_sum"].append(
                    int(a[valid].astype("int64").sum()))
            yield pd.DataFrame(out)

    return status_df.filter(F.col("status") == "processed").select(
        "tile_id", "out_path"
    ).repartition(8, "tile_id").mapInPandas(
        kernel, "tile_id string, n_valid long, px_sum long")


def _q71_oracle() -> str:
    """Replays the raster job: global pixel grid from origin (-180, 90)
    at res 0.0625, source value (ii+jj)%16 masked at 0, calc A*2, only
    pixels inside the footprint exist (boundless read masks outside)."""
    from ..grids import LatLngGrid

    grid = LatLngGrid(10, _Q71_GRID_PX)
    left, bottom, right, top = _Q71_FOOTPRINT
    tiles = []
    lng = -180.0
    while lng < 180.0:
        lat = 90.0
        while lat > -90.0:
            if (lng < right and lng + 10 > left
                    and lat > bottom and lat - 10 < top):
                tid = grid.xy_to_tile_id(lng + 0.5, lat - 0.5)
                row0 = int(round((90.0 - lat) / grid.yres))
                col0 = int(round((lng + 180.0) / grid.xres))
                tiles.append(f"('{tid}', {row0}, {col0})")
            lat -= 10
        lng += 10
    c_lo = int(round((left + 180.0) / grid.xres))
    c_hi = int(round((right + 180.0) / grid.xres))
    r_lo = int(round((90.0 - top) / grid.yres))
    r_hi = int(round((90.0 - bottom) / grid.yres))
    return f"""
    WITH tiles(tile_id, row0, col0) AS (VALUES {', '.join(tiles)}),
    px AS (
      SELECT t.tile_id,
             (t.row0 + i.r + t.col0 + j.c) % 16 AS v
      FROM tiles t,
           generate_series(0, {_Q71_GRID_PX - 1}) i(r),
           generate_series(0, {_Q71_GRID_PX - 1}) j(c)
      WHERE t.col0 + j.c >= {c_lo} AND t.col0 + j.c < {c_hi}
        AND t.row0 + i.r >= {r_lo} AND t.row0 + i.r < {r_hi}
    )
    SELECT tile_id,
           CAST(SUM(CASE WHEN v != 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(SUM(2 * v) AS BIGINT) AS px_sum
    FROM px GROUP BY tile_id
    HAVING SUM(CASE WHEN v != 0 THEN 1 ELSE 0 END) > 0
    """


def _demo_cog(name: str, make, **write_kw) -> str:
    """Path of the demo COG ``name``, written by ``write_cog(path,
    make(), **write_kw)`` on first use. Files are cached by NAME under
    ``$TMPDIR/gfw_pixetl_spark_rt_demo``: after changing a generator,
    clear that directory or the stale file is read."""
    import os
    import tempfile

    from ..sources.geotiff import write_cog

    d = os.path.join(tempfile.gettempdir(), "gfw_pixetl_spark_rt_demo")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, name)
    if not os.path.exists(p):
        write_cog(p, make(), **write_kw)
    return p


def _ij(n: int):
    """Row and column index grids of an n x n raster."""
    import numpy as np

    return np.meshgrid(np.arange(n), np.arange(n), indexing="ij")


def _q71_source_file() -> str:
    """Real source COG over the (non-tile-aligned) footprint: values
    (ii+jj)%16 on the GLOBAL 0.0625-degree pixel lattice, nodata 0 —
    the production GeoTIFFReader masks both outside-footprint area and
    in-footprint nodata, so partial tiles carry position-dependent
    checksums."""
    import numpy as np

    left, bottom, right, top = _Q71_FOOTPRINT
    res = 10.0 / _Q71_GRID_PX

    def make():
        cols = int(round((right - left) / res))
        rows = int(round((top - bottom) / res))
        row0 = int(round((90.0 - top) / res))
        col0 = int(round((left + 180.0) / res))
        jj, ii = np.meshgrid(np.arange(col0, col0 + cols),
                             np.arange(row0, row0 + rows))
        return ((ii + jj) % 16).astype("uint8")[None]

    return _demo_cog("q71_source.tif", make,
                     transform=(left, res, top, res),
                     nodata=0, blockxsize=160, overviews=False)


def q71_statuses(spark: SparkSession) -> DataFrame:
    """The q71 raster tile job's per-tile status frame, unfiltered (q71
    itself keeps only the processed tiles)."""
    import tempfile

    from ..grids import LatLngGrid
    from ..models import LayerModel
    from ..plans.raster_pipe import RasterPipe
    from ..sources.raster import GeoTIFFReader

    grid = LatLngGrid(10, _Q71_GRID_PX)
    layer = LayerModel(
        dataset="harness_raster", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A*2", no_data=0, source_uri=["memory://synthetic"],
    )
    src = _q71_source_file()
    pipe = RasterPipe(
        layer=layer,
        reader=GeoTIFFReader(),
        work_dir=tempfile.mkdtemp(prefix="q71_"),
        grid=grid,
    )
    left, bottom, right, top = _Q71_FOOTPRINT
    files = [{"uri": src, "band": 1,
              "left": left, "bottom": bottom, "right": right, "top": top}]
    return pipe.run(spark, files)


@register("q71_raster_tile_job", oracle=None)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tile_value_summary(q71_statuses(spark))


_Q72_FEATURES = [
    # (feature_id, burn value, rectangle x0 y0 x1 y1)
    (1, 3, (1.0, 1.0, 15.0, 8.0)),
    (2, 7, (-5.0, -5.0, 6.0, 6.0)),
    (3, 5, (12.0, -12.0, 18.0, -2.0)),
]


def _q72_oracle() -> str:
    """Replays the burn: pixel-center-in-rectangle coverage; ORDER BY
    value asc means the largest covering value paints last and wins."""
    from ..grids import LatLngGrid

    grid = LatLngGrid(10, _Q71_GRID_PX)
    xmin = min(f[2][0] for f in _Q72_FEATURES)
    xmax = max(f[2][2] for f in _Q72_FEATURES)
    ymin = min(f[2][1] for f in _Q72_FEATURES)
    ymax = max(f[2][3] for f in _Q72_FEATURES)
    tiles = []
    lng = -180.0
    while lng < 180.0:
        lat = 90.0
        while lat > -90.0:
            if (lng < xmax and lng + 10 > xmin
                    and lat > ymin and lat - 10 < ymax):
                tid = grid.xy_to_tile_id(lng + 0.5, lat - 0.5)
                row0 = int(round((90.0 - lat) / grid.yres))
                col0 = int(round((lng + 180.0) / grid.xres))
                tiles.append(f"('{tid}', {row0}, {col0})")
            lat -= 10
        lng += 10
    feats = ", ".join(
        f"({v}, {x0}, {y0}, {x1}, {y1})"
        for _fid, v, (x0, y0, x1, y1) in _Q72_FEATURES)
    res = grid.xres
    return f"""
    WITH tiles(tile_id, row0, col0) AS (VALUES {', '.join(tiles)}),
    feats(v, x0, y0, x1, y1) AS (VALUES {feats}),
    px AS (
      SELECT t.tile_id,
             -180.0 + (t.col0 + j.c + 0.5) * {res} AS xc,
             90.0 - (t.row0 + i.r + 0.5) * {res} AS yc
      FROM tiles t,
           generate_series(0, {_Q71_GRID_PX - 1}) i(r),
           generate_series(0, {_Q71_GRID_PX - 1}) j(c)
    ), burned AS (
      SELECT p.tile_id, MAX(f.v) AS v
      FROM px p JOIN feats f
        ON p.xc > f.x0 AND p.xc < f.x1 AND p.yc > f.y0 AND p.yc < f.y1
      GROUP BY p.tile_id, p.xc, p.yc
    )
    SELECT tile_id,
           CAST(COUNT(*) AS BIGINT) AS n_valid,
           CAST(SUM(v) AS BIGINT) AS px_sum
    FROM burned GROUP BY tile_id
    """


@register("q72_vector_tile_job", oracle=None)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..grids import LatLngGrid
    from ..models import LayerModel
    from ..plans.vector_pipe import GEOM_TYPE, VectorPipe

    grid = LatLngGrid(10, _Q71_GRID_PX)
    layer = LayerModel(
        dataset="harness_vector", version="v1", source_type="vector",
        pixel_meaning="cls", data_type="uint8", grid="10/40000", no_data=0,
        order="asc",
    )
    rows = [
        (fid, float(v),
         [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]])
        for fid, v, (x0, y0, x1, y1) in _Q72_FEATURES
    ]
    features = spark.createDataFrame(
        rows, f"feature_id long, value double, geom {GEOM_TYPE}"
    )
    pipe = VectorPipe(
        layer=layer, work_dir=tempfile.mkdtemp(prefix="q72_"), grid=grid,
        n_salts=2,
    )
    return _tile_value_summary(pipe.run(spark, features))


from . import ORACLES as _TILE_ORC  # noqa: E402

_TILE_ORC["q71_raster_tile_job"] = _q71_oracle()
_TILE_ORC["q72_vector_tile_job"] = _q72_oracle()


# --------------------------------------------------------------------------
# q127 — zoom-pyramid rollup (the COG-overview / gdaladdo operation): each
# level L-1 pixel = mean of its 2x2 children at level L. Three levels in
# one pass each — groupBy (x//2, y//2) is a hash aggregate whose shuffle
# shrinks 4x per level, the natural raster pyramid dataflow. Values are
# decimal-summed so the division is exact on both engines.
# --------------------------------------------------------------------------
@register(
    "q127_zoom_pyramid",
    oracle="""
    WITH l2 AS (
      SELECT CAST(l_orderkey % 64 AS BIGINT) AS x,
             CAST(l_partkey % 64 AS BIGINT) AS y,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS v
      FROM lineitem GROUP BY 1, 2
    ), l1 AS (
      SELECT x // 2 AS x, y // 2 AS y,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS v
      FROM l2 GROUP BY 1, 2
    ), l0 AS (
      SELECT x // 2 AS x, y // 2 AS y,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS v
      FROM l1 GROUP BY 1, 2
    )
    SELECT 2 AS zoom, x, y, round(v, 6) AS v FROM l2
    UNION ALL SELECT 1, x, y, round(v, 6) FROM l1
    UNION ALL SELECT 0, x, y, round(v, 6) FROM l0
    """,
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    l2 = (
        li.groupBy(
            (F.col("l_orderkey") % 64).alias("x"),
            (F.col("l_partkey") % 64).alias("y"),
        )
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("v")
        )
    )

    def up(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                (F.col("x") / 2).cast("long").alias("x"),
                (F.col("y") / 2).cast("long").alias("y"),
            )
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                    / F.count("*")
                ).alias("v")
            )
        )

    l1 = up(l2)
    l0 = up(l1)
    lvl = lambda df, z: df.select(  # noqa: E731
        F.lit(z).alias("zoom"), "x", "y", F.round("v", 6).alias("v")
    )
    return lvl(l2, 2).unionByName(lvl(l1, 1)).unionByName(lvl(l0, 0))


# --------------------------------------------------------------------------
# q128 — tile version diff (the incremental-update primitive behind F5):
# full-outer join of two tile-set versions on tile_id, comparing content
# digests -> added / removed / changed / same. Both sides pre-reduce to
# one digest row per tile before the join.
# --------------------------------------------------------------------------
@register(
    "q128_tile_diff",
    oracle="""
    WITH v1 AS (
      SELECT l_orderkey % 500 AS tile_key,
             md5(string_agg(q, ',' ORDER BY l_linenumber, l_partkey, q)) AS digest
      FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                   CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS q
            FROM lineitem)
      WHERE l_orderkey % 7 <> 0
      GROUP BY 1
    ), v2 AS (
      SELECT l_orderkey % 500 AS tile_key,
             md5(string_agg(q, ',' ORDER BY l_linenumber, l_partkey, q)) AS digest
      FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                   CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS q
            FROM lineitem)
      WHERE l_orderkey % 5 <> 0
      GROUP BY 1
    )
    SELECT COALESCE(v1.tile_key, v2.tile_key) AS tile_key,
           CASE WHEN v1.tile_key IS NULL THEN 'added'
                WHEN v2.tile_key IS NULL THEN 'removed'
                WHEN v1.digest <> v2.digest THEN 'changed'
                ELSE 'same' END AS change
    FROM v1 FULL OUTER JOIN v2 ON v1.tile_key = v2.tile_key
    """,
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def version(pred) -> DataFrame:
        return (
            li.filter(pred)
            .select(
                (F.col("l_orderkey") % 500).alias("tile_key"),
                F.col("l_quantity").cast("decimal(18,2)").cast("string").alias("q"),
                "l_linenumber",
                "l_partkey",
            )
            .groupBy("tile_key")
            .agg(
                F.md5(
                    F.concat_ws(
                        ",",
                        F.array_sort(
                            F.collect_list(
                                F.struct("l_linenumber", "l_partkey", "q")
                            )
                        ).getField("q"),
                    )
                ).alias("digest")
            )
        )

    v1 = version(F.col("l_orderkey") % 7 != 0)
    v2 = version((F.col("l_orderkey") % 5) != 0)
    v1 = v1.select(F.col("tile_key").alias("k1"), F.col("digest").alias("d1"))
    v2 = v2.select(F.col("tile_key").alias("k2"), F.col("digest").alias("d2"))
    joined = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    return joined.select(
        F.coalesce("k1", "k2").alias("tile_key"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("d1") != F.col("d2"), "changed")
        .otherwise("same")
        .alias("change"),
    )


# --------------------------------------------------------------------------
# q152 — SQL over real COG files: write two deterministic GeoTIFFs with
# the pure-Python codec, read them back through the raster-table source
# (catalog prune -> windowed kernel -> long pixel DF), and zonal-
# aggregate per integer-degree cell. The oracle replays the pixel
# arithmetic analytically with generate_series — so the ENTIRE
# write->read->aggregate path over the real container format is value-
# checked by an engine that never touches the files.
# --------------------------------------------------------------------------
def _rt_demo_files() -> list[str]:
    ii, jj = _ij(80)
    kw = dict(nodata=0, blockxsize=32, overviews=False)
    return [
        _demo_cog("a.tif",
                  lambda: ((ii * 3 + jj) % 11).astype("uint8")[None],
                  transform=(0.0, 0.05, 10.0, 0.05), **kw),
        _demo_cog("b.tif",
                  lambda: ((ii + jj * 2) % 7 + 1).astype("uint8")[None],
                  transform=(4.0, 0.05, 10.0, 0.05), **kw),
    ]


@register(
    "q152_raster_sql_zonal",
    oracle="""
    WITH grid AS (
      SELECT i.i AS r, j.j AS c
      FROM generate_series(0, 79) i(i), generate_series(0, 79) j(j)
    ), a AS (
      SELECT 0.0 + (c + 0.5) * 0.05 AS x, 10.0 - (r + 0.5) * 0.05 AS y,
             (r * 3 + c) % 11 AS v
      FROM grid WHERE (r * 3 + c) % 11 != 0
    ), b AS (
      SELECT 4.0 + (c + 0.5) * 0.05 AS x, 10.0 - (r + 0.5) * 0.05 AS y,
             (r + c * 2) % 7 + 1 AS v
      FROM grid
    ), px AS (
      SELECT * FROM a UNION ALL SELECT * FROM b
    )
    SELECT CAST(floor(x) AS INTEGER) AS cell_x,
           CAST(floor(y) AS INTEGER) AS cell_y,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS DOUBLE) AS sum_value
    FROM px GROUP BY 1, 2
    """,
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, _rt_demo_files())
    px = read_pixels(cat, window=64, parallelism=8)
    return px.groupBy(
        F.floor("x").cast("int").alias("cell_x"),
        F.floor("y").cast("int").alias("cell_y"),
    ).agg(
        F.count("*").alias("n_pixels"),
        F.sum("value").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q169 — focal (3x3 neighborhood) raster stencil over a real COG with
# HALO READS: each window task re-reads a 1-pixel ring from the COG
# (tile-granular partial read) instead of shuffling edge pixels — the
# distributed-stencil shape (slope/hillshade/convolution) at 100 TB.
# The demo raster is analytic (v = (5r + 3c) mod 13, 96x96, 32-px COG
# tiles so halos cross tile boundaries); sums are integers, so the
# oracle replays the 9-term arithmetic exactly — no float rounding.
# --------------------------------------------------------------------------
def _focal_demo_file() -> str:
    def make():
        ii, jj = _ij(96)
        return ((ii * 5 + jj * 3) % 13).astype("uint8")[None]

    return _demo_cog("focal.tif", make, transform=(0.0, 0.05, 10.0, 0.05),
                     blockxsize=32, overviews=False)


_FOCAL_TERMS = " + ".join(
    f"((r + {di - 1}) * 5 + (c + {dj - 1}) * 3) % 13"
    for di in range(3) for dj in range(3)
)


@register(
    "q169_focal_stencil",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, {_FOCAL_TERMS} AS fsum
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(fsum) AS BIGINT) AS sum_focal,
           CAST(MAX(fsum) AS BIGINT) AS max_focal
    FROM px GROUP BY 1, 2
    """,
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import focal_sum_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = focal_sum_pixels(cat, window=48, parallelism=8)
    return px.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum("focal_sum").alias("sum_focal"),
        F.max("focal_sum").alias("max_focal"),
    )


# --------------------------------------------------------------------------
# q210 — interpolating warp (C4) through the cubic_spline kernel as a
# pixel table: a 64x64 analytic COG upsampled 2x. Destination pixel
# (r, c) has fractional source index f = (idx+0.5)/2 - 0.5, so the
# fraction is always 0.25 (odd idx) or 0.75 (even idx) and the 4 B-spline
# tap weights are the exact rationals (27,235,121,1)/384 resp. its
# mirror. value*384^2 is therefore an integer (recovered exactly by
# round(): float error ~1e-9 << 0.5), and the oracle replays the
# separable 16-tap weighted sum in pure INTEGER arithmetic — IEEE-exact.
# Windows are 64 px on the destination grid, so halo reads cross the
# 32-px COG tile boundaries (tile-granular partial reads, no shuffle).
# --------------------------------------------------------------------------
def _warp_demo_file() -> str:
    def make():
        ii, jj = _ij(64)
        return ((ii * 5 + jj * 3) % 13).astype("uint8")[None]

    return _demo_cog("warp_src.tif", make, transform=(0.0, 0.1, 10.0, 0.1),
                     blockxsize=32, overviews=False)


@register(
    "q210_warp_cubicspline",
    oracle="""
    WITH wts AS (
      SELECT * FROM (VALUES
        (0, -1, 1), (0, 0, 121), (0, 1, 235), (0, 2, 27),
        (1, -1, 27), (1, 0, 235), (1, 1, 121), (1, 2, 1)
      ) AS t(par, d, w)
    ), dst AS (
      SELECT i.r AS r, j.c AS c,
             CAST(floor(i.r / 2.0 - 0.25) AS INT) AS y0,
             CAST(floor(j.c / 2.0 - 0.25) AS INT) AS x0,
             i.r % 2 AS rpar, j.c % 2 AS cpar
      FROM generate_series(0, 127) i(r), generate_series(0, 127) j(c)
    ), px AS (
      SELECT d.r, d.c,
             SUM(wy.w * wx.w
                 * ((5 * (d.y0 + wy.d) + 3 * (d.x0 + wx.d)) % 13)) AS vs
      FROM dst d
      JOIN wts wy ON wy.par = d.rpar
      JOIN wts wx ON wx.par = d.cpar
      WHERE d.y0 BETWEEN 1 AND 61 AND d.x0 BETWEEN 1 AND 61
      GROUP BY 1, 2
    )
    SELECT CAST(r // 32 AS INTEGER) AS block_r,
           CAST(c // 32 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(vs) AS BIGINT) AS sum_scaled,
           CAST(MAX(vs) AS BIGINT) AS max_scaled
    FROM px GROUP BY 1, 2
    """,
)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, warp_pixels

    cat = raster_catalog(spark, [_warp_demo_file()])
    px = warp_pixels(cat, scale=2.0, method="cubic_spline", window=64,
                     parallelism=8)
    scaled = F.round(F.col("value") * 147456).cast("long")
    return px.groupBy(
        F.floor(F.col("row") / 32).cast("int").alias("block_r"),
        F.floor(F.col("col") / 32).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum(scaled).alias("sum_scaled"),
        F.max(scaled).alias("max_scaled"),
    )


# --------------------------------------------------------------------------
# q213 — raster POLYGONIZE (the gdal_polygonize shape): connected
# same-value regions of a mask raster become vector features. Engine
# composition: raster-as-table pixels -> 4-adjacency edges via two
# equi-self-joins on (row, col±1)/(row±1, col) — Catalyst extracts the
# arithmetic equalities as hash-join keys, no theta join — -> the SAME
# pointer-jumping component resolver the dedup stack uses
# (functions/dedup.py::connected_components), O(log diameter) rounds.
# The demo mask is 4x4-px blocks with md5-parity values, so the oracle
# replays components on the 12x12 block graph (recursive CTE) and
# scales areas by 16 — pixel-level and block-level components coincide
# because 4-adjacent same-value blocks share a 4-px edge.
# --------------------------------------------------------------------------
_POLY_N = 48   # raster side (px)
_POLY_B = 4    # block side (px)


def _poly_demo_file() -> str:
    return _demo_cog("polygonize.tif", lambda: _md5_blocks() % 2,
                     transform=(0.0, 0.1, 10.0, 0.1),
                     blockxsize=16, overviews=False)


def _md5_blocks():
    """``_POLY_N``-square uint8 raster of ``_POLY_B``-square blocks, each
    valued by the first md5 byte of its block id."""
    import hashlib

    import numpy as np

    nb = _POLY_N // _POLY_B
    blocks = np.zeros((nb, nb), dtype="uint8")
    for br in range(nb):
        for bc in range(nb):
            h = hashlib.md5(str(br * nb + bc).encode()).hexdigest()
            blocks[br, bc] = int(h[:2], 16)
    return np.repeat(np.repeat(blocks, _POLY_B, 0), _POLY_B, 1)[None]


@register(
    "q213_raster_polygonize",
    oracle=f"""
    WITH RECURSIVE blk AS (
      SELECT i.br AS br, j.bc AS bc,
             i.br * {_POLY_N // _POLY_B} + j.bc AS bid,
             CAST(('0x' || substr(md5(CAST(
               i.br * {_POLY_N // _POLY_B} + j.bc AS VARCHAR)), 1, 2))
               AS INT) % 2 AS v
      FROM generate_series(0, {_POLY_N // _POLY_B - 1}) i(br),
           generate_series(0, {_POLY_N // _POLY_B - 1}) j(bc)
    ), ones AS (
      SELECT * FROM blk WHERE v = 1
    ), e0 AS (
      SELECT a.bid AS src, b.bid AS dst
      FROM ones a JOIN ones b
        ON (a.br = b.br AND a.bc + 1 = b.bc)
        OR (a.br + 1 = b.br AND a.bc = b.bc)
    ), edges AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ), reach(id, lab) AS (
      SELECT bid, bid FROM ones
      UNION
      SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.id
    ), comp AS (
      SELECT id, MIN(lab) AS lab FROM reach GROUP BY id
    ), sizes AS (
      SELECT lab, COUNT(*) * {_POLY_B * _POLY_B} AS px
      FROM comp GROUP BY lab
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(px) AS BIGINT) AS total_px,
           CAST(MAX(px) AS BIGINT) AS max_px
    FROM sizes
    """,
)
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import connected_components
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_poly_demo_file()])
    px = read_pixels(cat, window=16, parallelism=8).filter(
        F.col("value") == 1)
    ids = px.select(
        (F.col("row").cast("long") * _POLY_N + F.col("col")).alias("pid"),
        "row", "col",
    )
    a, b = ids.alias("a"), ids.alias("b")
    right = a.join(
        b, (F.col("a.row") == F.col("b.row"))
        & (F.col("a.col") + 1 == F.col("b.col"))
    ).select(F.col("a.pid").alias("doc_id_a"),
             F.col("b.pid").alias("doc_id_b"))
    down = a.join(
        b, (F.col("a.row") + 1 == F.col("b.row"))
        & (F.col("a.col") == F.col("b.col"))
    ).select(F.col("a.pid").alias("doc_id_a"),
             F.col("b.pid").alias("doc_id_b"))
    comp = connected_components(right.unionAll(down))
    # isolated pixels have no edges: left join + coalesce keeps them as
    # their own single-pixel component
    labeled = ids.join(
        comp.withColumnRenamed("doc_id", "pid"), "pid", "left"
    ).select("pid", F.coalesce("component", F.col("pid")).alias("component"))
    sizes = labeled.groupBy("component").agg(F.count("*").alias("px"))
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum("px").cast("bigint").alias("total_px"),
        F.max("px").cast("bigint").alias("max_px"),
    )


# --------------------------------------------------------------------------
# q171 — overview-decimated read: a zoom-out query served from the COG
# pyramid. The 128x128 demo raster has nearest overviews (64, 32); a
# 32x32 output picks the 4x level, so the reader decompresses 1/16 of
# the pixels (GDAL's RasterIO overview-selection rule, pick_level).
# Nearest level-k pixel (i,j) == full-res (i*2^k, j*2^k), so the oracle
# replays the decimated grid analytically — integer-exact.
# --------------------------------------------------------------------------
def _decim_demo_file() -> str:
    def make():
        ii, jj = _ij(128)
        return ((ii * 3 + jj * 5) % 17).astype("uint8")[None]

    return _demo_cog("decim.tif", make, transform=(0.0, 0.05, 10.0, 0.05),
                     blockxsize=32, overviews=True,
                     overview_resampling="nearest")


@register(
    "q171_decimated_read",
    oracle="""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, (4 * i.r * 3 + 4 * j.c * 5) % 17 AS v
      FROM generate_series(0, 31) i(r), generate_series(0, 31) j(c)
    )
    SELECT CAST(r // 8 AS INTEGER) AS block_r,
           CAST(c // 8 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM px GROUP BY 1, 2
    """,
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import decimated_pixels, raster_catalog

    cat = raster_catalog(spark, [_decim_demo_file()])
    px = decimated_pixels(cat, out_width=32, out_height=32)
    return px.groupBy(
        F.floor(F.col("row") / 8).cast("int").alias("block_r"),
        F.floor(F.col("col") / 8).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum("value").cast("bigint").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q172 — terrain slope by Horn's method (the gdaldem-slope stencil) over
# a real COG, halo reads as in q169. Exactness discipline: the oracle
# replays the integer Horn numerators (SUM -> BIGINT, exact) and the
# per-block MAX of slope_pct — every float step (int-derived doubles,
# x/0.4 with 0.4 = 8*double(0.05), mul/add/sqrt) is IEEE
# correctly-rounded, so max-of-identical-doubles compares bit-for-bit
# with no rounding fudge.
# --------------------------------------------------------------------------
_HORN_Z = "(({r}) * 5 + ({c}) * 3) % 13"


def _horn_num(dr_dc: list[tuple[int, int, int]]) -> str:
    return " + ".join(
        f"{w} * ({_HORN_Z.format(r=f'r + {dr}', c=f'c + {dc}')})"
        for dr, dc, w in dr_dc
    )


@register(
    "q172_horn_slope",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             ({_horn_num([(-1, 1, 1), (0, 1, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (0, -1, 2), (1, -1, 1)])}) AS nx,
             ({_horn_num([(1, -1, 1), (1, 0, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (-1, 0, 2), (-1, 1, 1)])}) AS ny
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), sl AS (
      SELECT r, c, nx, ny,
             100.0 * sqrt(
               (nx / (8 * CAST(0.05 AS DOUBLE)))
                 * (nx / (8 * CAST(0.05 AS DOUBLE)))
               + (ny / (8 * CAST(0.05 AS DOUBLE)))
                 * (ny / (8 * CAST(0.05 AS DOUBLE)))) AS slope_pct
      FROM px
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(nx) AS BIGINT) AS sum_dzdx_num,
           CAST(SUM(ny) AS BIGINT) AS sum_dzdy_num,
           MAX(slope_pct) AS max_slope_pct
    FROM sl GROUP BY 1, 2
    """,
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import horn_slope_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = horn_slope_pixels(cat, window=48, parallelism=8)
    scale = 8 * 0.05
    return px.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.round(F.sum(F.col("dzdx") * scale)).cast("bigint")
         .alias("sum_dzdx_num"),
        F.round(F.sum(F.col("dzdy") * scale)).cast("bigint")
         .alias("sum_dzdy_num"),
        F.max("slope_pct").alias("max_slope_pct"),
    )


# --------------------------------------------------------------------------
# q236 — gdaldem HILLSHADE, oracle-exact: the kernel uses GDAL's
# trig-free rational form (sources/raster_table.py::hillshade_pixels),
# so with the three light constants embedded as identical double
# literals on both sides, every per-pixel step (int Horn numerators,
# /0.4, fused linear form, sqrt, clip) is IEEE correctly rounded and
# the per-block MAX/MIN of shade compare bit-for-bit — upgrading
# hillshade from "numpy-verified only" to externally replayed.
# --------------------------------------------------------------------------
from ..sources.raster_table import hillshade_constants  # noqa: E402

_HS_C0, _HS_C1, _HS_C2 = hillshade_constants(315.0, 45.0)


@register(
    "q236_hillshade",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             ({_horn_num([(-1, 1, 1), (0, 1, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (0, -1, 2), (1, -1, 1)])}) AS nx,
             ({_horn_num([(1, -1, 1), (1, 0, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (-1, 0, 2), (-1, 1, 1)])}) AS ny
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), sh AS (
      SELECT r, c,
             LEAST(GREATEST(
               (({_HS_C0!r} - {_HS_C1!r} * (nx / (8 * CAST(0.05 AS DOUBLE)))
                 + {_HS_C2!r} * (ny / (8 * CAST(0.05 AS DOUBLE))))
                / sqrt(1.0
                       + (nx / (8 * CAST(0.05 AS DOUBLE)))
                         * (nx / (8 * CAST(0.05 AS DOUBLE)))
                       + (ny / (8 * CAST(0.05 AS DOUBLE)))
                         * (ny / (8 * CAST(0.05 AS DOUBLE))))) * 255.0,
               0.0), 255.0) AS shade
      FROM px
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           MAX(shade) AS max_shade,
           MIN(shade) AS min_shade
    FROM sh GROUP BY 1, 2
    """,
)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import hillshade_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = hillshade_pixels(cat, window=48, parallelism=8)
    return px.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.max("hillshade").alias("max_shade"),
        F.min("hillshade").alias("min_shade"),
    )


# --------------------------------------------------------------------------
# q237 — gdaldem ASPECT (degrees clockwise from north, NaN on flat):
# per-pixel atan2 is libm, where numpy and DuckDB differ by <= 2e-15
# (measured), so this is a ROUNDED oracle (6 dp, the repo's float
# discipline) rather than a bitwise one — flat-pixel accounting is
# integer-exact. Completes the gdaldem family: slope (q172, exact),
# TPI/TRI/roughness (q185, exact), hillshade (q236, exact), aspect
# (rounded).
# --------------------------------------------------------------------------
@register(
    "q237_aspect",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             ({_horn_num([(-1, 1, 1), (0, 1, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (0, -1, 2), (1, -1, 1)])}) AS nx,
             ({_horn_num([(1, -1, 1), (1, 0, 2), (1, 1, 1)])})
           - ({_horn_num([(-1, -1, 1), (-1, 0, 2), (-1, 1, 1)])}) AS ny
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), asp AS (
      SELECT r, c, nx = 0 AND ny = 0 AS flat,
             CASE WHEN nx = 0 AND ny = 0 THEN NULL ELSE
               CASE WHEN degrees(atan2(
                        -(nx / (8 * CAST(0.05 AS DOUBLE))),
                        ny / (8 * CAST(0.05 AS DOUBLE)))) < 0
                    THEN degrees(atan2(
                        -(nx / (8 * CAST(0.05 AS DOUBLE))),
                        ny / (8 * CAST(0.05 AS DOUBLE)))) + 360.0
                    ELSE degrees(atan2(
                        -(nx / (8 * CAST(0.05 AS DOUBLE))),
                        ny / (8 * CAST(0.05 AS DOUBLE)))) END
             END AS aspect
      FROM px
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(CASE WHEN flat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flat,
           round(MAX(aspect), 6) AS max_aspect,
           round(MIN(aspect), 6) AS min_aspect
    FROM asp GROUP BY 1, 2
    """,
)
def q237(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import hillshade_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = hillshade_pixels(cat, window=48, parallelism=8)
    not_flat = F.when(~F.isnan("aspect"), F.col("aspect"))
    return px.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum(F.isnan("aspect").cast("bigint")).alias("n_flat"),
        F.round(F.max(not_flat), 6).alias("max_aspect"),
        F.round(F.min(not_flat), 6).alias("min_aspect"),
    )


# --------------------------------------------------------------------------
# q183 — Z-order (Morton) tile layout: the 10-degree lat/lng grid's 648
# tiles keyed by bit-interleaved (grid_x, grid_y) and range-bucketed
# into shards — the clustering that makes a bbox query touch O(result)
# store objects (the Delta/Iceberg Z-ORDER trick applied to the tile
# store). Per shard: tile count and key range; the unit test asserts
# the locality property (adjacent tiles share shards far more often
# than row-major order).
# --------------------------------------------------------------------------
from ..functions.partitioning import morton_key, morton_key_sql  # noqa: E402


@register(
    "q183_morton_layout",
    oracle=f"""
    WITH g AS (
      SELECT CAST(i % 36 AS INT) AS gx, CAST(i // 36 AS INT) AS gy
      FROM range(648) t(i)
    ), keyed AS (
      SELECT gx, gy, {morton_key_sql('gx', 'gy', 6)} AS zkey
      FROM g
    )
    SELECT CAST(zkey // 64 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(MIN(zkey) AS BIGINT) AS min_key,
           CAST(MAX(zkey) AS BIGINT) AS max_key
    FROM keyed GROUP BY 1
    """,
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.range(648)
    gx = (F.col("id") % 36).cast("int")
    gy = (F.col("id") / 36).cast("int")
    zkey = morton_key(gx, gy, bits=6)
    return (
        df.select(zkey.alias("zkey"))
        .groupBy((F.col("zkey") / 64).cast("bigint").alias("shard"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.min("zkey").alias("min_key"),
            F.max("zkey").alias("max_key"),
        )
    )


# --------------------------------------------------------------------------
# q410 — HILBERT-CURVE tile layout (q183's stronger sibling, the curve
# behind Delta OPTIMIZE's Hilbert mode): consecutive Hilbert keys are
# ALWAYS grid-adjacent — no Z-shape jumps — so range-bucketed shards
# have tighter spatial footprints than Morton's. The key is computed
# as chained column expressions (one withColumns level per curve
# order: rotate-and-fold, no UDF, whole-stage codegen); the oracle
# replays the identical recurrence as a CTE chain. Output adds each
# shard's bounding-box AREA — the locality figure of merit a layout
# optimizer actually compares. Shard size 50 is deliberately UNALIGNED
# to the curve's quadrants: at aligned power-of-4 sizes both curves
# bucket perfectly, at real-world sizes Hilbert's no-jump property
# wins (864 vs 1356 total bbox area here; unit-test-asserted).
# --------------------------------------------------------------------------
from ..functions.partitioning import hilbert_key, hilbert_key_sql  # noqa: E402


@register(
    "q410_hilbert_layout",
    oracle=f"""
    WITH {hilbert_key_sql(
        'gx', 'gy', 6,
        '(SELECT CAST(i % 36 AS INT) AS gx, CAST(i // 36 AS INT) AS gy '
        'FROM range(648) t(i))')}
    SELECT CAST(hkey // 50 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(MIN(hkey) AS BIGINT) AS min_key,
           CAST(MAX(hkey) AS BIGINT) AS max_key,
           CAST((MAX(gx) - MIN(gx) + 1) * (MAX(gy) - MIN(gy) + 1)
                AS BIGINT) AS bbox_area
    FROM h0 GROUP BY 1
    """,
)
def q410(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.range(648).select(
        (F.col("id") % 36).cast("int").alias("gx"),
        (F.col("id") / 36).cast("int").alias("gy"),
    )
    keyed = hilbert_key(df, "gx", "gy", bits=6)
    return (
        keyed.groupBy((F.col("hkey") / 50).cast("bigint").alias("shard"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.min("hkey").alias("min_key"),
            F.max("hkey").alias("max_key"),
            ((F.max("gx") - F.min("gx") + 1)
             * (F.max("gy") - F.min("gy") + 1)).cast("bigint")
            .alias("bbox_area"),
        )
    )


# --------------------------------------------------------------------------
# q185 — gdaldem terrain indices (TPI / TRI / roughness), the trig-free
# trio whose every step is IEEE-exact: TPI's /8 is a power of two, TRI
# is sqrt of an integer, roughness is integer — so the oracle replays
# the analytic field bit-for-bit (no rounding fudge). Same halo-read
# stencil as q169/q172. Hillshade joined the oracle-exact club in q236
# via GDAL's trig-free rational form; only aspect (per-pixel atan2)
# remains numpy-verified.
# --------------------------------------------------------------------------
_Z = "(({r}) * 5 + ({c}) * 3) % 13"


def _z_at(dr: int, dc: int) -> str:
    return _Z.format(r=f"r + {dr}", c=f"c + {dc}")


_NB = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
       if not (dr == 0 and dc == 0)]
_NB_SUM = " + ".join(_z_at(dr, dc) for dr, dc in _NB)
_SQ_SUM = " + ".join(
    f"(({_z_at(dr, dc)}) - zc) * (({_z_at(dr, dc)}) - zc)"
    for dr, dc in _NB
)
_NB_MAX = "greatest(" + ", ".join(
    [_z_at(dr, dc) for dr, dc in _NB] + ["zc"]) + ")"
_NB_MIN = "least(" + ", ".join(
    [_z_at(dr, dc) for dr, dc in _NB] + ["zc"]) + ")"


@register(
    "q185_terrain_indices",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, {_Z.format(r='i.r', c='j.c')} AS zc
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), t AS (
      SELECT r, c, zc,
             CAST(zc AS DOUBLE) - ({_NB_SUM}) / 8.0 AS tpi,
             sqrt(CAST({_SQ_SUM} AS DOUBLE)) AS tri,
             {_NB_MAX} - {_NB_MIN} AS rough
      FROM px
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(CAST(tpi * 8 AS BIGINT)) AS BIGINT) AS sum_tpi8,
           MAX(tri) AS max_tri,
           CAST(SUM(rough) AS BIGINT) AS sum_roughness
    FROM t GROUP BY 1, 2
    """,
)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, terrain_indices_pixels

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = terrain_indices_pixels(cat, window=48, parallelism=8)
    return px.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.round(F.sum(F.col("tpi") * 8)).cast("bigint").alias("sum_tpi8"),
        F.max("tri").alias("max_tri"),
        F.sum("roughness").cast("bigint").alias("sum_roughness"),
    )


# --------------------------------------------------------------------------
# q187 — multi-band raster algebra through the REAL container: a 2-band
# COG (planar-SEPARATE, the red/NIR layout) read through raster-as-
# table, bands re-joined per pixel, NDVI-style (b2-b1)/(b2+b1) zonal
# aggregation. Exactness: per-block band sums are integers and the
# NDVI ratio is computed from those exact sums, so only the final
# round(6) touches floats. The band join is an equi-join on
# (uri, row, col) — co-partitioned by the same kernel, no skew.
# --------------------------------------------------------------------------
def _ndvi_demo_file() -> str:
    import numpy as np

    def make():
        ii, jj = _ij(64)
        red = ((ii * 2 + jj) % 9 + 1).astype("uint8")      # 1..9, no zeros
        nir = ((ii + jj * 3) % 11 + 2).astype("uint8")     # 2..12
        return np.stack([red, nir])

    return _demo_cog("ndvi2band.tif", make, transform=(0.0, 0.1, 10.0, 0.1),
                     blockxsize=32, overviews=False)


@register(
    "q187_multiband_ndvi",
    oracle="""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             (i.r * 2 + j.c) % 9 + 1 AS red,
             (i.r + j.c * 3) % 11 + 2 AS nir
      FROM generate_series(0, 63) i(r), generate_series(0, 63) j(c)
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(nir - red) AS BIGINT) AS sum_diff,
           CAST(SUM(nir + red) AS BIGINT) AS sum_total,
           round(CAST(SUM(nir - red) AS DOUBLE)
                 / CAST(SUM(nir + red) AS DOUBLE), 6) AS ndvi_of_sums
    FROM px GROUP BY 1, 2
    """,
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_ndvi_demo_file()])
    # red and nir bands filter the same decode — checkpoint so the
    # raster kernel runs once
    px = read_pixels(cat, window=32, parallelism=8).localCheckpoint(
        eager=False)
    red = px.filter(F.col("band") == 1).select(
        "uri", "row", "col", F.col("value").alias("red"))
    nir = px.filter(F.col("band") == 2).select(
        "uri", "row", "col", F.col("value").alias("nir"))
    both = red.join(nir, ["uri", "row", "col"])
    return both.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum(F.col("nir") - F.col("red")).cast("bigint").alias("sum_diff"),
        F.sum(F.col("nir") + F.col("red")).cast("bigint").alias("sum_total"),
        F.round(
            F.sum(F.col("nir") - F.col("red"))
            / F.sum(F.col("nir") + F.col("red")), 6).alias("ndvi_of_sums"),
    )


# --------------------------------------------------------------------------
# q194 — raster CREATE TABLE AS SELECT, value-checked end to end: read
# the demo COG through raster-as-table, run SQL band algebra (3v + 1),
# MATERIALIZE the result as a new COG tile store (single-writer-per-
# tile applyInPandas), read the store back through a fresh catalog, and
# zonal-aggregate. The oracle replays the arithmetic analytically — so
# the write->read round trip of the materialized layer is what's being
# value-checked, not just the SQL.
# --------------------------------------------------------------------------
@register(
    "q194_materialized_raster",
    oracle="""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             ((i.r * 5 + j.c * 3) % 13) * 3 + 1 AS v
      FROM generate_series(0, 95) i(r), generate_series(0, 95) j(c)
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM px GROUP BY 1, 2
    """,
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.raster_table import (
        materialize_pixels, raster_catalog, read_pixels,
    )

    src = raster_catalog(spark, [_focal_demo_file()])
    px = read_pixels(src, window=48, parallelism=8)
    transformed = px.withColumn("value", F.col("value") * 3 + 1)
    out = os.path.join(tempfile.gettempdir(),
                       "gfw_pixetl_spark_rt_demo", "mat_q194")
    written = materialize_pixels(
        transformed, out, transform=(0.0, 0.05, 10.0, 0.05),
        tile_size=48, dtype="int16", nodata=None, blockxsize=32,
    ).collect()
    back = raster_catalog(spark, sorted(r.uri for r in written))
    px2 = read_pixels(back, window=48, parallelism=4)
    # rows/cols in the re-read are tile-local; recover globals from x/y
    gr = F.floor((F.lit(10.0) - F.col("y")) / 0.05).cast("int")
    gc = F.floor(F.col("x") / 0.05).cast("int")
    return px2.groupBy(
        F.floor(gr / 16).cast("int").alias("block_r"),
        F.floor(gc / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum("value").cast("bigint").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q214 — cloud-free MEDIAN COMPOSITE: three co-registered epochs where
# some pixels are cloud-masked (value 0 = nodata, dropped inside the
# read kernel), per-pixel median over the CLEAR epochs — the standard
# EO compositing op (e.g. Landsat/Sentinel mosaics). The stack is a
# groupBy(row, col) like q196; median of 1-3 integers is exact in
# halves, so sum(2*median) is an exact BIGINT the oracle replays.
# --------------------------------------------------------------------------
def _composite_files() -> list[str]:
    ii, jj = _ij(64)

    def make(t):
        v = ((ii * 3 + jj * 2 + t * 7) % 19 + 1).astype("uint8")
        cloud = (ii * 7 + jj * 11 + t * 5) % 9 == 0
        v[cloud] = 0  # nodata = cloud
        return v[None]

    return [
        _demo_cog(f"composite_t{t}.tif", lambda t=t: make(t),
                  transform=(0.0, 0.1, 10.0, 0.1),
                  nodata=0, blockxsize=32, overviews=False)
        for t in range(3)
    ]


@register(
    "q214_median_composite",
    oracle="""
    WITH px AS (
      SELECT t.t AS t, i.r AS r, j.c AS c,
             (i.r * 3 + j.c * 2 + t.t * 7) % 19 + 1 AS v
      FROM generate_series(0, 2) t(t),
           generate_series(0, 63) i(r), generate_series(0, 63) j(c)
      WHERE (i.r * 7 + j.c * 11 + t.t * 5) % 9 != 0
    ), med AS (
      SELECT r, c, COUNT(*) AS n_clear,
             median(CAST(v AS DOUBLE)) AS m
      FROM px GROUP BY r, c
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(CASE WHEN n_clear = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full,
           CAST(SUM(2 * m) AS BIGINT) AS sum_2median
    FROM med GROUP BY 1, 2
    """,
)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, _composite_files())
    px = read_pixels(cat, window=32, parallelism=8)  # nodata dropped
    med = px.groupBy("row", "col").agg(
        F.count("*").alias("n_clear"),
        F.percentile(F.col("value"), F.lit(0.5)).alias("m"),
    )
    return med.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum(F.when(F.col("n_clear") == 3, 1).otherwise(0)).cast("bigint")
        .alias("n_full"),
        F.round(F.sum(2 * F.col("m"))).cast("bigint").alias("sum_2median"),
    )


# --------------------------------------------------------------------------
# q196 — raster time-series trend: three co-registered epochs of the
# same grid (t = 0, 1, 2), per-pixel OLS slope over time, zonal rollup.
# The EO change-detection workload (e.g. NDVI trend): the pixel stack
# is a groupBy(row, col) over the multi-file pixel DF — co-registered
# rasters make the time dimension just another aggregation key, no
# array stacking. Exactness: with integer values and t = 0..2, the
# slope numerator n·Σty − Σt·Σy and denominator n·Σt² − (Σt)² are
# exact integers; the oracle replays them and the rounded slope.
# --------------------------------------------------------------------------
def _trend_files() -> list[str]:
    ii, jj = _ij(64)

    def make(t):
        return ((ii * 2 + jj + t * (1 + (ii + jj) % 3)) % 17 + 1
                ).astype("uint8")[None]

    return [
        _demo_cog(f"trend_t{t}.tif", lambda t=t: make(t),
                  transform=(0.0, 0.1, 10.0, 0.1),
                  blockxsize=32, overviews=False)
        for t in range(3)
    ]


@register(
    "q196_pixel_trend",
    oracle="""
    WITH px AS (
      SELECT t.t AS t, i.r AS r, j.c AS c,
             (i.r * 2 + j.c + t.t * (1 + (i.r + j.c) % 3)) % 17 + 1 AS v
      FROM generate_series(0, 2) t(t),
           generate_series(0, 63) i(r), generate_series(0, 63) j(c)
    ), fit AS (
      SELECT r, c,
             3 * SUM(t * v) - SUM(t) * SUM(v) AS num,
             3 * SUM(t * t) - SUM(t) * SUM(t) AS den
      FROM px GROUP BY r, c
    )
    SELECT CAST(r // 16 AS INTEGER) AS block_r,
           CAST(c // 16 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(num) AS BIGINT) AS sum_num,
           CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rising,
           round(AVG(num / CAST(den AS DOUBLE)), 6) AS mean_slope
    FROM fit GROUP BY 1, 2
    """,
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    files = _trend_files()
    cat = raster_catalog(spark, files)
    px = read_pixels(cat, window=32, parallelism=8)
    # epoch index from the file name (catalog metadata, not pixel data)
    t = F.regexp_extract(F.col("uri"), r"trend_t(\d)\.tif", 1).cast("int")
    px = px.withColumn("t", t)
    fit = px.groupBy("row", "col").agg(
        (3 * F.sum(F.col("t") * F.col("value"))
         - F.sum("t") * F.sum("value")).alias("num"),
        (3 * F.sum(F.col("t") * F.col("t"))
         - F.sum("t") * F.sum("t")).alias("den"),
    )
    return fit.groupBy(
        F.floor(F.col("row") / 16).cast("int").alias("block_r"),
        F.floor(F.col("col") / 16).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum("num").cast("bigint").alias("sum_num"),
        F.sum(F.when(F.col("num") > 0, 1).otherwise(0)).cast("bigint")
        .alias("n_rising"),
        F.round(F.avg(F.col("num") / F.col("den").cast("double")), 6)
        .alias("mean_slope"),
    )


# --------------------------------------------------------------------------
# q200 — bbox-pruned mosaic read: a window query over the two-file demo
# mosaic whose bbox intersects only file A. The catalog prune (planning
# time) plus the in-kernel pixel clip must yield exactly the analytic
# pixels of the intersection — and n_files == 1 proves the
# non-intersecting file was never read (the partition-pruning contract
# that makes a 1-degree query touch 1 file in a 100k-file mosaic).
# --------------------------------------------------------------------------
@register(
    "q200_bbox_pruned_read",
    oracle="""
    WITH px AS (
      SELECT 0.0 + (j.c + 0.5) * 0.05 AS x,
             10.0 - (i.r + 0.5) * 0.05 AS y,
             (i.r * 3 + j.c) % 11 AS v
      FROM generate_series(0, 79) i(r), generate_series(0, 79) j(c)
      WHERE (i.r * 3 + j.c) % 11 != 0
    )
    SELECT CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM px
    WHERE x > 0.5 AND x < 3.5 AND y > 6.5 AND y < 9.5
    """,
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, _rt_demo_files())  # a: lon 0-4, b: lon 4-8
    px = read_pixels(cat, bounds=(0.5, 6.5, 3.5, 9.5), window=32,
                     parallelism=4)
    return px.agg(
        F.countDistinct("uri").cast("bigint").alias("n_files"),
        F.count("*").alias("n_px"),
        F.sum("value").cast("bigint").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q219 — COLOR RELIEF (the gdaldem color-relief shape, C6 symbology
# APPLIED rather than tagged): map each pixel value through a ramp of
# (value -> RGB) stops with linear interpolation between stops. The
# colormap is a broadcast range join (v BETWEEN lo AND hi), the
# interpolation is pure column math inside whole-stage codegen — no
# kernel, no shuffle beyond the final block rollup. Channels are
# emitted x4 so every interpolated value is an exact integer (stop
# spacing 4), making the oracle IEEE-free.
# --------------------------------------------------------------------------
_RELIEF_STOPS = [
    # (v0, v1, r0, g0, b0, r1, g1, b1)
    (0, 4, 0, 0, 255, 0, 255, 0),
    (4, 8, 0, 255, 0, 255, 255, 0),
    (8, 13, 255, 255, 0, 255, 0, 0),
]
_RELIEF_VALUES = " UNION ALL ".join(
    f"SELECT {v0} AS lo, {v1} AS hi, {r0} AS r0, {g0} AS g0, {b0} AS b0, "
    f"{r1} AS r1, {g1} AS g1, {b1} AS b1"
    for v0, v1, r0, g0, b0, r1, g1, b1 in _RELIEF_STOPS
)


@register(
    "q219_color_relief",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, (i.r * 5 + j.c * 3) % 13 AS v
      FROM generate_series(0, 95) i(r), generate_series(0, 95) j(c)
    ), ramp AS (
      {_RELIEF_VALUES}
    ), colored AS (
      SELECT r, c,
        4 * r0 + 4 * (v - lo) * (r1 - r0) / (hi - lo) AS r4,
        4 * g0 + 4 * (v - lo) * (g1 - g0) / (hi - lo) AS g4,
        4 * b0 + 4 * (v - lo) * (b1 - b0) / (hi - lo) AS b4
      FROM px JOIN ramp ON v >= lo AND v < hi
    )
    SELECT CAST(r // 32 AS INTEGER) AS block_r,
           CAST(c // 32 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r4) AS BIGINT) AS sum_r4,
           CAST(SUM(g4) AS BIGINT) AS sum_g4,
           CAST(SUM(b4) AS BIGINT) AS sum_b4
    FROM colored GROUP BY 1, 2
    """,
)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = read_pixels(cat, window=48, parallelism=8)
    ramp = spark.createDataFrame(
        _RELIEF_STOPS,
        "lo int, hi int, r0 int, g0 int, b0 int, r1 int, g1 int, b1 int",
    )
    v = F.col("value")
    joined = px.join(
        F.broadcast(ramp), (v >= F.col("lo")) & (v < F.col("hi")))

    def chan4(c0: str, c1: str):
        span = F.col("hi") - F.col("lo")
        return (4 * F.col(c0)
                + 4 * (v - F.col("lo")) * (F.col(c1) - F.col(c0)) / span)

    return joined.groupBy(
        F.floor(F.col("row") / 32).cast("int").alias("block_r"),
        F.floor(F.col("col") / 32).cast("int").alias("block_c"),
    ).agg(
        F.count("*").alias("n_px"),
        F.sum(chan4("r0", "r1")).cast("bigint").alias("sum_r4"),
        F.sum(chan4("g0", "g1")).cast("bigint").alias("sum_g4"),
        F.sum(chan4("b0", "b1")).cast("bigint").alias("sum_b4"),
    )


# --------------------------------------------------------------------------
# q220 — PNG TILE-CACHE EXPORT: the web-tile product built from a COG
# layer (the reference ecosystem publishes z/x/y PNG tiles next to the
# COGs). Each 48x48 window of the demo raster is read tile-granularly,
# encoded as a REAL PNG (sources/png.py, Paeth filter), written to the
# cache dir with an atomic rename, then decoded BACK inside the same
# kernel — the emitted pixel sum proves the encode->decode roundtrip on
# every tile, and the oracle replays the sums analytically. One task
# per tile, no shuffle: the tile-server export is embarrassingly
# parallel at any zoom.
# --------------------------------------------------------------------------
@register(
    "q220_png_tile_export",
    oracle="""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, (i.r * 5 + j.c * 3) % 13 AS v
      FROM generate_series(0, 95) i(r), generate_series(0, 95) j(c)
    )
    SELECT CAST(r // 48 AS INTEGER) AS tile_y,
           CAST(c // 48 AS INTEGER) AS tile_x,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS decoded_sum
    FROM px GROUP BY 1, 2
    """,
)
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hl
    import tempfile
    from collections.abc import Iterator as _It

    import pandas as _pd

    src = _focal_demo_file()
    tag = _hl.md5(src.encode()).hexdigest()[:8]
    out_dir = f"{tempfile.gettempdir()}/gfw_pixetl_spark_pngtiles_{tag}"

    tiles = spark.createDataFrame(
        [(ty, tx) for ty in range(2) for tx in range(2)],
        "tile_y int, tile_x int",
    ).repartition(4, "tile_y", "tile_x")

    def kernel(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        import os

        import numpy as np

        from gfw_pixetl_spark.sources.geotiff import GeoTiff
        from gfw_pixetl_spark.sources.png import decode_png, encode_png

        os.makedirs(out_dir, exist_ok=True)
        t = GeoTiff.open(src)
        for pdf in batches:
            rows = {k: [] for k in
                    ("tile_y", "tile_x", "n_px", "decoded_sum")}
            for ty, tx in zip(pdf["tile_y"], pdf["tile_x"]):
                arr = t.read_window(tx * 48, ty * 48, 48, 48)
                data = np.ma.getdata(arr[0]).astype("uint8")
                payload = encode_png(data, filter_type=4)
                path = os.path.join(out_dir, f"1_{tx}_{ty}.png")
                tmp = f"{path}.tmp{os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(payload)
                os.replace(tmp, path)  # atomic publish
                back = decode_png(open(path, "rb").read())[:, :, 0]
                rows["tile_y"].append(int(ty))
                rows["tile_x"].append(int(tx))
                rows["n_px"].append(int(back.size))
                rows["decoded_sum"].append(int(back.astype("int64").sum()))
            yield _pd.DataFrame(rows)

    return tiles.mapInPandas(
        kernel, "tile_y int, tile_x int, n_px long, decoded_sum long")


# --------------------------------------------------------------------------
# q228 — CONTOUR CROSSING EXTRACTION (the gdal_contour vertex step):
# classify pixels against a level (6.5), find every grid edge whose
# endpoints classify differently, and linearly interpolate the crossing
# position along the edge — marching squares' vertex computation. The
# engine derives edges from the pixel table with two shifted
# equi-self-joins (same hash-join-key trick as q213); the interpolation
# fraction t = (level - v0)/(v1 - v0) scaled by 27720 (= lcm 1..12) is
# an exact integer for integer pixel values, so the oracle replays
# everything in integer arithmetic.
# --------------------------------------------------------------------------
_CONTOUR_LEVEL = 6.5
_CONTOUR_SCALE = 55440  # 2*lcm(1..12): 55440/d is EVEN for every |d| <= 12,
#                        so scale*(6.5 - v0)/d is an exact integer


@register(
    "q228_contour_crossings",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, (i.r * 5 + j.c * 3) % 13 AS v
      FROM generate_series(0, 95) i(r), generate_series(0, 95) j(c)
    ), h AS (
      SELECT a.r AS r, a.c AS c,
             CAST(({_CONTOUR_SCALE} * {_CONTOUR_LEVEL} -
                   {_CONTOUR_SCALE} * a.v) / (b.v - a.v) AS BIGINT)
               AS scaled_t
      FROM px a JOIN px b ON a.r = b.r AND a.c + 1 = b.c
      WHERE (a.v > {_CONTOUR_LEVEL}) <> (b.v > {_CONTOUR_LEVEL})
    ), vv AS (
      SELECT a.r AS r, a.c AS c,
             CAST(({_CONTOUR_SCALE} * {_CONTOUR_LEVEL} -
                   {_CONTOUR_SCALE} * a.v) / (b.v - a.v) AS BIGINT)
               AS scaled_t
      FROM px a JOIN px b ON a.r + 1 = b.r AND a.c = b.c
      WHERE (a.v > {_CONTOUR_LEVEL}) <> (b.v > {_CONTOUR_LEVEL})
    ), edges AS (
      SELECT r, c, scaled_t, 'h' AS kind FROM h
      UNION ALL SELECT r, c, scaled_t, 'v' FROM vv
    )
    SELECT CAST(r // 32 AS INTEGER) AS block_r,
           CAST(c // 32 AS INTEGER) AS block_c,
           CAST(SUM(CASE WHEN kind = 'h' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_h_crossings,
           CAST(SUM(CASE WHEN kind = 'v' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_v_crossings,
           CAST(SUM(scaled_t) AS BIGINT) AS sum_scaled_t
    FROM edges GROUP BY 1, 2
    """,
)
def q228(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_focal_demo_file()])
    # four references (both sides of the h and v adjacency joins) —
    # checkpoint so the raster kernel decodes once
    px = read_pixels(cat, window=48, parallelism=8).select(
        "row", "col", "value").localCheckpoint(eager=False)
    lvl = F.lit(_CONTOUR_LEVEL)
    a, b = px.alias("a"), px.alias("b")

    def crossings(cond, kind):
        va, vb = F.col("a.value"), F.col("b.value")
        return (
            a.join(b, cond)
            .filter((va > lvl) != (vb > lvl))
            .select(
                F.col("a.row").alias("r"), F.col("a.col").alias("c"),
                ((_CONTOUR_SCALE * lvl - _CONTOUR_SCALE * va)
                 / (vb - va)).cast("bigint").alias("scaled_t"),
                F.lit(kind).alias("kind"),
            )
        )

    h = crossings(
        (F.col("a.row") == F.col("b.row"))
        & (F.col("a.col") + 1 == F.col("b.col")), "h")
    v = crossings(
        (F.col("a.row") + 1 == F.col("b.row"))
        & (F.col("a.col") == F.col("b.col")), "v")
    edges = h.unionAll(v)
    return edges.groupBy(
        F.floor(F.col("r") / 32).cast("int").alias("block_r"),
        F.floor(F.col("c") / 32).cast("int").alias("block_c"),
    ).agg(
        F.sum(F.when(F.col("kind") == "h", 1).otherwise(0)).cast("bigint")
        .alias("n_h_crossings"),
        F.sum(F.when(F.col("kind") == "v", 1).otherwise(0)).cast("bigint")
        .alias("n_v_crossings"),
        F.sum("scaled_t").cast("bigint").alias("sum_scaled_t"),
    )


# --------------------------------------------------------------------------
# q230 — HISTOGRAM EQUALIZATION (the contrast-stretch remap every
# imagery-viz pipeline runs): global value histogram -> CDF -> remap
# new_v = floor(255 * cdf(v)), where cdf(v) = cumulative count up to v
# over total. The histogram is a 13-row broadcast side; the remap joins
# it back onto the pixel stream (no second scan shuffles pixel-wide),
# and integer arithmetic keeps the oracle exact: floor(255 * cum / n)
# computed as (255 * cum) // n in BIGINTs on both engines.
# --------------------------------------------------------------------------
@register(
    "q230_hist_equalization",
    oracle="""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, (i.r * 5 + j.c * 3) % 13 AS v
      FROM generate_series(0, 95) i(r), generate_series(0, 95) j(c)
    ), hist AS (
      SELECT v, COUNT(*) AS n FROM px GROUP BY v
    ), cdf AS (
      SELECT v, SUM(n) OVER (ORDER BY v) AS cum,
             (SELECT SUM(n) FROM hist) AS total
      FROM hist
    ), remap AS (
      SELECT v, CAST((255 * cum) // total AS BIGINT) AS new_v FROM cdf
    )
    SELECT CAST(p.r // 32 AS INTEGER) AS block_r,
           CAST(p.c // 32 AS INTEGER) AS block_c,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(m.new_v) AS BIGINT) AS sum_eq,
           CAST(MIN(m.new_v) AS BIGINT) AS min_eq,
           CAST(MAX(m.new_v) AS BIGINT) AS max_eq
    FROM px p JOIN remap m ON p.v = m.v
    GROUP BY 1, 2
    """,
)
def q230(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_focal_demo_file()])
    # histogram build + remap join both read px — decode once
    px = read_pixels(cat, window=48, parallelism=8).select(
        "row", "col", F.col("value").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    hist = px.groupBy("v").agg(F.count("*").alias("n")).localCheckpoint(
        eager=False)  # total + remap both read the 13-row histogram
    # 13-value dimension: the running sum window is histogram-sized
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    total = hist.agg(F.sum("n").alias("total"))
    remap = (
        hist.withColumn("cum", F.sum("n").over(w))
        .crossJoin(F.broadcast(total))
        .select("v", F.floor((255 * F.col("cum")) / F.col("total"))
                .cast("bigint").alias("new_v"))
    )
    return (
        px.join(F.broadcast(remap), "v")
        .groupBy(
            F.floor(F.col("row") / 32).cast("int").alias("block_r"),
            F.floor(F.col("col") / 32).cast("int").alias("block_c"),
        )
        .agg(
            F.count("*").alias("n_px"),
            F.sum("new_v").cast("bigint").alias("sum_eq"),
            F.min("new_v").cast("bigint").alias("min_eq"),
            F.max("new_v").cast("bigint").alias("max_eq"),
        )
    )


# --------------------------------------------------------------------------
# q249 — raster SIEVE (the gdal_sieve.py shape, reference's GDAL-utility
# family): connected foreground regions smaller than a pixel threshold
# are removed (set to background). GDAL's full semantic merges small
# polygons into their largest neighbor; for a binary mask — the
# reference's data-type table is dominated by boolean/uint8 masks —
# "merge into neighbor" IS "set to background", so the adaptation is
# exact for this profile. Engine composition: the SAME pixel →
# 4-adjacency equi-self-joins → pointer-jumping component resolver as
# polygonize (q213), then a size filter — one extra groupBy, no new
# machinery. The oracle replays components on the md5-parity block
# graph (recursive CTE) with the threshold scaled to block units.
# --------------------------------------------------------------------------
_SIEVE_THRESHOLD_PX = 48  # components under 3 blocks (48 px) are sieved


@register(
    "q249_raster_sieve",
    oracle=f"""
    WITH RECURSIVE blk AS (
      SELECT i.br AS br, j.bc AS bc,
             i.br * {_POLY_N // _POLY_B} + j.bc AS bid,
             CAST(('0x' || substr(md5(CAST(
               i.br * {_POLY_N // _POLY_B} + j.bc AS VARCHAR)), 1, 2))
               AS INT) % 2 AS v
      FROM generate_series(0, {_POLY_N // _POLY_B - 1}) i(br),
           generate_series(0, {_POLY_N // _POLY_B - 1}) j(bc)
    ), ones AS (
      SELECT * FROM blk WHERE v = 1
    ), e0 AS (
      SELECT a.bid AS src, b.bid AS dst
      FROM ones a JOIN ones b
        ON (a.br = b.br AND a.bc + 1 = b.bc)
        OR (a.br + 1 = b.br AND a.bc = b.bc)
    ), edges AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ), reach(id, lab) AS (
      SELECT bid, bid FROM ones
      UNION
      SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.id
    ), comp AS (
      SELECT id, MIN(lab) AS lab FROM reach GROUP BY id
    ), sizes AS (
      SELECT lab, COUNT(*) * {_POLY_B * _POLY_B} AS px
      FROM comp GROUP BY lab
    )
    SELECT
      CAST(COUNT(*) FILTER (px >= {_SIEVE_THRESHOLD_PX}) AS BIGINT)
        AS n_kept,
      CAST(COUNT(*) FILTER (px < {_SIEVE_THRESHOLD_PX}) AS BIGINT)
        AS n_sieved,
      CAST(COALESCE(SUM(px) FILTER (px < {_SIEVE_THRESHOLD_PX}), 0)
        AS BIGINT) AS px_removed,
      CAST(COALESCE(SUM(px) FILTER (px >= {_SIEVE_THRESHOLD_PX}), 0)
        AS BIGINT) AS px_kept
    FROM sizes
    """,
)
def q249(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import connected_components
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_poly_demo_file()])
    px = read_pixels(cat, window=16, parallelism=8).filter(
        F.col("value") == 1)
    ids = px.select(
        (F.col("row").cast("long") * _POLY_N + F.col("col")).alias("pid"),
        "row", "col",
    )
    a, b = ids.alias("a"), ids.alias("b")
    right = a.join(
        b, (F.col("a.row") == F.col("b.row"))
        & (F.col("a.col") + 1 == F.col("b.col"))
    ).select(F.col("a.pid").alias("doc_id_a"),
             F.col("b.pid").alias("doc_id_b"))
    down = a.join(
        b, (F.col("a.row") + 1 == F.col("b.row"))
        & (F.col("a.col") == F.col("b.col"))
    ).select(F.col("a.pid").alias("doc_id_a"),
             F.col("b.pid").alias("doc_id_b"))
    comp = connected_components(right.unionAll(down))
    labeled = ids.join(
        comp.withColumnRenamed("doc_id", "pid"), "pid", "left"
    ).select("pid", F.coalesce("component", F.col("pid")).alias("component"))
    sizes = labeled.groupBy("component").agg(F.count("*").alias("px"))
    small = F.col("px") < _SIEVE_THRESHOLD_PX
    return sizes.agg(
        F.count(F.when(~small, 1)).cast("bigint").alias("n_kept"),
        F.count(F.when(small, 1)).cast("bigint").alias("n_sieved"),
        F.coalesce(F.sum(F.when(small, F.col("px"))), F.lit(0))
        .cast("bigint").alias("px_removed"),
        F.coalesce(F.sum(F.when(~small, F.col("px"))), F.lit(0))
        .cast("bigint").alias("px_kept"),
    )


# --------------------------------------------------------------------------
# q250 — raster PROXIMITY (the gdal_proximity.py shape): per-pixel
# Euclidean distance to the nearest target pixel, bounded by maxdist.
# The scale plan is spatial binning, NOT an all-pairs or theta join:
# pixels are keyed by a (row/R, col/R) grid cell, each TARGET is
# exploded to its 9 neighboring cell keys (a Chebyshev-R ball can only
# reach cells one step away when the cell side equals R), and
# candidates meet in a plain equi-join on the cell key — linear in
# pixels at fixed target density, the classic distributed
# distance-transform trick. Distances come out as a GROUPED HISTOGRAM
# (sqrt is correctly-rounded IEEE, and counts dodge float-sum order),
# value-exact vs a DuckDB banded-join replay of the same md5-parity
# raster. Pixels beyond maxdist are reported via the n_unreached count
# (GDAL writes nodata there).
# --------------------------------------------------------------------------
_PROX_R = 6  # maxdist in pixels


@register(
    "q250_raster_proximity",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             CAST(('0x' || substr(md5(CAST(
               (i.r // {_POLY_B}) * {_POLY_N // _POLY_B}
               + (j.c // {_POLY_B}) AS VARCHAR)), 1, 2))
               AS INT) % 2 AS v
      FROM generate_series(0, {_POLY_N - 1}) i(r),
           generate_series(0, {_POLY_N - 1}) j(c)
    ), t AS (
      SELECT r, c FROM px WHERE v = 1
    ), z AS (
      SELECT r, c FROM px WHERE v = 0
    ), nearest AS (
      SELECT z.r, z.c,
             MIN((z.r - t.r) * (z.r - t.r)
                 + (z.c - t.c) * (z.c - t.c)) AS d2
      FROM z JOIN t
        ON t.r BETWEEN z.r - {_PROX_R} AND z.r + {_PROX_R}
       AND t.c BETWEEN z.c - {_PROX_R} AND z.c + {_PROX_R}
      GROUP BY 1, 2
    ), reached AS (
      SELECT * FROM nearest WHERE d2 <= {_PROX_R * _PROX_R}
    )
    SELECT CAST(SQRT(d2) AS DOUBLE) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM reached
    GROUP BY d2
    UNION ALL
    SELECT CAST(-1.0 AS DOUBLE) AS dist,
           CAST((SELECT COUNT(*) FROM z)
                - (SELECT COUNT(*) FROM reached) AS BIGINT) AS n_px
    ORDER BY dist
    """,
)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_poly_demo_file()])
    # zeros and targets both read px — checkpoint so the raster-decode
    # kernel runs once
    px = read_pixels(cat, window=16, parallelism=8).select(
        "row", "col", "value").localCheckpoint(eager=False)
    r = _PROX_R
    cell = [(F.col("row") / r).cast("int").alias("cell_r"),
            (F.col("col") / r).cast("int").alias("cell_c")]
    zeros = px.filter(F.col("value") == 0).select(
        "row", "col", *cell).localCheckpoint(eager=False)
    off = F.array([F.lit(i) for i in (-1, 0, 1)])
    targets = (
        px.filter(F.col("value") == 1)
        .select(F.col("row").alias("t_row"), F.col("col").alias("t_col"),
                *cell)
        .withColumn("dr", F.explode(off))
        .withColumn("dc", F.explode(off))
        .select("t_row", "t_col",
                (F.col("cell_r") + F.col("dr")).alias("cell_r"),
                (F.col("cell_c") + F.col("dc")).alias("cell_c"))
    )
    d2 = ((F.col("row") - F.col("t_row")) * (F.col("row") - F.col("t_row"))
          + (F.col("col") - F.col("t_col"))
          * (F.col("col") - F.col("t_col")))
    nearest = (
        zeros.join(targets, ["cell_r", "cell_c"])
        .groupBy("row", "col")
        .agg(F.min(d2).alias("d2"))
    )
    reached = nearest.filter(F.col("d2") <= r * r).localCheckpoint(
        eager=False)  # histogram + unreached count both read it
    hist = reached.groupBy("d2").agg(
        F.count("*").cast("bigint").alias("n_px")
    ).select(F.sqrt("d2").cast("double").alias("dist"), "n_px")
    # unreached = zeros minus reached, both as 1-row aggregates joined
    # broadcast — no eager driver-side count
    n_zero = zeros.agg(F.count("*").alias("nz"))
    unreached = (
        reached.agg(F.count("*").alias("nr"))
        .crossJoin(F.broadcast(n_zero))
        .select(F.lit(-1.0).cast("double").alias("dist"),
                (F.col("nz") - F.col("nr")).cast("bigint").alias("n_px"))
    )
    return hist.unionAll(unreached).orderBy("dist")


# --------------------------------------------------------------------------
# q252 — FILLNODATA (the gdal_fillnodata.py shape): nodata holes are
# filled by inverse-distance-weighted interpolation of valid pixels
# within a search radius. Same spatial-binning plan as proximity
# (q250): valid pixels explode to 9 neighbor cell keys (cell side =
# radius), holes meet them in a plain equi-join — linear in pixels, no
# theta join. DETERMINISM TRICK: GDAL's 1/d weights would make the
# fill a float sum whose value depends on reduction order; here the
# weight is the INTEGER (R^2 + 1 - d^2), so numerator and denominator
# are exact BIGINT sums and the fill is ONE IEEE division of exact
# operands — bit-identical on any partitioning and on DuckDB. The demo
# raster carries the full md5 byte per block (0..255); pixels with
# value % 4 == 0 are the holes (~25%).
# --------------------------------------------------------------------------
_FILL_R = 6  # search radius (px)


def _fill_demo_file() -> str:
    return _demo_cog("fillnodata.tif", _md5_blocks,
                     transform=(0.0, 0.1, 10.0, 0.1),
                     blockxsize=16, overviews=False)


@register(
    "q252_fillnodata",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c,
             CAST(('0x' || substr(md5(CAST(
               (i.r // {_POLY_B}) * {_POLY_N // _POLY_B}
               + (j.c // {_POLY_B}) AS VARCHAR)), 1, 2))
               AS BIGINT) AS v
      FROM generate_series(0, {_POLY_N - 1}) i(r),
           generate_series(0, {_POLY_N - 1}) j(c)
    ), holes AS (
      SELECT r, c FROM px WHERE v % 4 = 0
    ), valid AS (
      SELECT r, c, v FROM px WHERE v % 4 != 0
    ), idw AS (
      SELECT h.r, h.c,
             SUM(({_FILL_R * _FILL_R} + 1
                  - ((h.r - t.r) * (h.r - t.r)
                     + (h.c - t.c) * (h.c - t.c))) * t.v) AS num,
             SUM({_FILL_R * _FILL_R} + 1
                 - ((h.r - t.r) * (h.r - t.r)
                    + (h.c - t.c) * (h.c - t.c))) AS den
      FROM holes h JOIN valid t
        ON t.r BETWEEN h.r - {_FILL_R} AND h.r + {_FILL_R}
       AND t.c BETWEEN h.c - {_FILL_R} AND h.c + {_FILL_R}
       AND (h.r - t.r) * (h.r - t.r)
           + (h.c - t.c) * (h.c - t.c) <= {_FILL_R * _FILL_R}
      GROUP BY 1, 2
    )
    SELECT CAST(num AS DOUBLE) / den AS fill, 
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM idw
    GROUP BY 1
    ORDER BY fill
    """,
)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_fill_demo_file()])
    # holes and valid both read px — checkpoint so the raster-decode
    # kernel runs once
    px = read_pixels(cat, window=16, parallelism=8).select(
        "row", "col", F.col("value").cast("long").alias("v")
    ).localCheckpoint(eager=False)
    r = _FILL_R
    cell = [(F.col("row") / r).cast("int").alias("cell_r"),
            (F.col("col") / r).cast("int").alias("cell_c")]
    holes = px.filter(F.col("v") % 4 == 0).select("row", "col", *cell)
    off = F.array([F.lit(i) for i in (-1, 0, 1)])
    valid = (
        px.filter(F.col("v") % 4 != 0)
        .select(F.col("row").alias("t_row"), F.col("col").alias("t_col"),
                "v", *cell)
        .withColumn("dr", F.explode(off))
        .withColumn("dc", F.explode(off))
        .select("t_row", "t_col", "v",
                (F.col("cell_r") + F.col("dr")).alias("cell_r"),
                (F.col("cell_c") + F.col("dc")).alias("cell_c"))
    )
    d2 = ((F.col("row") - F.col("t_row")) * (F.col("row") - F.col("t_row"))
          + (F.col("col") - F.col("t_col"))
          * (F.col("col") - F.col("t_col")))
    w = F.lit(r * r + 1) - d2
    idw = (
        holes.join(valid, ["cell_r", "cell_c"])
        .filter(d2 <= r * r)
        .groupBy("row", "col")
        .agg(F.sum(w * F.col("v")).alias("num"), F.sum(w).alias("den"))
    )
    return (
        idw.select((F.col("num").cast("double") / F.col("den"))
                   .alias("fill"))
        .groupBy("fill")
        .agg(F.count("*").cast("bigint").alias("n_px"))
        .orderBy("fill")
    )


# --------------------------------------------------------------------------
# q276 — D8 FLOW DIRECTION (the ESRI/GDAL hydrology primitive) through
# the real COG + halo-read stencil: steepest-descent neighbor among 8,
# codes 1..128 clockwise from East, 0 = pit. The cardinal-vs-diagonal
# slope comparison is done in the exact INTEGER metric (2*d^2 vs d^2 —
# squaring clears sqrt(2) on positive drops), ties to the lowest code,
# so the oracle replays the argmax bit-for-bit over the analytic z
# field with a (metric, 255-code) packed-integer max. Output is the
# direction histogram + total metric — one fact-scale hash agg after
# the embarrassingly parallel stencil.
# --------------------------------------------------------------------------
_D8_NB_SQL = ", ".join(
    f"({code}, {dr}, {dc}, {1 if diag else 0})"
    for code, dr, dc, diag in
    [(1, 0, 1, False), (2, 1, 1, True), (4, 1, 0, False), (8, 1, -1, True),
     (16, 0, -1, False), (32, -1, -1, True), (64, -1, 0, False),
     (128, -1, 1, True)]
)


@register(
    "q276_d8_flow",
    oracle=f"""
    WITH px AS (
      SELECT i.r AS r, j.c AS c, {_Z.format(r='i.r', c='j.c')} AS zc
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), nb AS (
      SELECT * FROM (VALUES {_D8_NB_SQL}) AS t(code, dr, dc, diag)
    ), cand AS (
      SELECT r, c, code,
             CASE WHEN diag = 1 THEN d * d ELSE 2 * d * d END AS m
      FROM (SELECT px.r, px.c, code, diag,
                   zc - ({_Z.format(r='px.r + dr', c='px.c + dc')}) AS d
            FROM px, nb) s
      WHERE d > 0
    ), best AS (
      SELECT r, c, MAX(m * 256 + (255 - code)) AS k
      FROM cand GROUP BY r, c
    ), flow AS (
      SELECT px.r, px.c,
             CAST(COALESCE(255 - (k % 256), 0) AS INT) AS flow_dir,
             CAST(COALESCE(k // 256, 0) AS BIGINT) AS metric
      FROM px LEFT JOIN best USING (r, c)
    )
    SELECT flow_dir, CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(metric) AS BIGINT) AS sum_metric
    FROM flow GROUP BY flow_dir ORDER BY flow_dir
    """,
)
def q276(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import d8_flow_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = d8_flow_pixels(cat, window=48, parallelism=8)
    return (
        px.groupBy("flow_dir")
        .agg(F.count("*").cast("bigint").alias("n_px"),
             F.sum("metric").cast("bigint").alias("sum_metric"))
        .orderBy("flow_dir")
    )


# --------------------------------------------------------------------------
# q292 — RASTER POINT SAMPLING (gdallocationinfo at scale): extract the
# raster value under each of a fact-table of points — THE geospatial
# training-data prep op (label points -> covariate values). Points map
# to (row, col) with the broadcast catalog transform (pure column
# math), the raster reads through the real COG windowed kernel pruned
# to the points' bbox, and the lookup is an equi-join on (row, col) —
# pixels are the SMALL side here and broadcast; at billions of points
# per tile the same join co-partitions instead. The oracle replays the
# analytic z field at the expected pixel, so a transform off-by-one or
# a codec bug flips every row.
# --------------------------------------------------------------------------
@register(
    "q292_point_sampling",
    oracle=f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST((o_orderkey * 7) % 96 AS INT) AS px,
             CAST((o_orderkey * 11) % 96 AS INT) AS py
      FROM orders
    )
    SELECT o_orderkey, px, py,
           CAST({_Z.format(r='py', c='px')} AS BIGINT) AS value
    FROM pts ORDER BY o_orderkey
    """,
)
def q292(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import raster_catalog, read_pixels

    cat = raster_catalog(spark, [_focal_demo_file()])
    # synth points in GEO coordinates (pixel centers) — the engine must
    # invert the transform itself; using pixel indices directly would
    # hide an off-by-one
    # scalar aggregate, not limit(1): GlobalLimit funnels through a
    # single-partition exchange; the one-file catalog reduces the same
    meta = cat.agg(F.min("left").alias("left"), F.max("top").alias("top"))
    orders = load(spark, sf_dir, "orders")
    xres, yres = 0.05, 0.05
    pts = (
        orders.select(
            "o_orderkey",
            ((F.col("o_orderkey") * 7) % 96).cast("int").alias("px"),
            ((F.col("o_orderkey") * 11) % 96).cast("int").alias("py"))
        .crossJoin(F.broadcast(meta))
        .select(
            "o_orderkey",
            (F.col("left") + (F.col("px") + 0.5) * xres).alias("gx"),
            (F.col("top") - (F.col("py") + 0.5) * yres).alias("gy"),
            "left", "top")
    )
    # invert the affine transform: col = floor((gx-left)/xres)
    mapped = pts.select(
        "o_orderkey",
        F.floor((F.col("gx") - F.col("left")) / xres).cast("int")
        .alias("col"),
        F.floor((F.col("top") - F.col("gy")) / yres).cast("int")
        .alias("row"))
    px = read_pixels(cat, window=48, parallelism=8).select(
        "row", "col", F.col("value").cast("bigint").alias("value"))
    return (
        mapped.join(F.broadcast(px), ["row", "col"])
        .select("o_orderkey", F.col("col").alias("px"),
                F.col("row").alias("py"), "value")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q302 — FLOW PATH LENGTH via POINTER DOUBLING over the D8 flow graph:
# for every pixel, how many hops its water takes before terminating in
# a pit or off the grid edge — the hydrology follow-up to q276 and a
# second user of the dedup stack's O(log diameter) iteration pattern on
# a FUNCTIONAL graph (out-degree <= 1, provably acyclic because z
# strictly decreases along flow). Each round squares the pointer:
# (ptr, d) <- (ptr.ptr, d + ptr.d) by one equi-self-join on the node
# key; terminal rows (null ptr) are fixed points; a bounded scalar
# count drives the loop. The z field is bounded by 13 values so every
# path is <= 12 hops — 4 doubling rounds. The oracle walks the SAME
# graph one hop at a time with a recursive CTE (an independent
# mechanism: any doubling/accumulation bug shifts the histogram).
# --------------------------------------------------------------------------
@register(
    "q302_flow_path_length",
    oracle=f"""
    WITH RECURSIVE px AS (
      SELECT i.r AS r, j.c AS c, {_Z.format(r='i.r', c='j.c')} AS zc
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), nb AS (
      SELECT * FROM (VALUES {_D8_NB_SQL}) AS t(code, dr, dc, diag)
    ), cand AS (
      SELECT r, c, code,
             CASE WHEN diag = 1 THEN d * d ELSE 2 * d * d END AS m
      FROM (SELECT px.r, px.c, code, diag,
                   zc - ({_Z.format(r='px.r + dr', c='px.c + dc')}) AS d
            FROM px, nb) s
      WHERE d > 0
    ), best AS (
      SELECT r, c, MAX(m * 256 + (255 - code)) AS k
      FROM cand GROUP BY r, c
    ), flow AS (
      SELECT px.r, px.c,
             CAST(COALESCE(255 - (k % 256), 0) AS INT) AS dir
      FROM px LEFT JOIN best USING (r, c)
    ), parent AS (
      SELECT f.r, f.c, f.r + nb.dr AS pr, f.c + nb.dc AS pc
      FROM flow f JOIN nb ON nb.code = f.dir
    ), walk AS (
      SELECT r AS sr, c AS sc, r AS cr, c AS cc, 0 AS d FROM flow
      UNION ALL
      SELECT w.sr, w.sc, p.pr, p.pc, w.d + 1
      FROM walk w JOIN parent p ON p.r = w.cr AND p.c = w.cc
    ), dist AS (
      SELECT sr, sc, MAX(d) AS path_len FROM walk GROUP BY sr, sc
    )
    SELECT CAST(path_len AS BIGINT) AS path_len,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM dist GROUP BY path_len ORDER BY path_len
    """,
)
def q302(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import d8_flow_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = d8_flow_pixels(cat, window=48, parallelism=8)
    lo, hi = 1, 94  # d8_flow_pixels emits the interior ring only
    nid = (F.col("row") * 1024 + F.col("col")).cast("bigint")
    # flow_dir code -> (dr, dc); code 0 (pit) -> null parent
    dr = (F.when(F.col("flow_dir").isin(2, 4, 8), 1)
          .when(F.col("flow_dir").isin(32, 64, 128), -1).otherwise(0))
    dc = (F.when(F.col("flow_dir").isin(128, 1, 2), 1)
          .when(F.col("flow_dir").isin(8, 16, 32), -1).otherwise(0))
    pr, pc = F.col("row") + dr, F.col("col") + dc
    in_grid = (pr >= lo) & (pr <= hi) & (pc >= lo) & (pc <= hi)
    state = px.select(
        nid.alias("id"),
        F.when(F.col("flow_dir") == 0, F.lit(None).cast("bigint"))
        .when(in_grid, (pr * 1024 + pc).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint")).alias("ptr"),
        F.when(F.col("flow_dir") == 0, F.lit(0))
        .otherwise(F.lit(1)).cast("bigint").alias("d"),
    ).localCheckpoint()
    while state.filter(F.col("ptr").isNotNull()).count() > 0:  # bounded scalar
        nxt = state.select(F.col("id").alias("_pid"),
                           F.col("ptr").alias("_pptr"),
                           F.col("d").alias("_pd"))
        state = (
            state.join(nxt, state.ptr == F.col("_pid"), "left")
            .select(
                "id",
                F.when(F.col("ptr").isNull(), F.lit(None).cast("bigint"))
                .otherwise(F.col("_pptr")).alias("ptr"),
                F.when(F.col("ptr").isNull(), F.col("d"))
                .otherwise(F.col("d") + F.col("_pd")).alias("d"))
            .localCheckpoint()
        )
    return (
        state.groupBy(F.col("d").alias("path_len"))
        .agg(F.count("*").cast("bigint").alias("n_px"))
        .orderBy("path_len")
    )


# --------------------------------------------------------------------------
# q320 — D8 FLOW ACCUMULATION (the gdaldem/ArcGIS hydrology op that
# completes q276 direction -> q302 path length): for every pixel, how
# many upstream cells drain THROUGH it. The engine materializes the
# (cell, downstream-node-at-distance-k) pairs frontier-by-frontier over
# the in-grid flow edges — the same functional-graph closure as q312
# (each frontier row unique, no dedup shuffle); rounds are bounded by
# the z value range (13 levels -> paths <= 12 hops; deeper DEMs would
# emit from the q302 pointer-doubling states instead). Accumulation =
# one hash agg over the pair table; cells receiving no flow keep 0 via
# a left join. The oracle counts visits in the recursive one-hop walk —
# an independent mechanism.
# --------------------------------------------------------------------------
_ACC_ROUNDS = 12


@register(
    "q320_flow_accumulation",
    oracle=f"""
    WITH RECURSIVE px AS (
      SELECT i.r AS r, j.c AS c, {_Z.format(r='i.r', c='j.c')} AS zc
      FROM generate_series(1, 94) i(r), generate_series(1, 94) j(c)
    ), nb AS (
      SELECT * FROM (VALUES {_D8_NB_SQL}) AS t(code, dr, dc, diag)
    ), cand AS (
      SELECT r, c, code,
             CASE WHEN diag = 1 THEN d * d ELSE 2 * d * d END AS m
      FROM (SELECT px.r, px.c, code, diag,
                   zc - ({_Z.format(r='px.r + dr', c='px.c + dc')}) AS d
            FROM px, nb) s
      WHERE d > 0
    ), best AS (
      SELECT r, c, MAX(m * 256 + (255 - code)) AS k
      FROM cand GROUP BY r, c
    ), flow AS (
      SELECT px.r, px.c,
             CAST(COALESCE(255 - (k % 256), 0) AS INT) AS dir
      FROM px LEFT JOIN best USING (r, c)
    ), parent AS (
      SELECT f.r, f.c, f.r + nb.dr AS pr, f.c + nb.dc AS pc
      FROM flow f JOIN nb ON nb.code = f.dir
      WHERE f.r + nb.dr BETWEEN 1 AND 94
        AND f.c + nb.dc BETWEEN 1 AND 94
    ), walk AS (
      SELECT r AS cr, c AS cc FROM flow
      UNION ALL
      SELECT p.pr, p.pc FROM walk w
      JOIN parent p ON p.r = w.cr AND p.c = w.cc
    ), acc AS (
      SELECT px.r, px.c,
             COALESCE(v.n, 0) AS acc
      FROM px LEFT JOIN (
        SELECT cr, cc, COUNT(*) - 1 AS n  -- each cell visits itself once
        FROM walk GROUP BY cr, cc) v ON v.cr = px.r AND v.cc = px.c
    )
    SELECT CAST(acc AS BIGINT) AS acc,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM acc GROUP BY acc ORDER BY acc
    """,
)
def q320(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.raster_table import d8_flow_pixels, raster_catalog

    cat = raster_catalog(spark, [_focal_demo_file()])
    px = d8_flow_pixels(cat, window=48, parallelism=8)
    lo, hi = 1, 94
    nid = (F.col("row") * 1024 + F.col("col")).cast("bigint")
    dr = (F.when(F.col("flow_dir").isin(2, 4, 8), 1)
          .when(F.col("flow_dir").isin(32, 64, 128), -1).otherwise(0))
    dc = (F.when(F.col("flow_dir").isin(128, 1, 2), 1)
          .when(F.col("flow_dir").isin(8, 16, 32), -1).otherwise(0))
    pr, pc = F.col("row") + dr, F.col("col") + dc
    in_grid = ((pr >= lo) & (pr <= hi) & (pc >= lo) & (pc <= hi)
               & (F.col("flow_dir") != 0))
    # the flow graph is BOUNDED BY CONSTRUCTION: the demo DEM is one
    # fixed 94x94 window (<= 8,836 cells, <= 8,836 edges) at every
    # scale factor, so the 12-round frontier closure is a tiny
    # statistic in the q335/q287 discipline — the distributed work
    # (raster decode + D8 direction kernel) stays on executors, the
    # walk replays driver-side instead of paying 11 join jobs over a
    # constant-size table. A corpus-scale DEM takes the q302
    # pointer-doubling states instead (that path is unchanged).
    rows = (px.select(nid.alias("u"),
                      F.when(in_grid, (pr * 1024 + pc).cast("bigint"))
                      .alias("p"))
            .collect())  # bounded: <= 8,836 cells by construction
    if len(rows) > 20_000:  # fail loudly if the demo DEM ever grows:
        # a corpus-scale raster must take the q302 pointer-doubling
        # path, not a driver collect (ADVICE r08)
        raise ValueError(
            f"flow-accumulation driver replay got {len(rows)} cells; "
            "this path is for the fixed demo window only — use the "
            "q302 pointer-doubling formulation for corpus-scale DEMs")
    parent = {r.u: r.p for r in rows if r.p is not None}
    visits: dict[int, int] = {}
    for u in parent:
        a, hops = parent[u], 0
        while a is not None and hops < _ACC_ROUNDS:
            visits[a] = visits.get(a, 0) + 1
            a, hops = parent.get(a), hops + 1
    hist: dict[int, int] = {}
    for r in rows:
        a = visits.get(r.u, 0)
        hist[a] = hist.get(a, 0) + 1
    return spark.createDataFrame(
        spark.sparkContext.parallelize(sorted(hist.items()), 1),
        "acc bigint, n_px bigint").orderBy("acc")


# --------------------------------------------------------------------------
# q412 — DISTRIBUTED INTEGRAL IMAGE (summed-area table) + box filter:
# the 2D prefix sum behind O(1) box convolutions, ViT patch pooling,
# and Haar features. Computed SEPARABLY as two partitioned window
# scans — cumsum along each row (partitioned by row), then cumsum down
# each column (partitioned by column) — so no task ever sees more than
# one row/column and the shuffle is two keyed exchanges (at a 10^6-px
# dimension you bucket each scan, SCALING.md §5; the shape is the
# same). Box sums then read the 4 corners. THE ORACLE IS A DIFFERENT
# MECHANISM: it aggregates each 16x16 block directly (GROUP BY
# r//16, c//16) — the integral-image corner arithmetic must agree with
# the direct integer aggregation exactly, which is the whole point of
# a summed-area table.
# --------------------------------------------------------------------------
@register(
    "q412_integral_image",
    oracle="""
    WITH px AS (
      SELECT CAST(i // 256 AS INT) AS r, CAST(i % 256 AS INT) AS c,
             CAST((i // 256) * 5 + (i % 256) * 3 AS BIGINT) % 13 AS v
      FROM range(65536) t(i)
    )
    SELECT CAST(r // 16 AS INT) AS block_r,
           CAST(c // 16 AS INT) AS block_c,
           CAST(SUM(v) AS BIGINT) AS box_sum
    FROM px GROUP BY 1, 2
    """,
)
def q412(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    px = spark.range(256 * 256).select(
        (F.col("id") / 256).cast("int").alias("r"),
        (F.col("id") % 256).cast("int").alias("c"),
        (((F.col("id") / 256).cast("bigint") * 5
          + (F.col("id") % 256).cast("bigint") * 3) % 13).alias("v"),
    )
    row_w = (Window.partitionBy("r").orderBy("c")
             .rowsBetween(Window.unboundedPreceding, 0))
    col_w = (Window.partitionBy("c").orderBy("r")
             .rowsBetween(Window.unboundedPreceding, 0))
    ii = (px.withColumn("rowsum", F.sum("v").over(row_w))
          .withColumn("ii", F.sum("rowsum").over(col_w))
          .select("r", "c", "ii"))
    # box sum of block (br, bc) = I(r2,c2) - I(r1-1,c2) - I(r2,c1-1)
    # + I(r1-1,c1-1); out-of-image corners contribute 0
    blocks = spark.range(16 * 16).select(
        (F.col("id") / 16).cast("int").alias("block_r"),
        (F.col("id") % 16).cast("int").alias("block_c"))

    def corner(rexpr, cexpr, name):
        return (blocks.select("block_r", "block_c",
                              rexpr.cast("int").alias("r"),
                              cexpr.cast("int").alias("c"))
                .join(ii, ["r", "c"], "left")
                .select("block_r", "block_c",
                        F.coalesce("ii", F.lit(0)).alias(name)))

    r1, c1 = F.col("block_r") * 16, F.col("block_c") * 16
    out = (corner(r1 + 15, c1 + 15, "s_br")
           .join(corner(r1 - 1, c1 + 15, "s_tr"),
                 ["block_r", "block_c"])
           .join(corner(r1 + 15, c1 - 1, "s_bl"),
                 ["block_r", "block_c"])
           .join(corner(r1 - 1, c1 - 1, "s_tl"),
                 ["block_r", "block_c"]))
    return out.select(
        "block_r", "block_c",
        (F.col("s_br") - F.col("s_tr") - F.col("s_bl")
         + F.col("s_tl")).cast("bigint").alias("box_sum"))


# --------------------------------------------------------------------------
# q434 — NATIONAL-GRID DATUM WARP (C4 beyond the UTM/conic hub): WGS84
# points over Great Britain projected to EPSG:27700 (OSGB36 / British
# National Grid) through the FULL analytic chain — WGS84 geodetic ->
# ECEF -> exact-inverse 7-parameter Helmert (position vector, the
# PROJ +towgs84 set) -> Airy-1830 geodetic (fixed-point) -> general
# Karney-Krüger transverse Mercator with lat0=49N, k0=0.9996012717 and
# the -100 km false northing (functions/datum.py, functions/tmerc.py;
# reference inherits this via rasterio WarpedVRT,
# gfw_pixetl/tiles/raster_src_tile.py:188-210). The oracle replays
# every stage in SQL: the Helmert inverse-matrix entries and the
# per-ellipsoid series coefficients are import-time literals from the
# SAME public defining constants, the iterative geodetic conversion is
# an unrolled recursive CTE, sinh/cosh/atanh/asinh expand to exp/ln.
# Both sides round to 0.1 mm — a wrong sign convention, a skipped
# rectifying-ordinate subtraction, or a negated-parameter (approximate)
# Helmert reverse all shift results by meters and cannot hide.
# --------------------------------------------------------------------------
TM_WARP_SCHEMA = ("o_orderkey long, lat double, lon double, "
                  "e_01mm long, n_01mm long")


def _tm_series_literals(ell_name: str):
    """(a, e2, e, k0*A_bar is caller's, alpha literals) for an ellipsoid."""
    from ..functions.datum import resolve_ellipsoid
    from ..functions.tmerc import tm_coefficients

    a, f = resolve_ellipsoid(ell_name)
    a_bar, alpha, _beta, e, e2 = tm_coefficients(a, f)
    return a, e2, float(e), a_bar, alpha


def _tm_series_sql(alpha, ea: float) -> str:
    """TM forward series SQL over CTE ``geo(o_orderkey, lat, lon, phi,
    lam)`` (geodetic radians on the target datum) -> CTE ``tmout`` with
    xi/eta. Hyperbolics expand to exp; coefficients are literals."""
    terms_xi = " + ".join(
        f"{c!r} * sin({2 * j} * xip) * (exp({2 * j} * etap) "
        f"+ exp(-{2 * j} * etap)) / 2.0"
        for j, c in enumerate(alpha, start=1))
    terms_eta = " + ".join(
        f"{c!r} * cos({2 * j} * xip) * (exp({2 * j} * etap) "
        f"- exp(-{2 * j} * etap)) / 2.0"
        for j, c in enumerate(alpha, start=1))
    return f"""
    g1 AS (
      SELECT o_orderkey, lat, lon, lam, tan(phi) AS tau FROM geo
    ), g2 AS (
      SELECT *, {ea!r} * 0.5 * ln(
        (1.0 + {ea!r} * tau / sqrt(1.0 + tau * tau))
        / (1.0 - {ea!r} * tau / sqrt(1.0 + tau * tau))) AS v
      FROM g1
    ), g3 AS (
      SELECT *, (exp(v) - exp(-v)) / 2.0 AS sigma FROM g2
    ), g4 AS (
      SELECT *, tau * sqrt(1.0 + sigma * sigma)
                - sigma * sqrt(1.0 + tau * tau) AS taup FROM g3
    ), g5 AS (
      SELECT *, atan2(taup, cos(lam)) AS xip,
        ln(sin(lam) / sqrt(taup * taup + cos(lam) * cos(lam))
           + sqrt(sin(lam) * sin(lam)
                  / (taup * taup + cos(lam) * cos(lam)) + 1.0)) AS etap
      FROM g4
    ), tmout AS (
      SELECT o_orderkey, lat, lon,
             xip + {terms_xi} AS xi,
             etap + {terms_eta} AS eta
      FROM g5
    )"""


def _bng_oracle() -> str:
    from ..functions.datum import _helmert_matrices, resolve_ellipsoid
    from ..functions.tmerc import TM_PARAMS, _xi0, tm_coefficients

    tm = TM_PARAMS[27700]
    aw, fw = resolve_ellipsoid("WGS84")
    e2w = fw * (2.0 - fw)
    aa, e2a, ea, a_bar, alpha = _tm_series_literals("airy")
    fa = 1.0 - (1.0 - e2a) ** 0.5  # airy flattening back from e2
    _m, minv, t = _helmert_matrices(tuple(float(p) for p in tm.towgs84))
    xi0 = _xi0(aa, fa, tm.lat0)
    k0a = tm.k0 * a_bar
    i = [[f"{minv[r][c]!r}" for c in range(3)] for r in range(3)]
    tx, ty, tz = (f"{v!r}" for v in t)
    return f"""
    WITH RECURSIVE pts AS (
      SELECT o_orderkey,
             CAST(49.8 + (o_orderkey % 100) * 0.1 AS DOUBLE) AS lat,
             CAST(-7.0 + (o_orderkey % 90) * 0.1 AS DOUBLE) AS lon
      FROM orders
    ), wx AS (
      SELECT o_orderkey, lat, lon,
             nu * cos(phi_w) * cos(lam_w) AS x,
             nu * cos(phi_w) * sin(lam_w) AS y,
             nu * (1.0 - {e2w!r}) * sin(phi_w) AS z
      FROM (
        SELECT o_orderkey, lat, lon,
               {aw!r} / sqrt(1.0 - {e2w!r} * sin(radians(lat))
                             * sin(radians(lat))) AS nu,
               radians(lat) AS phi_w, radians(lon) AS lam_w
        FROM pts
      )
    ), lx AS (
      SELECT o_orderkey, lat, lon,
        {i[0][0]} * (x - {tx}) + {i[0][1]} * (y - {ty})
          + {i[0][2]} * (z - {tz}) AS xl,
        {i[1][0]} * (x - {tx}) + {i[1][1]} * (y - {ty})
          + {i[1][2]} * (z - {tz}) AS yl,
        {i[2][0]} * (x - {tx}) + {i[2][1]} * (y - {ty})
          + {i[2][2]} * (z - {tz}) AS zl
      FROM wx
    ), base AS (
      SELECT o_orderkey, lat, lon, sqrt(xl * xl + yl * yl) AS p, zl,
             atan2(yl, xl) AS lam_l
      FROM lx
    ), it(o_orderkey, lat, lon, p, zl, lam_l, phi, i) AS (
      SELECT o_orderkey, lat, lon, p, zl, lam_l,
             atan2(zl, p * (1.0 - {e2a!r})), 0
      FROM base
      UNION ALL
      SELECT o_orderkey, lat, lon, p, zl, lam_l,
             atan2(zl + {e2a!r} * ({aa!r} / sqrt(1.0 - {e2a!r}
                   * sin(phi) * sin(phi))) * sin(phi), p),
             i + 1
      FROM it WHERE i < 35
    ), geo AS (
      SELECT o_orderkey, lat, lon, phi,
             lam_l - ({math.radians(tm.lon0)!r}) AS lam
      FROM it WHERE i = 35
    ), {_tm_series_sql(alpha, ea)}
    SELECT o_orderkey, lat, lon,
           CAST(round(({tm.fe!r} + {k0a!r} * eta) * 10000.0) AS BIGINT)
             AS e_01mm,
           CAST(round(({tm.fn!r} + {k0a!r} * (xi - {xi0!r})) * 10000.0)
             AS BIGINT) AS n_01mm
    FROM tmout
    """


@register("q434_bng_datum_warp", oracle=_bng_oracle())
def q434(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_partitions

    pts = ensure_min_partitions(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            (49.8 + (F.col("o_orderkey") % 100) * 0.1)
            .cast("double").alias("lat"),
            (-7.0 + (F.col("o_orderkey") % 90) * 0.1)
            .cast("double").alias("lon")))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from ..functions.warp import _from_geographic

        for pdf in batches:
            e, n = _from_geographic(pdf["lon"].to_numpy(),
                                    pdf["lat"].to_numpy(), "EPSG:27700")
            yield pd.DataFrame({
                "o_orderkey": pdf["o_orderkey"],
                "lat": pdf["lat"], "lon": pdf["lon"],
                "e_01mm": np.round(e * 10000.0).astype("int64"),
                "n_01mm": np.round(n * 10000.0).astype("int64"),
            })

    return pts.mapInPandas(kernel, TM_WARP_SCHEMA)


# --------------------------------------------------------------------------
# q435 — PROJ-STRING FRONT DOOR (C4): the engine accepts a raw
# '+proj=tmerc ...' string (functions/projstring.py) — here Poland
# CS92 (EPSG:2180 written as its PROJ string, GRS80, k0=0.9993,
# FN=-5300000, a null +towgs84 that must short-circuit the datum
# bridge) — matching the reference's CRS-string grid front door
# (gfw_pixetl/grids/grid_factory.py:14-26). Oracle: the same
# Karney-Krüger forward series on GRS80 as import-time literals; no
# ECEF chain, so a datum bridge that fails to no-op on a null shift
# would break the hash.
# --------------------------------------------------------------------------
_PS_2180 = ("+proj=tmerc +lat_0=0 +lon_0=19 +k=0.9993 +x_0=500000 "
            "+y_0=-5300000 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 "
            "+units=m +no_defs")


def _cs92_oracle() -> str:
    _a, _e2, eg, a_bar, alpha = _tm_series_literals("GRS80")
    k0a = 0.9993 * a_bar
    return f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(49.1 + (o_orderkey % 60) * 0.1 AS DOUBLE) AS lat,
             CAST(14.2 + (o_orderkey % 95) * 0.1 AS DOUBLE) AS lon
      FROM orders
    ), geo AS (
      SELECT o_orderkey, lat, lon, radians(lat) AS phi,
             radians(lon - 19.0) AS lam
      FROM pts
    ), {_tm_series_sql(alpha, eg)}
    SELECT o_orderkey, lat, lon,
           CAST(round((500000.0 + {k0a!r} * eta) * 10000.0) AS BIGINT)
             AS e_01mm,
           CAST(round((-5300000.0 + {k0a!r} * xi) * 10000.0) AS BIGINT)
             AS n_01mm
    FROM tmout
    """


@register("q435_projstring_warp", oracle=_cs92_oracle())
def q435(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_partitions

    pts = ensure_min_partitions(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            (49.1 + (F.col("o_orderkey") % 60) * 0.1)
            .cast("double").alias("lat"),
            (14.2 + (F.col("o_orderkey") % 95) * 0.1)
            .cast("double").alias("lon")))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from ..functions.warp import _from_geographic

        for pdf in batches:
            e, n = _from_geographic(pdf["lon"].to_numpy(),
                                    pdf["lat"].to_numpy(), _PS_2180)
            yield pd.DataFrame({
                "o_orderkey": pdf["o_orderkey"],
                "lat": pdf["lat"], "lon": pdf["lon"],
                "e_01mm": np.round(e * 10000.0).astype("int64"),
                "n_01mm": np.round(n * 10000.0).astype("int64"),
            })

    return pts.mapInPandas(kernel, TM_WARP_SCHEMA)


# --------------------------------------------------------------------------
# q437 — COLORMAP SYMBOLOGY RENDERED (C6 beyond declaration): the
# reference's LayerModel declares a symbology colormap
# (gfw_pixetl/models/pydantic.py:20-33) but never renders it; here the
# discrete colormap is actually WRITTEN as a paletted GeoTIFF
# (PhotometricInterpretation=3 + TIFF 6.0 ColorMap tag 320,
# sources/geotiff.py) and the pipeline then consumes the palette FROM
# THE FILE: read_pixels returns palette indices, the color table read
# back from tag 320 becomes a broadcast dimension, and the join
# produces per-color pixel tallies. The oracle replays the synthetic
# value grid AND the colormap formula analytically — a wrong palette
# channel order, a 16-bit/8-bit scaling slip (the v*257 convention), or
# an index/value mismatch all shift the counts or colors.
# --------------------------------------------------------------------------
def _palette_demo_file() -> str:
    def make():
        ii, jj = _ij(64)
        return ((3 * jj + 5 * ii) % 13).astype("uint8")[None]

    cmap = {k: ((k * 19 + 7) % 256, (k * 37 + 11) % 256,
                (k * 53 + 29) % 256) for k in range(13)}
    return _demo_cog("palette.tif", make, transform=(0.0, 0.1, 10.0, 0.1),
                     blockxsize=32, overviews=False, colormap=cmap)


@register(
    "q437_colormap_symbology",
    oracle="""
    WITH px AS (
      SELECT ((3 * j.c + 5 * i.r) % 13) AS v
      FROM generate_series(0, 63) i(r), generate_series(0, 63) j(c)
    )
    SELECT CAST(v AS INT) AS pix_value,
           CAST((v * 19 + 7) % 256 AS INT) AS red,
           CAST((v * 37 + 11) % 256 AS INT) AS green,
           CAST((v * 53 + 29) % 256 AS INT) AS blue,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM px GROUP BY v
    """,
)
def q437(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.geotiff import GeoTiff
    from ..sources.raster_table import raster_catalog, read_pixels

    path = _palette_demo_file()
    colors = GeoTiff.open(path).profile["colormap"]
    color_df = spark.createDataFrame(
        [(int(k), r, g, b) for k, (r, g, b) in colors.items()],
        "pix_value int, red int, green int, blue int")
    px = read_pixels(raster_catalog(spark, [path]), window=32,
                     parallelism=8)
    return (px.select(F.col("value").cast("int").alias("pix_value"))
            .join(F.broadcast(color_df), "pix_value")
            .groupBy("pix_value", "red", "green", "blue")
            .agg(F.count("*").alias("n_px")))


# --------------------------------------------------------------------------
# q438 — ELLIPSOIDAL GEODESIC DISTANCE (functions/geodesic.py): Vincenty
# inverse over deterministic point pairs — the true-ground-distance
# primitive spatial dedup radii and displacement joins need (haversine
# is ~0.5% wrong; anchored on the published GDA/Vincenty test line in
# tests/test_geodesic.py). The oracle replays the ENTIRE algorithm in
# DuckDB: the lambda fixed-point as a 30-round recursive CTE with WGS84
# literals, then the A/B series, delta-sigma and both azimuths — both
# sides round to 0.1 mm / 1e-6 degree, so a series-coefficient slip or
# an azimuth-convention error cannot hide.
# --------------------------------------------------------------------------
_V_A = 6378137.0
_V_F = 1.0 / 298.257223563
_V_B = _V_A * (1.0 - _V_F)

GEODESIC_SCHEMA = ("o_orderkey long, lat1 double, lon1 double, "
                   "lat2 double, lon2 double, dist_01mm long, "
                   "azf_e6 long, azr_e6 long")


def _vincenty_oracle() -> str:
    f = _V_F
    return f"""
    WITH RECURSIVE pts AS (
      SELECT o_orderkey,
             CAST(-55.0 + (o_orderkey % 111) AS DOUBLE) AS lat1,
             CAST(-170.0 + (o_orderkey % 340) AS DOUBLE) AS lon1,
             CAST(-55.0 + (o_orderkey % 111) + 0.05
                  + (o_orderkey % 7) * 0.08 AS DOUBLE) AS lat2,
             CAST(-170.0 + (o_orderkey % 340) + 0.04
                  + (o_orderkey % 11) * 0.06 AS DOUBLE) AS lon2
      FROM orders
    ), u AS (
      SELECT o_orderkey, lat1, lon1, lat2, lon2,
             atan((1.0 - {f!r}) * tan(radians(lat1))) AS u1,
             atan((1.0 - {f!r}) * tan(radians(lat2))) AS u2,
             radians(lon2 - lon1) AS bigl
      FROM pts
    ), it(o_orderkey, lat1, lon1, lat2, lon2, u1, u2, bigl, lam, i) AS (
      SELECT o_orderkey, lat1, lon1, lat2, lon2, u1, u2, bigl, bigl, 0
      FROM u
      UNION ALL
      SELECT o_orderkey, lat1, lon1, lat2, lon2, u1, u2, bigl,
        bigl + (1.0 - (({f!r} / 16.0) * (1.0 - pow(
            cos(u1) * cos(u2) * sin(lam) /
            sqrt(pow(cos(u2) * sin(lam), 2)
                 + pow(cos(u1) * sin(u2)
                       - sin(u1) * cos(u2) * cos(lam), 2)), 2))
          * (4.0 + {f!r} * (4.0 - 3.0 * (1.0 - pow(
            cos(u1) * cos(u2) * sin(lam) /
            sqrt(pow(cos(u2) * sin(lam), 2)
                 + pow(cos(u1) * sin(u2)
                       - sin(u1) * cos(u2) * cos(lam), 2)), 2))))))
        * {f!r}
        * (cos(u1) * cos(u2) * sin(lam) /
           sqrt(pow(cos(u2) * sin(lam), 2)
                + pow(cos(u1) * sin(u2)
                      - sin(u1) * cos(u2) * cos(lam), 2)))
        * (atan2(
             sqrt(pow(cos(u2) * sin(lam), 2)
                  + pow(cos(u1) * sin(u2)
                        - sin(u1) * cos(u2) * cos(lam), 2)),
             sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam))
           + (({f!r} / 16.0) * (1.0 - pow(
                cos(u1) * cos(u2) * sin(lam) /
                sqrt(pow(cos(u2) * sin(lam), 2)
                     + pow(cos(u1) * sin(u2)
                           - sin(u1) * cos(u2) * cos(lam), 2)), 2))
              * (4.0 + {f!r} * (4.0 - 3.0 * (1.0 - pow(
                cos(u1) * cos(u2) * sin(lam) /
                sqrt(pow(cos(u2) * sin(lam), 2)
                     + pow(cos(u1) * sin(u2)
                           - sin(u1) * cos(u2) * cos(lam), 2)), 2)))))
             * sqrt(pow(cos(u2) * sin(lam), 2)
                    + pow(cos(u1) * sin(u2)
                          - sin(u1) * cos(u2) * cos(lam), 2))
             * ((sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam))
                - 2.0 * sin(u1) * sin(u2) / (1.0 - pow(
                    cos(u1) * cos(u2) * sin(lam) /
                    sqrt(pow(cos(u2) * sin(lam), 2)
                         + pow(cos(u1) * sin(u2)
                               - sin(u1) * cos(u2) * cos(lam), 2)), 2))
                + (({f!r} / 16.0) * (1.0 - pow(
                     cos(u1) * cos(u2) * sin(lam) /
                     sqrt(pow(cos(u2) * sin(lam), 2)
                          + pow(cos(u1) * sin(u2)
                                - sin(u1) * cos(u2) * cos(lam), 2)), 2))
                   * (4.0 + {f!r} * (4.0 - 3.0 * (1.0 - pow(
                     cos(u1) * cos(u2) * sin(lam) /
                     sqrt(pow(cos(u2) * sin(lam), 2)
                          + pow(cos(u1) * sin(u2)
                                - sin(u1) * cos(u2) * cos(lam), 2)), 2)))))
                  * (sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam))
                  * (-1.0 + 2.0 * pow(
                      (sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam))
                      - 2.0 * sin(u1) * sin(u2) / (1.0 - pow(
                          cos(u1) * cos(u2) * sin(lam) /
                          sqrt(pow(cos(u2) * sin(lam), 2)
                               + pow(cos(u1) * sin(u2)
                                     - sin(u1) * cos(u2) * cos(lam), 2)),
                          2)), 2)))),
        i + 1
      FROM it WHERE i < 30
    ), fin AS (
      SELECT o_orderkey, lat1, lon1, lat2, lon2, u1, u2, lam
      FROM it WHERE i = 30
    ), g1 AS (
      SELECT *,
        sqrt(pow(cos(u2) * sin(lam), 2)
             + pow(cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam), 2))
          AS sin_s,
        sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam) AS cos_s
      FROM fin
    ), g2 AS (
      SELECT *, atan2(sin_s, cos_s) AS sigma,
        1.0 - pow(cos(u1) * cos(u2) * sin(lam) / sin_s, 2) AS cos2a
      FROM g1
    ), g3 AS (
      SELECT *,
        cos_s - 2.0 * sin(u1) * sin(u2) / cos2a AS cos2sm,
        cos2a * ({_V_A!r} * {_V_A!r} - {_V_B!r} * {_V_B!r})
          / ({_V_B!r} * {_V_B!r}) AS u_sq
      FROM g2
    ), g4 AS (
      SELECT *,
        1.0 + u_sq / 16384.0 * (4096.0 + u_sq
          * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))) AS big_a,
        u_sq / 1024.0 * (256.0 + u_sq
          * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))) AS big_b
      FROM g3
    ), g5 AS (
      SELECT *,
        big_b * sin_s * (cos2sm + big_b / 4.0 * (
          cos_s * (-1.0 + 2.0 * cos2sm * cos2sm)
          - big_b / 6.0 * cos2sm * (-3.0 + 4.0 * sin_s * sin_s)
            * (-3.0 + 4.0 * cos2sm * cos2sm))) AS d_sigma
      FROM g4
    )
    SELECT o_orderkey, lat1, lon1, lat2, lon2,
      CAST(round({_V_B!r} * big_a * (sigma - d_sigma) * 10000.0)
        AS BIGINT) AS dist_01mm,
      CAST(round(fmod(degrees(atan2(cos(u2) * sin(lam),
        cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam))) + 360.0,
        360.0) * 1000000.0) AS BIGINT) AS azf_e6,
      CAST(round(fmod(180.0 + degrees(atan2(cos(u1) * sin(lam),
        -sin(u1) * cos(u2) + cos(u1) * sin(u2) * cos(lam))) + 360.0,
        360.0) * 1000000.0) AS BIGINT) AS azr_e6
    FROM g5
    """


@register("q438_geodesic_distance", oracle=_vincenty_oracle())
def q438(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_partitions

    o = F.col("o_orderkey")
    pts = ensure_min_partitions(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            (-55.0 + (o % 111)).cast("double").alias("lat1"),
            (-170.0 + (o % 340)).cast("double").alias("lon1"),
            (-55.0 + (o % 111) + 0.05 + (o % 7) * 0.08)
            .cast("double").alias("lat2"),
            (-170.0 + (o % 340) + 0.04 + (o % 11) * 0.06)
            .cast("double").alias("lon2")))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from ..functions.geodesic import vincenty_inverse

        for pdf in batches:
            s, azf, azr = vincenty_inverse(
                pdf["lon1"].to_numpy(), pdf["lat1"].to_numpy(),
                pdf["lon2"].to_numpy(), pdf["lat2"].to_numpy())
            yield pd.DataFrame({
                "o_orderkey": pdf["o_orderkey"],
                "lat1": pdf["lat1"], "lon1": pdf["lon1"],
                "lat2": pdf["lat2"], "lon2": pdf["lon2"],
                "dist_01mm": np.round(s * 10000.0).astype("int64"),
                "azf_e6": np.round(azf * 1e6).astype("int64"),
                "azr_e6": np.round(azr * 1e6).astype("int64"),
            })

    return pts.mapInPandas(kernel, GEODESIC_SCHEMA)


# --------------------------------------------------------------------------
# q439 — GEODESIC-RADIUS SPATIAL NEAR-DUP JOIN: "all point pairs within
# 250 m ground distance" — the spatial twin of the text near-dup
# family, in the scale-safe shape: grid-cell bucketing (cell + 8
# neighbors as EQUI-join keys — never an all-pairs theta join) feeds a
# vectorized Vincenty refine, so candidates are O(density x points),
# not O(n^2). Fixture: 1000 station groups 2.2 km apart, members 16.7 m
# apart along a meridian — cross-group pairs can never qualify (proof
# by construction: min inter-group gap 1.6 km), so the oracle
# enumerates in-group pairs directly and computes their TRUE geodesic
# by a DIFFERENT public formulation: the meridian arc via the
# Karney-Krüger rectifying series (members share a longitude). Two
# independent algorithms (Vincenty vs Krüger) must agree to 0.1 mm on
# every pair for the hash to match — a series-coefficient error in
# EITHER implementation breaks it.
# --------------------------------------------------------------------------
_NEARDUP_R_M = 250.0
_NEARDUP_CELL = 0.005  # deg; >= 250 m in both axes below lat 55


def _meridian_arc_sql(lat_expr: str) -> str:
    """Rectifying ordinate xi(lat) * A_bar on WGS84 (lam=0: cosh terms
    vanish), as a SQL scalar expression over ``lat_expr`` degrees."""
    _a, _e2, e, a_bar, alpha = _tm_series_literals("WGS84")
    tau = f"tan(radians({lat_expr}))"
    v = (f"{e!r} * 0.5 * ln((1.0 + {e!r} * {tau} / sqrt(1.0 + {tau} * {tau}))"
         f" / (1.0 - {e!r} * {tau} / sqrt(1.0 + {tau} * {tau})))")
    sigma = f"(exp({v}) - exp(-{v})) / 2.0"
    taup = (f"({tau} * sqrt(1.0 + {sigma} * {sigma})"
            f" - {sigma} * sqrt(1.0 + {tau} * {tau}))")
    xip = f"atan({taup})"
    series = " + ".join(f"{c!r} * sin({2 * j} * {xip})"
                        for j, c in enumerate(alpha, start=1))
    return f"{a_bar!r} * ({xip} + {series})"


@register(
    "q439_geodesic_neardup",
    oracle=f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(35.0 + (o_orderkey % 1000) * 0.02
                  + (o_orderkey // 1000) * 0.00015 AS DOUBLE) AS lat,
             CAST(-90.0 + (o_orderkey % 1000) * 0.025 AS DOUBLE) AS lon,
             o_orderkey % 1000 AS grp
      FROM orders
    ), pairs AS (
      SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b,
             a.lat AS lat_a, b.lat AS lat_b
      FROM pts a JOIN pts b
        ON a.grp = b.grp AND a.o_orderkey < b.o_orderkey
    ), d AS (
      SELECT id_a, id_b,
             ({_meridian_arc_sql('lat_b')})
             - ({_meridian_arc_sql('lat_a')}) AS dist_m
      FROM pairs
    )
    SELECT id_a, id_b,
           CAST(round(abs(dist_m) * 10000.0) AS BIGINT) AS dist_01mm
    FROM d WHERE abs(dist_m) < {_NEARDUP_R_M!r}
    """,
)
def q439(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_partitions

    o = F.col("o_orderkey")
    pts = ensure_min_partitions(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            (35.0 + (o % 1000) * 0.02 + (o / 1000).cast("long")
             * 0.00015).cast("double").alias("lat"),
            (-90.0 + (o % 1000) * 0.025).cast("double").alias("lon")))
    cells = pts.select(
        "*",
        F.floor(F.col("lat") / _NEARDUP_CELL).alias("lat_c"),
        F.floor(F.col("lon") / _NEARDUP_CELL).alias("lon_c"))
    # candidate generation: a's cell, shifted over the 3x3 neighborhood,
    # EQUI-joins b's cell — Catalyst extracts hash keys; never all-pairs
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("dlat"),
        (F.col("id") / 3).cast("long").alias("dlon0")).select(
        "dlat", (F.col("dlon0") - 1).alias("dlon"))
    a = cells.alias("a").crossJoin(F.broadcast(offs))
    cand = a.join(
        cells.alias("b"),
        (F.col("a.lat_c") + F.col("dlat") == F.col("b.lat_c"))
        & (F.col("a.lon_c") + F.col("dlon") == F.col("b.lon_c"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        # rigorous meridian lower bound: any path between two latitudes
        # is at least the meridian arc between them, and a WGS84 degree
        # of latitude is > 110,574 m everywhere — so a pair with
        # dlat * 110,000 > R + 10 has geodesic distance > R and can
        # never survive the Vincenty refine. Pruning here keeps ~2/3 of
        # the 3x3-cell candidates out of the Arrow kernel entirely.
        & (F.abs(F.col("a.lat") - F.col("b.lat"))
           < F.lit((_NEARDUP_R_M + 10.0) / 110000.0)),
    ).select(
        F.col("a.o_orderkey").alias("id_a"),
        F.col("b.o_orderkey").alias("id_b"),
        F.col("a.lon").alias("lon_a"), F.col("a.lat").alias("lat_a"),
        F.col("b.lon").alias("lon_b"), F.col("b.lat").alias("lat_b"),
    )

    def refine(batches):
        import numpy as np
        import pandas as pd

        from ..functions.geodesic import vincenty_inverse

        for pdf in batches:
            if not len(pdf):
                continue
            s, _af, _ar = vincenty_inverse(
                pdf["lon_a"].to_numpy(), pdf["lat_a"].to_numpy(),
                pdf["lon_b"].to_numpy(), pdf["lat_b"].to_numpy())
            keep = s < _NEARDUP_R_M
            yield pd.DataFrame({
                "id_a": pdf["id_a"][keep],
                "id_b": pdf["id_b"][keep],
                "dist_01mm": np.round(s[keep] * 10000.0).astype("int64"),
            })

    return cand.mapInPandas(
        refine, "id_a long, id_b long, dist_01mm long")


# --------------------------------------------------------------------------
# q440 — VINCENTY DIRECT (destination from start + bearing + distance):
# the waypoint/buffer-ring primitive paired with q438's inverse. The
# oracle replays the direct solution in DuckDB — per-row constants
# (reduced latitude, sigma1, sin_alpha, the A/B series) in plain CTEs,
# the sigma fixed point as a 30-round recursive CTE, then phi2/lambda/L
# and the back azimuth — both sides rounded to 1e-9 degree (~0.1 mm)
# and 1e-6 degree of azimuth. tests/test_geodesic.py closes the loop
# direct(inverse(P1,P2)) == P2 on the published GDA line.
# --------------------------------------------------------------------------
def _vincenty_direct_oracle() -> str:
    f = _V_F
    b = _V_B
    return f"""
    WITH RECURSIVE pts AS (
      SELECT o_orderkey,
             CAST(-60.0 + (o_orderkey % 121) AS DOUBLE) AS lat1,
             CAST(-175.0 + (o_orderkey % 350) AS DOUBLE) AS lon1,
             CAST((o_orderkey % 3600) * 0.1 AS DOUBLE) AS az,
             CAST(100.0 + (o_orderkey % 997) * 500.0 AS DOUBLE) AS s
      FROM orders
    ), u AS (
      SELECT o_orderkey, lat1, lon1, az, s,
             (1.0 - {f!r}) * tan(radians(lat1)) AS tan_u1,
             radians(az) AS a1
      FROM pts
    ), k AS (
      SELECT *,
             1.0 / sqrt(1.0 + tan_u1 * tan_u1) AS cu1,
             tan_u1 / sqrt(1.0 + tan_u1 * tan_u1) AS su1,
             atan2(tan_u1, cos(a1)) AS sigma1,
             (1.0 / sqrt(1.0 + tan_u1 * tan_u1)) * sin(a1) AS sin_a
      FROM u
    ), k2 AS (
      SELECT *, 1.0 - sin_a * sin_a AS cos2a FROM k
    ), k3 AS (
      SELECT *, cos2a * ({_V_A!r} * {_V_A!r} - {b!r} * {b!r})
                / ({b!r} * {b!r}) AS u_sq
      FROM k2
    ), k4 AS (
      SELECT *,
        1.0 + u_sq / 16384.0 * (4096.0 + u_sq
          * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))) AS big_a,
        u_sq / 1024.0 * (256.0 + u_sq
          * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))) AS big_b
      FROM k3
    ), base AS (
      SELECT *, s / ({b!r} * big_a) AS s0 FROM k4
    ), it(o_orderkey, lat1, lon1, az, a1, cu1, su1, sigma1, sin_a,
          cos2a, big_b, s0, sigma, i) AS (
      SELECT o_orderkey, lat1, lon1, az, a1, cu1, su1, sigma1, sin_a,
             cos2a, big_b, s0, s0, 0
      FROM base
      UNION ALL
      SELECT o_orderkey, lat1, lon1, az, a1, cu1, su1, sigma1, sin_a,
             cos2a, big_b, s0,
        s0 + big_b * sin(sigma) * (
          cos(2.0 * sigma1 + sigma) + big_b / 4.0 * (
            cos(sigma) * (-1.0 + 2.0 * cos(2.0 * sigma1 + sigma)
                          * cos(2.0 * sigma1 + sigma))
            - big_b / 6.0 * cos(2.0 * sigma1 + sigma)
              * (-3.0 + 4.0 * sin(sigma) * sin(sigma))
              * (-3.0 + 4.0 * cos(2.0 * sigma1 + sigma)
                 * cos(2.0 * sigma1 + sigma)))),
        i + 1
      FROM it WHERE i < 30
    ), fin AS (
      SELECT o_orderkey, lat1, lon1, az, a1, cu1, su1, sigma1, sin_a,
             cos2a, sigma
      FROM it WHERE i = 30
    ), g1 AS (
      SELECT *, sin(sigma) AS ss, cos(sigma) AS cs, cos(a1) AS ca1,
             cos(2.0 * sigma1 + sigma) AS cos2sm,
             ({f!r} / 16.0) * cos2a
               * (4.0 + {f!r} * (4.0 - 3.0 * cos2a)) AS c
      FROM fin
    ), g2 AS (
      SELECT *,
        atan2(su1 * cs + cu1 * ss * ca1,
              (1.0 - {f!r}) * sqrt(sin_a * sin_a
                + (su1 * ss - cu1 * cs * ca1)
                  * (su1 * ss - cu1 * cs * ca1))) AS phi2,
        atan2(ss * sin(a1), cu1 * cs - su1 * ss * ca1)
          - (1.0 - c) * {f!r} * sin_a * (
              sigma + c * ss * (cos2sm + c * cs
                * (-1.0 + 2.0 * cos2sm * cos2sm))) AS big_l
      FROM g1
    )
    SELECT o_orderkey, lat1, lon1, az, s,
      CAST(round(degrees(phi2) * 1000000000.0) AS BIGINT) AS lat2_e9,
      CAST(round((lon1 + degrees(big_l)) * 1000000000.0) AS BIGINT)
        AS lon2_e9,
      CAST(round(fmod(180.0 + degrees(atan2(sin_a,
        -(su1 * ss - cu1 * cs * ca1))) + 360.0, 360.0)
        * 1000000.0) AS BIGINT) AS azb_e6
    FROM g2 JOIN pts USING (o_orderkey, lat1, lon1, az)
    """


@register("q440_geodesic_direct", oracle=_vincenty_direct_oracle())
def q440(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_partitions

    o = F.col("o_orderkey")
    pts = ensure_min_partitions(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            (-60.0 + (o % 121)).cast("double").alias("lat1"),
            (-175.0 + (o % 350)).cast("double").alias("lon1"),
            ((o % 3600) * 0.1).cast("double").alias("az"),
            (100.0 + (o % 997) * 500.0).cast("double").alias("s")))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from ..functions.geodesic import vincenty_direct

        for pdf in batches:
            lo2, la2, azb = vincenty_direct(
                pdf["lon1"].to_numpy(), pdf["lat1"].to_numpy(),
                pdf["az"].to_numpy(), pdf["s"].to_numpy())
            yield pd.DataFrame({
                "o_orderkey": pdf["o_orderkey"],
                "lat1": pdf["lat1"], "lon1": pdf["lon1"],
                "az": pdf["az"], "s": pdf["s"],
                "lat2_e9": np.round(la2 * 1e9).astype("int64"),
                "lon2_e9": np.round(lo2 * 1e9).astype("int64"),
                "azb_e6": np.round(azb * 1e6).astype("int64"),
            })

    return pts.mapInPandas(
        kernel, "o_orderkey long, lat1 double, lon1 double, az double, "
                "s double, lat2_e9 long, lon2_e9 long, azb_e6 long")
