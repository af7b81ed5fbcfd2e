"""Raster layer pipeline: the Spark-first twin of the reference's
``RasterPipe`` (``gfw_pixetl/pipes/raster_pipe.py:15-83``, lifecycle
SURVEY §3.1/§3.4).

Dataflow (one linear plan, lazy until the status frame is consumed):

    seed tiles (F1, spark.range + column math)  ->  subset filter (F2)
    ->  target-exists anti-join (F5)  ->  broadcast join to the
    intersecting source files of a local-relation catalog, which is also
    the source-intersects prune (F3/F6)  ->  windows explode
    (block-aligned, P5 replaced by fixed sizing)  ->  mapInPandas kernel
    {read S4, calc C1, cast+nodata C3, empty-block marker F8}  ->
    groupBy(tile_id) writer sink (S8), which decides every tile's status
    (F9/F10)  ->  manifest aggregation (S10)

Everything before the kernel runs in the JVM: the window kernel is the
first stage that starts a Python worker (each such stage costs ~0.2-0.3 s
of fixed overhead on a 4-vCPU host before it does any work).

Scale notes. Tiles and windows are metadata rows (a few dozen bytes);
the only heavy payloads are the window arrays, which exist solely inside
the kernel stage and the single groupBy(tile_id) shuffle feeding the
writer. Window size is bounded (blocks_per_window * block^2 pixels) so a
task's Arrow batch stays far below the 2 GB limit regardless of tile size
(SURVEY §7.4-4): a 40000^2 tile is 10000 window rows, never one row.
The file catalog is broadcast (it is tiny relative to pixel data), making
the spatial prune map-only. AQE handles skew when some tiles intersect
many more files than others.
"""

from __future__ import annotations

import io
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.calc import apply_calc, block_has_data, set_datatype
from ..grids import Grid
from ..models import LayerModel
from ..session import local_frame
from ..sources.geotiff import write_cog
from ..sources.raster import WindowReader
from ..sources.raster_meta import metadata_from_array, write_stats_sidecar

WINDOW_PAYLOAD_COLS = [
    "tile_id", "row_off", "col_off", "height", "width",
    "bands", "dtype", "valid_pixels", "payload",
]
WINDOW_PAYLOAD_SCHEMA = (
    "tile_id string, row_off int, col_off int, height int, width int, "
    "bands int, dtype string, valid_pixels long, payload binary"
)

STATUS_SCHEMA = (
    "tile_id string, status string, n_windows int, out_path string"
)


def seed_tiles(spark: SparkSession, grid: Grid) -> DataFrame:
    """F1 grid seeding (``pipes/pipe.py:55-63``) as ``spark.range`` plus
    column math: the closed-form row/column math for zoom grids, and for
    lat/lng grids the cross product of the grid's distinct tile-origin
    axes (``LatLngGrid.tile_origin_axes``), indexed from literal arrays.
    No Python worker runs and no tile list materializes on the driver,
    so it scales to zoom-22's 268M tiles.
    """
    from ..grids import LatLngGrid, WebMercatorGrid

    if isinstance(grid, WebMercatorGrid):
        side = int(grid.nb_tiles ** 0.5)
        b = grid.bounds
        tile_w = (b.right - b.left) / side
        tile_h = (b.top - b.bottom) / side
        df = spark.range(side * side)
        row = (F.col("id") / side).cast("long")
        col = F.col("id") % side
        return df.select(
            F.concat(
                F.lpad(row.cast("string"), 3, "0"), F.lit("R_"),
                F.lpad(col.cast("string"), 3, "0"), F.lit("C"),
            ).alias("tile_id"),
            (F.lit(b.left) + col * tile_w).alias("tile_left"),
            (F.lit(b.top) - (row + 1) * tile_h).alias("tile_bottom"),
            (F.lit(b.left) + (col + 1) * tile_w).alias("tile_right"),
            (F.lit(b.top) - row * tile_h).alias("tile_top"),
        )

    assert isinstance(grid, LatLngGrid)
    lngs, lats = grid.tile_origin_axes()
    nx = len(lngs)

    def axis(values: list[int], index: str) -> str:
        return (f"element_at(array({', '.join(map(str, values))}), "
                f"CAST({index} + 1 AS INT))")

    # SQL text rather than Column calls: one JVM call per projection, not
    # one per literal (the 10-degree grid's frame builds in 13 ms instead
    # of 80 ms on a 4-vCPU host)
    return spark.range(nx * len(lats)).selectExpr(
        f"{axis(lngs, f'id % {nx}')} AS x",
        f"{axis(lats, f'id DIV {nx}')} AS y",
    ).selectExpr(
        # the LatLngGrid.xy_to_tile_id format: 10N_010E, 05S_170W
        "format_string('%02d%s_%03d%s', abs(y), IF(y >= 0, 'N', 'S'), "
        "abs(x), IF(x >= 0, 'E', 'W')) AS tile_id",
        "CAST(x AS DOUBLE) AS tile_left",
        f"CAST(y - {grid.height} AS DOUBLE) AS tile_bottom",
        f"CAST(x + {grid.width} AS DOUBLE) AS tile_right",
        "CAST(y AS DOUBLE) AS tile_top",
    )


def file_catalog(spark: SparkSession, files: list[dict]) -> DataFrame:
    """Source-file catalog DF: one row per (uri, band, footprint) — the
    manifest-scan output (S1/S2, ``gfw_pixetl/layers.py:114-161``). A
    local relation, so the broadcast side of the prune starts no Python
    task."""
    return local_frame(spark, [
        (f["uri"], int(f.get("band", 1)), float(f["left"]),
         float(f["bottom"]), float(f["right"]), float(f["top"]))
        for f in files
    ], "uri string, band int, f_left double, f_bottom double, "
       "f_right double, f_top double")


def _overlap():
    """Strict interior overlap of a tile and a catalog footprint
    (intersects and not merely touches, ``tiles/raster_src_tile.py:155-161``)
    — pure column comparisons, so Catalyst keeps it inside codegen."""
    return (
        (F.col("tile_left") < F.col("f_right"))
        & (F.col("tile_right") > F.col("f_left"))
        & (F.col("tile_bottom") < F.col("f_top"))
        & (F.col("tile_top") > F.col("f_bottom"))
    )


def select_tiles(tiles: DataFrame, subset: list[str] | None = None,
                 existing: DataFrame | None = None) -> DataFrame:
    """F2 subset + F5 target-exists filters."""
    if subset:
        tiles = tiles.filter(F.col("tile_id").isin(subset))
    if existing is not None:
        tiles = tiles.join(existing, "tile_id", "left_anti")
    return tiles


def prune_tiles(tiles: DataFrame, catalog: DataFrame) -> DataFrame:
    """F3 source-intersects pruning; the catalog side is broadcast, so
    pruning is map-only over the tile set."""
    return tiles.join(F.broadcast(catalog), _overlap(), "left_semi")


def tile_files(tiles: DataFrame, catalog: DataFrame) -> DataFrame:
    """F6: per-tile list of intersecting source uris, ordered by catalog
    order (the VRT first-wins merge order, S5). The inner join drops a
    tile no file overlaps, so it also prunes like F3."""
    return (
        tiles.join(F.broadcast(catalog), _overlap())
        .groupBy(
            "tile_id", "tile_left", "tile_bottom", "tile_right", "tile_top"
        )
        .agg(F.sort_array(F.collect_list(F.struct("band", "uri"))).alias("bu"))
        .withColumn("uris", F.col("bu.uri"))
        .drop("bu")
    )


def plan_windows(
    tiles_with_files: DataFrame, grid: Grid, blocks_per_window: int = 1
) -> DataFrame:
    """Explode tiles into block-aligned windows (replaces the reference's
    memory-model window planner, ``tiles/raster_src_tile.py:328-451``).

    Window size = blocks_per_window * block size on each axis; pure column
    math (sequence + explode), no UDF, no driver loop.
    """
    win = grid.blockxsize * blocks_per_window
    n = (grid.cols + win - 1) // win
    idx = F.explode(F.sequence(F.lit(0), F.lit(n * n - 1))).alias("widx")
    out = tiles_with_files.select("*", idx)
    wrow = (F.col("widx") / n).cast("int")
    wcol = F.col("widx") % n
    row_off = wrow * win
    col_off = wcol * win
    height = F.least(F.lit(win), F.lit(grid.rows) - row_off)
    width = F.least(F.lit(win), F.lit(grid.cols) - col_off)
    return out.select(
        "tile_id", "tile_left", "tile_bottom", "tile_right", "tile_top",
        "uris",
        row_off.cast("int").alias("row_off"),
        col_off.cast("int").alias("col_off"),
        height.cast("int").alias("height"),
        width.cast("int").alias("width"),
    )


def write_tiles(
    payloads: DataFrame, layer: LayerModel, grid: Grid, work_dir: str
) -> DataFrame:
    """S8 sink: one writer per tile assembles windows into the tile array
    and writes a real tiled-DEFLATE COG (pure-Python codec,
    ``sources/geotiff.py``); shared by the raster and vector pipes.
    groupBy(tile_id) + applyInPandas = the single-writer-per-tile
    invariant; windowed assembly keeps peak memory at one tile per task.
    Empty-window markers (``bands == 0``) are dropped on arrival; a tile
    with only markers is ``skipped (has no data)`` (F9), nothing written.
    The profile mirrors ``gfw_pixetl/tiles/tile.py:54-97`` (tiled layout,
    block size, compression, CRS, nodata, photometric, NBITS) and the
    write is atomic (tmp + rename), matching the reference's
    write-then-upload discipline.
    """
    rows_, cols_ = grid.rows, grid.cols
    nodata = layer.no_data if isinstance(layer.no_data, list) else (
        layer.dtype_obj.no_data
    )
    prefix = layer.prefix
    blockxsize = grid.blockxsize
    compression = layer.dtype_obj.compression or "NONE"
    nbits = layer.dtype_obj.nbits
    crs = grid.crs
    xres, yres = grid.xres, grid.yres
    photometric = layer.photometric
    symbology = layer.symbology
    compute_stats = layer.compute_stats
    compute_histogram = layer.compute_histogram
    dst_formats = tuple(layer.dst_formats)
    # bounds come from the closed-form tile-id math (C5) inside each
    # writer task — never a driver-side enumeration of the whole grid
    get_bounds = grid.get_tile_bounds

    def writer(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_id = pdf["tile_id"].iloc[0]
        pdf = pdf[pdf["bands"] != 0]  # drop empty-window (F8) markers

        def status(text, path=None):
            return pd.DataFrame(
                [(tile_id, text, len(pdf), path)],
                columns=["tile_id", "status", "n_windows", "out_path"],
            )

        if pdf.empty:
            return status("skipped (has no data)")  # F9: nothing written
        errors = pdf[pdf["bands"] < 0]
        if len(errors):
            # any failed window fails the tile; nothing is written (F10)
            return status(f"failed - {errors['dtype'].iloc[0]}")
        bands = int(pdf["bands"].iloc[0])
        dtype = pdf["dtype"].iloc[0]
        fill = 0 if nodata is None else (
            nodata[0] if isinstance(nodata, list) else nodata
        )
        tile = np.full((bands, rows_, cols_), fill, dtype=dtype)
        for r in pdf.itertuples(index=False):
            arr = np.load(io.BytesIO(r.payload), allow_pickle=False)
            tile[
                :, r.row_off:r.row_off + r.height,
                r.col_off:r.col_off + r.width,
            ] = arr
        out_dir = os.path.join(work_dir, prefix, "geotiff")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{tile_id}.tif")
        tb = get_bounds(tile_id)
        # C6: symbology / photometric tagging passes through to the
        # output tags (gfw_pixetl/tiles/tile.py:68-71)
        meta = (
            {"SYMBOLOGY": json.dumps(symbology)} if symbology else None
        )
        transform = (tb.left, xres, tb.top, yres)
        profile = write_cog(
            path, tile,
            transform=transform,
            crs=crs,
            nodata=None if nodata is None else fill,
            blockxsize=blockxsize,
            compress=compression,
            photometric=photometric,
            nbits=nbits,
            metadata=meta,
            # the reference writes flat tiled GeoTIFFs (no gdaladdo pass)
            # — overview pyramids are the zoom-pyramid rollup's job (q127)
            overviews=False,
        )
        if "gdal-geotiff" in dst_formats:
            # secondary higher-compression copy (create_gdal_geotiff,
            # tiles/tile.py:125-137 + utils/gdal.py:98-106): same pixels,
            # max deflate + horizontal-differencing predictor for ints
            gdir = os.path.join(work_dir, prefix, "gdal-geotiff")
            os.makedirs(gdir, exist_ok=True)
            write_cog(
                os.path.join(gdir, f"{tile_id}.tif"), tile,
                transform=transform, crs=crs,
                nodata=None if nodata is None else fill,
                blockxsize=blockxsize, compress="DEFLATE",
                predictor=2 if np.dtype(dtype).kind in "ui"
                and not (nbits is not None and nbits < 8) else 1,
                photometric=photometric, nbits=nbits, metadata=meta,
                zlevel=9, overviews=False,
            )
        if compute_stats or compute_histogram:
            # stats/histogram from the pixels already in hand — never a
            # second read pass over the output (tiles/tile.py:190-196;
            # sidecar = the .aux.xml gdalinfo -stats persists)
            md = metadata_from_array(
                tile, profile, transform,
                compute_stats=compute_stats,
                compute_histogram=compute_histogram,
            )
            write_stats_sidecar(path, md)
        return status("processed", path)

    return payloads.groupBy("tile_id").applyInPandas(writer, STATUS_SCHEMA)


@dataclass
class RasterPipe:
    """Execute a raster layer as one Spark dataflow (SURVEY §3.1).

    ``grid`` overrides the layer's catalog grid (used by tests to run the
    full pipeline on small ad-hoc grids without 40000^2-px tiles).
    """

    layer: LayerModel
    reader: WindowReader
    work_dir: str
    blocks_per_window: int = 1
    grid: Grid | None = None

    @property
    def grid_obj(self) -> Grid:
        return self.grid or self.layer.grid_obj

    def transform_windows(self, windows: DataFrame) -> DataFrame:
        """The fused per-window kernel: read -> calc -> cast+nodata fill,
        exactly the reference's ``transform``
        (``tiles/utils/transform.py:15-68``) as a mapInPandas stage.

        Arrow moves each batch once; all math is NumPy over whole windows
        (the reference's vectorization, preserved). An empty window (F8)
        leaves as a marker row (``bands = 0``, null payload, no valid
        pixels), so its pixels never shuffle but the writer sees the tile.
        """
        layer = self.layer
        reader = self.reader
        grid = self.grid_obj
        xres, yres = grid.xres, grid.yres
        band_count = layer.band_count
        calc_expr = layer.calc
        dtype = layer.dtype_obj
        nodata = layer.no_data if isinstance(layer.no_data, list) else dtype.no_data
        np_dtype = dtype.data_type

        # Arrow caps a single array at 2 GiB; a batch of window rows can
        # carry maxRecordsPerBatch * window_bytes of binary payload, so
        # the kernel must re-chunk its OUTPUT by bytes, not rows — at
        # 10000 rows x 1 MB windows the unchunked yield overflows into a
        # ChunkedArray and kills the exchange (SURVEY §7.4-4's limit, on
        # the producer side).
        max_yield_bytes = 128 * 1024 * 1024

        def window_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                out_bytes = 0
                for r in pdf.itertuples(index=False):
                    if out and out_bytes >= max_yield_bytes:
                        yield pd.DataFrame(out, columns=WINDOW_PAYLOAD_COLS)
                        out, out_bytes = [], 0
                    try:
                        left = r.tile_left + r.col_off * xres
                        top = r.tile_top - r.row_off * yres
                        bounds = (
                            left, top - r.height * yres,
                            left + r.width * xres, top,
                        )
                        arr = reader(
                            list(r.uris), bounds, (r.height, r.width), band_count
                        )
                        if not block_has_data(arr):  # F8 marker row
                            out.append((r.tile_id, r.row_off, r.col_off,
                                        r.height, r.width, 0, np_dtype, 0, None))
                            continue
                        arr = apply_calc(arr, calc_expr, band_count)
                        valid = int(
                            (~np.ma.getmaskarray(arr)).sum()
                        )
                        filled = set_datatype(arr, nodata, np_dtype)
                    except Exception as e:  # noqa: BLE001
                        # per-tile error isolation (F10): a bad window marks
                        # its tile failed instead of killing the job —
                        # the reference's error→status routing
                        # (gfw_pixetl/pipes/pipe.py:150-162)
                        out.append((
                            r.tile_id, r.row_off, r.col_off,
                            r.height, r.width, -1,
                            f"{type(e).__name__}: {e}"[:200], 0, None,
                        ))
                        continue
                    buf = io.BytesIO()
                    np.save(buf, filled, allow_pickle=False)
                    payload = buf.getvalue()
                    out_bytes += len(payload)
                    out.append((
                        r.tile_id, r.row_off, r.col_off, r.height, r.width,
                        filled.shape[0], np_dtype, valid, payload,
                    ))
                yield pd.DataFrame(out, columns=WINDOW_PAYLOAD_COLS)

        return windows.mapInPandas(window_kernel, WINDOW_PAYLOAD_SCHEMA)

    def write_tiles(self, payloads: DataFrame) -> DataFrame:
        return write_tiles(payloads, self.layer, self.grid_obj, self.work_dir)

    def run(
        self,
        spark: SparkSession,
        files: list[dict],
        subset: list[str] | None = None,
        existing_tile_ids: list[str] | None = None,
        existing: DataFrame | None = None,
    ) -> DataFrame:
        """Full pipeline; returns the per-tile status DataFrame (F10).

        Statuses mirror ``pipes/pipe.py:137-162``: processed / skipped
        (has no data) / failed, all decided by the tile writer. Tiles
        outside ``subset`` and ``existing`` tiles are filtered out before
        any work and get no status row. ``existing`` takes a tile_id
        DataFrame directly (e.g. ``object_store.existing_tiles``);
        ``existing_tile_ids`` is the list-literal convenience.
        """
        grid = self.grid_obj
        tiles = seed_tiles(spark, grid)
        catalog = file_catalog(spark, files)
        if existing is None and existing_tile_ids:
            existing = local_frame(
                spark, [(t,) for t in existing_tile_ids], "tile_id string")
        # tile_files' inner join is the F3 prune; a semi join ahead of it
        # would only add a broadcast job
        windows = plan_windows(
            tile_files(select_tiles(tiles, subset, existing), catalog),
            grid, self.blocks_per_window)
        return self.write_tiles(self.transform_windows(windows))

    def publish(
        self,
        spark: SparkSession,
        statuses: DataFrame,
        cfg,
        bucket: str,
        prefix: str,
        job_id: str | None = None,
    ) -> dict:
        """S9+S10 in one call with exactly-once manifest semantics: the
        reference's all-success-then-manifest flow
        (``pipes/pipe.py:163-166``) composed with the CAS commit
        (``sources/object_store.py::upload_exactly_once``). Returns the
        commit receipt {version, fresh, n_uploads}; a whole-job re-run
        returns the SAME version with fresh=False instead of
        double-counting tiles."""
        from ..sources.object_store import upload_exactly_once

        man = manifest(statuses, seed_tiles(spark, self.grid_obj))
        return upload_exactly_once(
            statuses, man, cfg, bucket, prefix, job_id=job_id)


def manifest(statuses: DataFrame, tiles: DataFrame) -> dict:
    """S10: tiles.geojson + extent.geojson from the processed tile set.

    The per-tile feature list is a collect of the (small) status table;
    the extent is a bounds union computed as a Spark aggregation. With
    rectangular grid tiles the exact union is the feature collection
    itself; extent.geojson carries the enclosing bounds (the reference
    unions polygons with shapely — identical for rect tile sets' bboxes).
    """
    joined = statuses.filter(F.col("status") == "processed").join(
        tiles, "tile_id"
    )
    ext = joined.agg(
        F.min("tile_left").alias("l"), F.min("tile_bottom").alias("b"),
        F.max("tile_right").alias("r"), F.max("tile_top").alias("t"),
    ).collect()[0]
    feats = [
        {
            "type": "Feature",
            "geometry": {
                "type": "Polygon",
                "coordinates": [[
                    [r.tile_left, r.tile_bottom], [r.tile_right, r.tile_bottom],
                    [r.tile_right, r.tile_top], [r.tile_left, r.tile_top],
                    [r.tile_left, r.tile_bottom],
                ]],
            },
            "properties": {"name": r.out_path, "tile_id": r.tile_id},
        }
        for r in joined.select(
            "tile_id", "out_path", "tile_left", "tile_bottom",
            "tile_right", "tile_top",
        ).collect()
    ]
    tiles_geojson = {"type": "FeatureCollection", "features": feats}
    extent_geojson = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[
                [ext.l, ext.b], [ext.r, ext.b], [ext.r, ext.t],
                [ext.l, ext.t], [ext.l, ext.b],
            ]],
        },
        "properties": {},
    } if feats else None
    return {"tiles": tiles_geojson, "extent": extent_geojson}
