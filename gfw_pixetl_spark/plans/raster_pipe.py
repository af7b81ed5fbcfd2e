"""Raster layer pipeline: the Spark-first twin of the reference's
``RasterPipe`` (``gfw_pixetl/pipes/raster_pipe.py:15-83``, lifecycle
SURVEY §3.1/§3.4).

Dataflow (one linear plan, lazy until the status frame is consumed):

    driver tile plan (:func:`plan_tiles`): F1 seed, F2 subset, F3
    source-intersects prune, F5 target-exists skip and F6 per-tile file
    lists, from the footprints the driver already holds, as a local
    relation of one row per kept tile  ->  mapInPandas tile job: per
    tile, per window {read S4, empty-block check F8, calc C1,
    cast+nodata C3} into the tile array, then the sink (S8) that decides
    the tile's status (F9/F10)  ->  manifest (S10)

The executed plan is ``LocalTableScan -> MapInPandas(tile_job)``: no
exchange and one Python stage (each Python stage costs ~0.2-0.3 s of
fixed overhead on a 4-vCPU host before it does any work). The scan
splits k tiles into min(k, defaultParallelism) tasks, so up to that many
tiles each run in their own task, and a tile is one row, so it has one
writer by construction.

Scale notes. The reference seeds and prunes its tile list on the driver
too (``pipes/pipe.py:55-63``); here each footprint asks the grid for the
tiles it overlaps (:meth:`Grid.overlapping_tile_ids`), so the driver
plan is O(kept tiles + file x tile overlaps) and never enumerates the
grid: the order of the per-tile status rows the report collects anyway.
Each tile job reads its windows one at a time straight into the tile
array, so a task holds one tile plus one window and no window row or
pixel crosses an exchange. The Spark-side planners (:func:`seed_tiles`,
:func:`prune_tiles`, :func:`tile_files`, :func:`plan_windows`) stay for
whole-grid frames: the vector pipe, streaming, the grid queries and the
payload path. The payload path (``transform_windows`` ->
``write_tiles``) runs the same window kernel and tile sink with the
window arrays as Arrow rows between them; it is the vector pipe's sink
and the tap that measures per-window volume, and its kernel re-chunks
its output by bytes to stay under Arrow's 2 GB limit (SURVEY §7.4-4).
"""
from __future__ import annotations

import io
import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.calc import apply_calc, set_datatype, valid_count
from ..grids import BoundingBox, Grid
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

TILE_PLAN_SCHEMA = (
    "tile_id string, tile_left double, tile_bottom double, "
    "tile_right double, tile_top double, uris array<string>"
)

STATUS_COLS = ["tile_id", "status", "n_windows", "out_path"]
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


def select_tiles(tiles: DataFrame,
                 subset: list[str] | None = None) -> DataFrame:
    """F2 subset filter."""
    if subset:
        tiles = tiles.filter(F.col("tile_id").isin(subset))
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


def _window_grid(grid: Grid, blocks_per_window: int) -> tuple[int, int]:
    """Window side in pixels and windows per tile side."""
    win = grid.blockxsize * blocks_per_window
    return win, (grid.cols + win - 1) // win


def plan_windows(
    tiles_with_files: DataFrame, grid: Grid, blocks_per_window: int = 1
) -> DataFrame:
    """Explode tiles into block-aligned windows (replaces the reference's
    memory-model window planner, ``tiles/raster_src_tile.py:328-451``).

    Window size = blocks_per_window * block size on each axis; pure column
    math (sequence + explode), no UDF, no driver loop.
    """
    win, n = _window_grid(grid, blocks_per_window)
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


def plan_tiles(
    spark: SparkSession,
    grid: Grid,
    files: list[dict],
    subset: list[str] | None = None,
    existing_tile_ids: list[str] | None = None,
) -> DataFrame:
    """F1 seed, F2 subset, F3 prune, F5 target-exists and F6 file lists,
    planned on the driver from the lists it already holds: one
    ``TILE_PLAN_SCHEMA`` row per kept tile, as a local relation (a
    ``LocalTableScan``, no Python worker, no exchange).

    Each footprint asks the grid for the tiles it strictly overlaps
    (:meth:`Grid.overlapping_tile_ids`, :func:`_overlap`'s predicate), so
    the driver does O(kept tiles + file x tile overlaps) work — the
    order of the status rows the report collects anyway — and never
    enumerates the grid. The rows equal
    ``tile_files(select_tiles(seed_tiles(...), subset), catalog)`` less
    the ``existing_tile_ids`` (F5, the sorted id list
    ``object_store.existing_tiles`` returns): bounds from
    :meth:`Grid.get_tile_bounds` (``seed_tiles``' double expressions) and
    ``uris`` ordered by ``(band, uri)``, duplicates kept. Rows are in
    tile-id order.
    """
    keep = set(subset) if subset else None
    skip = set(existing_tile_ids or ())
    per_tile: dict[str, list[tuple[int, str]]] = {}
    for f in files:
        footprint = BoundingBox(float(f["left"]), float(f["bottom"]),
                                float(f["right"]), float(f["top"]))
        for tid in grid.overlapping_tile_ids(footprint):
            per_tile.setdefault(tid, []).append(
                (int(f.get("band", 1)), f["uri"]))
    rows = []
    for tid in sorted(per_tile):
        if (keep is not None and tid not in keep) or tid in skip:
            continue
        b = grid.get_tile_bounds(tid)
        rows.append((tid, b.left, b.bottom, b.right, b.top,
                     [uri for _, uri in sorted(per_tile[tid])]))
    return local_frame(spark, rows, TILE_PLAN_SCHEMA)


def window_layout(
    grid: Grid, blocks_per_window: int = 1
) -> list[tuple[int, int, int, int]]:
    """``(row_off, col_off, height, width)`` of every window of a tile,
    in ``(row_off, col_off)`` order: the rows :func:`plan_windows`
    explodes for each tile."""
    win, n = _window_grid(grid, blocks_per_window)
    return [
        (r * win, c * win, min(win, grid.rows - r * win),
         min(win, grid.cols - c * win))
        for r in range(n) for c in range(n)
    ]


class _Window(NamedTuple):
    """One window of a tile, as :meth:`RasterPipe._window_transform`
    reads it (the fields of a :func:`plan_windows` row it uses)."""

    tile_left: float
    tile_top: float
    uris: Sequence[str]
    row_off: int
    col_off: int
    height: int
    width: int


def _tile_writer(layer: LayerModel, grid: Grid, work_dir: str):
    """S8 sink core shared by every tile path: returns
    ``write_tile(tile_id, windows) -> status row``.

    ``windows`` yields ``(row_off, col_off, outcome, array)`` in
    ``(row_off, col_off)`` order, where ``outcome`` is the window's band
    count, 0 for an empty window (F8, no array) or the error text of a
    window that raised. ``write_tile`` is the one place the statuses are
    decided: any failed window fails the tile with the first error in
    window order (F10), a tile with only empty windows is ``skipped (has
    no data)`` (F9), and nothing is written for either. ``n_windows``
    counts the data and failed windows. Data windows are copied into the
    tile array as they arrive, so peak memory is one tile plus one window.
    """
    rows_, cols_ = grid.rows, grid.cols
    nodata = layer.no_data if isinstance(layer.no_data, list) else (
        layer.dtype_obj.no_data
    )
    fill = 0 if nodata is None else (
        nodata[0] if isinstance(nodata, list) else nodata
    )
    dtype = layer.dtype_obj.data_type
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

    def _encode_tile(tile_id: str, tile: np.ndarray) -> str:
        """Write the tile as a COG with the profile of
        ``gfw_pixetl/tiles/tile.py:54-97``, plus the optional copies and
        sidecar; returns the COG path."""
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
        return path

    def write_tile(tile_id: str, windows) -> tuple:
        tile, error, n = None, None, 0
        for row_off, col_off, outcome, arr in windows:
            if isinstance(outcome, str):
                n += 1
                error = error or outcome
            elif outcome:
                n += 1
                if error is not None:
                    continue  # the tile fails: no need to assemble it
                if tile is None:
                    tile = np.full((int(outcome), rows_, cols_), fill,
                                   dtype=dtype)
                tile[:, row_off:row_off + arr.shape[1],
                     col_off:col_off + arr.shape[2]] = arr
        if error is not None:
            # per-tile error isolation: the reference's error→status
            # routing (gfw_pixetl/pipes/pipe.py:150-162)
            return (tile_id, f"failed - {error}", n, None)
        if tile is None:
            return (tile_id, "skipped (has no data)", 0, None)
        return (tile_id, "processed", n, _encode_tile(tile_id, tile))

    return write_tile


def write_tiles(
    payloads: DataFrame, layer: LayerModel, grid: Grid, work_dir: str
) -> DataFrame:
    """S8 sink over a window-payload frame (``WINDOW_PAYLOAD_SCHEMA``):
    the vector pipe's sink, and the raster pipe's payload path
    (:meth:`RasterPipe.transform_windows`). groupBy(tile_id) +
    applyInPandas is the single-writer-per-tile invariant; the payloads
    decode one at a time into the shared :func:`_tile_writer`.
    Empty-window markers (``bands == 0``) and failed windows
    (``bands < 0``, error text in ``dtype``) route as in the fused job.
    """
    write_tile = _tile_writer(layer, grid, work_dir)

    def windows(pdf: pd.DataFrame):
        for r in pdf.sort_values(["row_off", "col_off"]).itertuples(
                index=False):
            arr = None if r.bands <= 0 else np.load(
                io.BytesIO(r.payload), allow_pickle=False)
            yield (r.row_off, r.col_off,
                   r.dtype if r.bands < 0 else r.bands, arr)

    def writer(pdf: pd.DataFrame) -> pd.DataFrame:
        row = write_tile(pdf["tile_id"].iloc[0], windows(pdf))
        return pd.DataFrame([row], columns=STATUS_COLS)

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

    def _window_transform(self):
        """Build ``_transform_window(row) -> (outcome, array, valid)``,
        the one per-window kernel: read S4 -> empty check F8 -> calc C1 ->
        cast + nodata fill C3, exactly the reference's ``transform``
        (``tiles/utils/transform.py:15-68``), all NumPy over the whole
        window. ``outcome`` is the band count, 0 for an empty window
        (no array) or the error text of a window that raised;
        ``valid`` counts its unmasked pixels."""
        layer = self.layer
        reader = self.reader
        grid = self.grid_obj
        xres, yres = grid.xres, grid.yres
        band_count = layer.band_count
        calc_expr = layer.calc
        dtype = layer.dtype_obj
        nodata = layer.no_data if isinstance(layer.no_data, list) else dtype.no_data
        np_dtype = dtype.data_type

        def _transform_window(r) -> tuple:
            try:
                left = r.tile_left + r.col_off * xres
                top = r.tile_top - r.row_off * yres
                bounds = (
                    left, top - r.height * yres, left + r.width * xres, top,
                )
                arr = reader(list(r.uris), bounds, (r.height, r.width),
                             band_count)
                valid = valid_count(arr)
                if not valid:
                    return 0, None, 0
                if calc_expr:  # calc may mask more pixels
                    arr = apply_calc(arr, calc_expr, band_count)
                    valid = valid_count(arr)
                filled = set_datatype(arr, nodata, np_dtype)
            except Exception as e:  # noqa: BLE001
                # a bad window marks its tile failed instead of killing
                # the job (F10)
                return f"{type(e).__name__}: {e}"[:200], None, 0
            return filled.shape[0], filled, valid

        return _transform_window

    def tile_jobs(self, tiles: DataFrame) -> DataFrame:
        """The production tile stage: a ``mapInPandas`` over a tile frame
        (``TILE_PLAN_SCHEMA``: :func:`plan_tiles`, or :func:`tile_files`
        over a Spark-planned tile set) that, for each tile row, reads,
        calcs and casts the tile's windows (:func:`window_layout`, in
        ``(row_off, col_off)`` order) straight into the tile array, then
        encodes, profiles and writes the tile — the reference's one
        worker per tile with in-memory window merge
        (``pipes/raster_pipe.py:43-52``,
        ``tiles/raster_src_tile.py:212-298``). A tile is one row, so each
        tile has a single writer by construction, and no window row is
        materialised or shuffled. Over :func:`plan_tiles`' local
        relation no exchange runs at all: the scan splits its k tiles
        into min(k, defaultParallelism) tasks."""
        transform = self._window_transform()
        write_tile = _tile_writer(self.layer, self.grid_obj, self.work_dir)
        layout = window_layout(self.grid_obj, self.blocks_per_window)

        def windows(t) -> Iterator[tuple]:
            for cell in layout:
                w = _Window(t.tile_left, t.tile_top, t.uris, *cell)
                yield (w.row_off, w.col_off, *transform(w)[:2])

        def tile_job(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = [write_tile(t.tile_id, windows(t))
                        for t in pdf.itertuples(index=False)]
                if rows:
                    yield pd.DataFrame(rows, columns=STATUS_COLS)

        return tiles.mapInPandas(tile_job, STATUS_SCHEMA)

    def transform_windows(self, windows: DataFrame) -> DataFrame:
        """The window kernel alone, as a mapInPandas stage emitting the
        window-payload frame (``WINDOW_PAYLOAD_SCHEMA``) that
        :meth:`write_tiles` consumes: the payload adaptor over the same
        ``_transform_window`` the tile jobs run, for taps that measure
        the per-window volume. An empty window (F8) leaves as a marker
        row (``bands = 0``, null payload, no valid pixels), a failed one
        as ``bands = -1`` with its error text in ``dtype``.
        """
        transform = self._window_transform()
        np_dtype = self.layer.dtype_obj.data_type

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
                    outcome, filled, valid = transform(r)
                    head = (r.tile_id, r.row_off, r.col_off, r.height, r.width)
                    if isinstance(outcome, str):
                        out.append((*head, -1, outcome, 0, None))
                        continue
                    if not outcome:
                        out.append((*head, 0, np_dtype, 0, None))
                        continue
                    buf = io.BytesIO()
                    np.save(buf, filled, allow_pickle=False)
                    payload = buf.getvalue()
                    out_bytes += len(payload)
                    out.append((*head, outcome, np_dtype, valid, payload))
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
    ) -> DataFrame:
        """Full pipeline; returns the per-tile status DataFrame (F10).

        Statuses mirror ``pipes/pipe.py:137-162``: processed / skipped
        (has no data) / failed, all decided by the tile job. The tile set
        is planned on the driver (:func:`plan_tiles`) and runs as one
        ``mapInPandas`` tile job (:meth:`tile_jobs`), so the executed
        plan is always ``LocalTableScan -> MapInPandas(tile_job)``: no
        exchange, no join. Tiles outside ``subset`` and the
        ``existing_tile_ids`` (F5, e.g. ``object_store.existing_tiles``)
        are dropped on the driver before any work and get no status row.
        """
        return self.tile_jobs(plan_tiles(spark, self.grid_obj, files, subset,
                                         existing_tile_ids))

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

        man = manifest(statuses, self.grid_obj)
        return upload_exactly_once(
            statuses, man, cfg, bucket, prefix, job_id=job_id)


def manifest(statuses: DataFrame, grid: Grid) -> dict:
    """S10: tiles.geojson + extent.geojson from the processed tile set.

    One collect of the (small) processed status rows, features in
    tile_id order; each feature's polygon and the extent come from the
    grid's closed-form tile bounds (C5), so no tile grid is seeded or
    joined. With rectangular grid
    tiles the exact union is the feature collection itself;
    extent.geojson carries the enclosing bounds (the reference unions
    polygons with shapely — identical for rect tile sets' bboxes).
    """
    rows = statuses.filter(F.col("status") == "processed").select(
        "tile_id", "out_path").collect()
    feats, boxes = [], []
    for r in sorted(rows):
        b = grid.get_tile_bounds(r.tile_id)
        boxes.append(b)
        feats.append({
            "type": "Feature",
            "geometry": {
                "type": "Polygon",
                "coordinates": [[
                    [b.left, b.bottom], [b.right, b.bottom],
                    [b.right, b.top], [b.left, b.top], [b.left, b.bottom],
                ]],
            },
            "properties": {"name": r.out_path, "tile_id": r.tile_id},
        })
    tiles_geojson = {"type": "FeatureCollection", "features": feats}
    if not boxes:
        return {"tiles": tiles_geojson, "extent": None}
    left = min(b.left for b in boxes)
    bottom = min(b.bottom for b in boxes)
    right = max(b.right for b in boxes)
    top = max(b.top for b in boxes)
    extent_geojson = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[
                [left, bottom], [right, bottom], [right, top],
                [left, top], [left, bottom],
            ]],
        },
        "properties": {},
    }
    return {"tiles": tiles_geojson, "extent": extent_geojson}
