"""Raster-as-table: expose GeoTIFF/COG mosaics to Spark SQL as a
long-format pixel DataFrame (the read-side complement of the S8 sink).

The reference is write-oriented; its read path exists only to feed the
transform kernel. A PySpark-native engine can go further: register the
tile store as a *table* so zonal stats, joins against vector features,
and ad-hoc SQL run straight over the imagery. Execution model:

* The catalog (one row per file: uri + bounds) is metadata — file-level
  pruning against a query bbox happens on the catalog BEFORE any pixel
  IO (the planning-time analog of parquet partition pruning; at 100 TB
  the prune is what makes a 1-degree query touch 1 file, not 100k).
* Each surviving file splits into window tasks (bounded rows x cols) so
  a 40000^2 tile never materializes in one task; windows stream through
  ``mapInPandas`` and emit only pixels inside the query bbox with valid
  data — the filter runs inside the kernel, so nodata never shuffles.
* One windowed pixel kernel serves every reader: ``read_pixels`` is the
  radius-0 halo stencil (identity stencil, bbox narrowing each window's
  read), the neighborhood ops are the same stencil at radius 1+, and
  ``warp_pixels``/``decimated_pixels`` share its task planner
  (``_window_tasks``), file loop (``_map_windows``) and long-format
  row emitter (``_long_rows``).
* Output schema: (uri, band, row, col, x, y, value) with x/y = pixel
  CENTER coordinates in the file CRS — directly joinable against
  geometry predicates (functions/geometry.py) and groupable for zonal
  stats.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .geotiff import GeoTiff

PIXEL_SCHEMA = (
    "uri string, band int, row int, col int, "
    "x double, y double, value double"
)


def raster_catalog(spark: SparkSession, uris: list[str]) -> DataFrame:
    """Catalog DF from file headers (driver-side: one small header read
    per file — the S3/metadata-fetch shape, thousands of rows max)."""
    rows = []
    for uri in uris:
        t = GeoTiff.open(uri)
        left, bottom, right, top = t.bounds
        rows.append((uri, left, bottom, right, top, t.count,
                     t.width, t.height))
    # a local relation: a catalog is driver-local metadata, and an RDD
    # scan (createDataFrame(list), even parallelize(rows, 1)) would start
    # a Python task to produce it
    return local_frame(
        spark, rows,
        "uri string, left double, bottom double, right double, "
        "top double, bands int, width int, height int",
    )


def _bbox_filter(catalog: DataFrame, bounds) -> DataFrame:
    """Planning-time file prune: the cataloged files whose footprint
    overlaps ``bounds`` (all files when ``bounds`` is None)."""
    if bounds is None:
        return catalog
    qleft, qbottom, qright, qtop = bounds
    return catalog.filter(
        (F.col("left") < qright) & (F.col("right") > qleft)
        & (F.col("bottom") < qtop) & (F.col("top") > qbottom)
    )


def _window_tasks(
    catalog: DataFrame,
    window: int,
    parallelism: int | None,
    scale: float = 1.0,
) -> DataFrame:
    """Explode each file into (uri, wx, wy) window tasks over its output
    grid of ``ceil(width*scale) x ceil(height*scale)`` pixels (pure
    column math on metadata), spread across executors. An explicit
    ``parallelism`` avoids paying spark.sql.shuffle.partitions-many task
    launches when the catalog is small (the default is right for a
    100k-file mosaic)."""
    win = F.lit(window)
    dw = F.ceil(F.col("width") * F.lit(scale)).cast("int")
    dh = F.ceil(F.col("height") * F.lit(scale)).cast("int")
    nwx = F.ceil(dw / win).cast("int")
    nwy = F.ceil(dh / win).cast("int")
    tasks = (
        catalog.select(
            "uri",
            F.explode(F.sequence(F.lit(0), nwx - 1)).alias("wx"),
            nwy.alias("nwy"),
        )
        .select(
            "uri", "wx",
            F.explode(F.sequence(F.lit(0), F.col("nwy") - 1)).alias("wy"),
        )
    )
    return (
        tasks.repartition(parallelism, "uri", "wx", "wy")
        if parallelism else tasks.repartition("uri", "wx", "wy")
    )


def _map_windows(tasks: DataFrame, window_rows, schema: str) -> DataFrame:
    """The pixel kernel: ``window_rows(t, task)`` turns each task row
    (a ``uri`` plus window indices) into a long-format frame or None,
    with ``t`` the task's file, opened once per file per partition."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_files: dict[str, GeoTiff] = {}
        for pdf in batches:
            for task in pdf.itertuples(index=False):
                t = open_files.get(task.uri)
                if t is None:
                    t = open_files[task.uri] = GeoTiff.open(task.uri)
                out = window_rows(t, task)
                if out is not None:
                    yield out

    return tasks.mapInPandas(kernel, schema)


def _long_rows(uri, rows_idx, cols_idx, bands, xs=None, ys=None):
    """One window as a long-format frame, or None when it emits nothing.

    ``bands`` yields one ``(cols, ok)`` per band: ``ok`` and each value
    of ``cols`` are ``(len(rows_idx), len(cols_idx))`` arrays, and only
    ``ok`` pixels are emitted as (uri, band, row, col[, x, y], *cols).
    ``xs``/``ys`` are the pixel-center coordinates of the columns/rows;
    x and y are left out when they are None."""
    out = []
    for b, (cols, ok) in enumerate(bands):
        bi, bj = np.nonzero(ok)
        if not len(bi):
            continue
        row = {
            "uri": uri, "band": np.int32(b + 1),
            "row": rows_idx[bi].astype("int32"),
            "col": cols_idx[bj].astype("int32"),
        }
        if xs is not None:
            row.update(x=xs[bj], y=ys[bi])
        row.update({k: v[bi, bj] for k, v in cols.items()})
        out.append(pd.DataFrame(row))
    return pd.concat(out, ignore_index=True) if out else None


def _inside(centers: np.ndarray, lo: float, hi: float) -> slice:
    """The run of monotone pixel ``centers`` strictly inside (lo, hi)."""
    idx = np.flatnonzero((centers > lo) & (centers < hi))
    return slice(idx[0], idx[-1] + 1) if len(idx) else slice(0, 0)


def read_pixels(
    catalog: DataFrame,
    bounds: tuple[float, float, float, float] | None = None,
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """Long-format pixel DataFrame over the cataloged files.

    ``bounds`` prunes files at PLANNING time (catalog filter) and pixels
    at KERNEL time (each window reads only the pixels whose centers lie
    inside); nodata pixels are dropped inside the kernel. ``window``
    bounds per-task memory (window^2 pixels max per batch row group).
    This is :func:`_halo_stencil` with radius 0 and the identity
    stencil.
    """

    def identity(data, valid, _transform):
        return {"value": data.astype("float64")}, valid

    return _halo_stencil(_bbox_filter(catalog, bounds), window,
                         parallelism, 0, identity, PIXEL_SCHEMA, bounds)


FOCAL_SCHEMA = (
    "uri string, band int, row int, col int, "
    "x double, y double, focal_sum long"
)
SLOPE_SCHEMA = (
    "uri string, band int, row int, col int, "
    "x double, y double, dzdx double, dzdy double, slope_pct double"
)


def _halo_stencil(
    catalog: DataFrame,
    window: int,
    parallelism: int | None,
    radius: int,
    stencil,
    schema: str,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Shared machinery for windowed raster reads and neighborhood
    (stencil) ops.

    The distributed-stencil part is the HALO READ: each window task
    re-reads a ``radius``-pixel ring around its window straight from the
    COG (tile-granular partial read) instead of shuffling edge pixels
    between tasks. At 100 TB that turns the classic halo exchange into
    cheap duplicate IO (``2r`` extra rows per window) and keeps the op
    embarrassingly parallel — no shuffle until the caller aggregates.

    ``stencil(data, valid, transform)`` receives one band's halo window
    (``(oh+2r, ow+2r)`` raw/bool) and returns ``(cols_dict, ok)``
    where each ``cols_dict`` value and ``ok`` are ``(oh, ow)`` arrays;
    only ``ok`` pixels are emitted. ``bounds`` narrows each window's
    output to the pixels whose centers lie strictly inside it (centers
    are monotone in the index, so that is one row run and one column
    run), and only those are read.
    """

    def window_rows(t: GeoTiff, task) -> pd.DataFrame | None:
        # output range: window pixels whose neighborhood is fully
        # inside the image
        cols_idx = np.arange(max(task.wx * window, radius),
                             min((task.wx + 1) * window, t.width - radius))
        rows_idx = np.arange(max(task.wy * window, radius),
                             min((task.wy + 1) * window, t.height - radius))
        ox, sx, oy, sy = t.transform
        xs = ox + (cols_idx + 0.5) * sx
        ys = oy - (rows_idx + 0.5) * sy
        if bounds is not None:
            ql, qb, qr, qt = bounds
            cs, rs = _inside(xs, ql, qr), _inside(ys, qb, qt)
            cols_idx, xs = cols_idx[cs], xs[cs]
            rows_idx, ys = rows_idx[rs], ys[rs]
        if not len(cols_idx) or not len(rows_idx):
            return None
        # halo read: output range expanded by the radius
        arr = t.read_window(
            int(cols_idx[0]) - radius, int(rows_idx[0]) - radius,
            len(cols_idx) + 2 * radius, len(rows_idx) + 2 * radius)
        data = np.ma.getdata(arr)
        valid = ~np.ma.getmaskarray(arr)
        return _long_rows(
            task.uri, rows_idx, cols_idx,
            (stencil(data[b], valid[b], t.transform)
             for b in range(arr.shape[0])),
            xs, ys)

    return _map_windows(_window_tasks(catalog, window, parallelism),
                        window_rows, schema)


def focal_sum_pixels(
    catalog: DataFrame,
    window: int = 2048,
    parallelism: int | None = None,
    radius: int = 1,
) -> DataFrame:
    """Focal (neighborhood) sum: for every pixel whose full
    ``(2r+1)^2`` neighborhood lies inside the image, the integer sum of
    that neighborhood (int64 accumulation — exact and order-free). See
    :func:`_halo_stencil` for the halo-read execution model."""
    side = 2 * radius + 1

    def stencil(data, valid, _transform):
        h, w = data.shape
        oh, ow = h - 2 * radius, w - 2 * radius
        acc = np.zeros((oh, ow), dtype="int64")
        ok = np.ones((oh, ow), dtype=bool)
        d64 = data.astype("int64")
        for di in range(side):
            for dj in range(side):
                acc += d64[di:di + oh, dj:dj + ow]
                ok &= valid[di:di + oh, dj:dj + ow]
        return {"focal_sum": acc}, ok

    return _halo_stencil(catalog, window, parallelism, radius, stencil,
                         FOCAL_SCHEMA)


def horn_slope_pixels(
    catalog: DataFrame,
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """Terrain slope by Horn's method (the gdaldem-slope stencil): for
    each interior pixel, 8-neighbor weighted derivatives

        dz/dx = ((z3 + 2·z6 + z9) − (z1 + 2·z4 + z7)) / (8·xres)
        dz/dy = ((z7 + 2·z8 + z9) − (z1 + 2·z2 + z3)) / (8·yres)

    and ``slope_pct = 100·sqrt(dzdx² + dzdy²)`` (percent rise/run; every
    step is IEEE-exact — add/multiply/sqrt are correctly rounded — so an
    external engine replays it bit-for-bit). Same halo-read execution
    model as :func:`focal_sum_pixels`; pixels with any masked neighbor
    are dropped, matching gdaldem's nodata handling."""

    def stencil(data, valid, transform):
        _, sx, _, sy = transform
        h, w = data.shape
        oh, ow = h - 2, w - 2
        z = data.astype("float64")
        # neighbors: z1 z2 z3 / z4 z5 z6 / z7 z8 z9 (row-major, north up)
        z1, z2, z3 = z[0:oh, 0:ow], z[0:oh, 1:ow + 1], z[0:oh, 2:ow + 2]
        z4, z6 = z[1:oh + 1, 0:ow], z[1:oh + 1, 2:ow + 2]
        z7, z8, z9 = z[2:oh + 2, 0:ow], z[2:oh + 2, 1:ow + 1], \
            z[2:oh + 2, 2:ow + 2]
        dzdx = ((z3 + 2 * z6 + z9) - (z1 + 2 * z4 + z7)) / (8 * sx)
        dzdy = ((z7 + 2 * z8 + z9) - (z1 + 2 * z2 + z3)) / (8 * sy)
        slope = 100.0 * np.sqrt(dzdx * dzdx + dzdy * dzdy)
        ok = np.ones((oh, ow), dtype=bool)
        for di in range(3):
            for dj in range(3):
                ok &= valid[di:di + oh, dj:dj + ow]
        return {"dzdx": dzdx, "dzdy": dzdy, "slope_pct": slope}, ok

    return _halo_stencil(catalog, window, parallelism, 1, stencil,
                         SLOPE_SCHEMA)


def decimated_pixels(
    catalog: DataFrame,
    out_width: int,
    out_height: int,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Reduced-resolution pixel DF: each file is read through its COG
    overview pyramid at ~(out_width x out_height) via
    ``GeoTiff.read_decimated`` — a zoom-out query decompresses
    1/factor^2 of the bytes, which is what keeps "render the world at
    z3" from scanning 100 TB of full-res tiles. One task per file (the
    output is bounded by out_width*out_height rows per file, so there is
    nothing to window)."""
    files = _bbox_filter(catalog, bounds).repartition("uri")

    def file_rows(t: GeoTiff, task) -> pd.DataFrame | None:
        fb = bounds if bounds is not None else t.bounds
        left, bottom, right, top = fb
        arr = t.read_decimated(fb, out_width, out_height)
        xs = left + (np.arange(out_width) + 0.5) * (
            (right - left) / out_width)
        ys = top - (np.arange(out_height) + 0.5) * (
            (top - bottom) / out_height)
        valid = ~np.ma.getmaskarray(arr)
        data = np.ma.getdata(arr).astype("float64")
        return _long_rows(
            task.uri, np.arange(out_height), np.arange(out_width),
            (({"value": data[b]}, valid[b]) for b in range(arr.shape[0])),
            xs, ys)

    return _map_windows(files.select("uri"), file_rows, PIXEL_SCHEMA)


TERRAIN_SCHEMA = (
    "uri string, band int, row int, col int, x double, y double, "
    "tpi double, tri double, roughness long"
)
HILLSHADE_SCHEMA = (
    "uri string, band int, row int, col int, x double, y double, "
    "hillshade double, aspect double"
)


def terrain_indices_pixels(
    catalog: DataFrame,
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """gdaldem-style terrain indices per interior pixel — the trig-free
    trio, chosen because every step is IEEE-exact and thus externally
    replayable (unlike slope-degrees/aspect/hillshade, whose libm trig
    differs across engines):

    * TPI  (topographic position) = z_c − mean(8 neighbors); the /8 is
      a power of two, so the double is exact.
    * TRI  (terrain ruggedness, Riley et al. 1999) =
      sqrt(Σ (z_n − z_c)²) over the 8 neighbors — integer sum, exact
      sqrt.
    * roughness = max − min over the 3×3 neighborhood (integer).

    Same halo-read execution model as :func:`focal_sum_pixels`.
    """

    def stencil(data, valid, _transform):
        h, w = data.shape
        oh, ow = h - 2, w - 2
        z = data.astype("int64")
        zc = z[1:oh + 1, 1:ow + 1]
        nb_sum = np.zeros((oh, ow), dtype="int64")
        sq_sum = np.zeros((oh, ow), dtype="int64")
        nb_max = np.full((oh, ow), np.iinfo("int64").min)
        nb_min = np.full((oh, ow), np.iinfo("int64").max)
        ok = np.ones((oh, ow), dtype=bool)
        for di in range(3):
            for dj in range(3):
                blk = z[di:di + oh, dj:dj + ow]
                ok &= valid[di:di + oh, dj:dj + ow]
                nb_max = np.maximum(nb_max, blk)
                nb_min = np.minimum(nb_min, blk)
                if di == 1 and dj == 1:
                    continue
                nb_sum += blk
                d = blk - zc
                sq_sum += d * d
        tpi = zc.astype("float64") - nb_sum.astype("float64") / 8.0
        tri = np.sqrt(sq_sum.astype("float64"))
        return (
            {"tpi": tpi, "tri": tri, "roughness": nb_max - nb_min},
            ok,
        )

    return _halo_stencil(catalog, window, parallelism, 1, stencil,
                         TERRAIN_SCHEMA)


D8_SCHEMA = (
    "uri string, band int, row int, col int, x double, y double, "
    "flow_dir int, metric long"
)

# ESRI/GDAL D8 codes in code-ascending order: (code, dr, dc, diagonal)
D8_NEIGHBORS = (
    (1, 0, 1, False), (2, 1, 1, True), (4, 1, 0, False), (8, 1, -1, True),
    (16, 0, -1, False), (32, -1, -1, True), (64, -1, 0, False),
    (128, -1, 1, True),
)


def d8_flow_pixels(
    catalog: DataFrame,
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """D8 flow direction (the ESRI/GDAL hydrology primitive) per
    interior pixel: the steepest-descent neighbor among 8, encoded
    1/2/4/.../128 clockwise from East; 0 = pit/flat (no lower
    neighbor).

    Exactness: slope to a cardinal neighbor is drop/1, to a diagonal
    drop/sqrt(2) — comparing drop_c vs drop_d/sqrt(2) over POSITIVE
    drops is equivalent to comparing the INTEGER metric 2*drop_c^2 vs
    drop_d^2 (squaring is monotone on non-negatives and the sqrt(2)
    clears), so the argmax is exact integer arithmetic and an external
    SQL oracle replays it bit-for-bit. Ties break to the LOWEST code
    (strict-greater update in code-ascending order). Same halo-read
    execution model as the other stencils: no shuffle until the caller
    aggregates.
    """

    def stencil(data, valid, _transform):
        h, w = data.shape
        oh, ow = h - 2, w - 2
        z = data.astype("int64")
        zc = z[1:oh + 1, 1:ow + 1]
        ok = np.ones((oh, ow), dtype=bool)
        best_m = np.zeros((oh, ow), dtype="int64")
        best_c = np.zeros((oh, ow), dtype="int64")
        for code, dr, dc, diag in D8_NEIGHBORS:
            blk = z[1 + dr:1 + dr + oh, 1 + dc:1 + dc + ow]
            ok &= valid[1 + dr:1 + dr + oh, 1 + dc:1 + dc + ow]
            d = zc - blk
            m = np.where(d > 0, d * d if diag else 2 * d * d, 0)
            upd = m > best_m
            best_m = np.where(upd, m, best_m)
            best_c = np.where(upd, code, best_c)
        return {"flow_dir": best_c.astype("int32"), "metric": best_m}, ok

    return _halo_stencil(catalog, window, parallelism, 1, stencil,
                         D8_SCHEMA)


def hillshade_pixels(
    catalog: DataFrame,
    window: int = 2048,
    parallelism: int | None = None,
    azimuth: float = 315.0,
    altitude: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """gdaldem hillshade + aspect by Horn derivatives.

    The shade uses GDAL's own TRIG-FREE rational form: with p = dz/dx,
    q = dz/dy and the light direction folded into three CONSTANTS
    (c0 = sin alt, c1 = cos alt * cos(az - pi/2),
    c2 = cos alt * sin(az - pi/2)),

        shade = 255 * clip((c0 - c1*p + c2*q) / sqrt(1 + p^2 + q^2))

    — algebraically identical to sin(alt)cos(s) + cos(alt)sin(s)
    cos(az - pi/2 - aspect), but every PER-PIXEL step is a correctly
    rounded IEEE op (+ * / sqrt), so an external engine replays the
    doubles bit-for-bit given the same constants (q236's oracle does
    exactly that; per-pixel libm trig would differ by ulps across
    engines). Aspect keeps its atan2/degrees form and stays
    numpy-verified only. Same halo-read model; output in [0, 255]
    (hillshade) and degrees clockwise from north (aspect, NaN on flat).
    """
    c0, c1, c2 = hillshade_constants(azimuth, altitude)

    def stencil(data, valid, transform):
        _, sx, _, sy = transform
        h, w = data.shape
        oh, ow = h - 2, w - 2
        z = data.astype("float64") * z_factor
        z1, z2, z3 = z[0:oh, 0:ow], z[0:oh, 1:ow + 1], z[0:oh, 2:ow + 2]
        z4, z6 = z[1:oh + 1, 0:ow], z[1:oh + 1, 2:ow + 2]
        z7, z8, z9 = z[2:oh + 2, 0:ow], z[2:oh + 2, 1:ow + 1], \
            z[2:oh + 2, 2:ow + 2]
        dzdx = ((z3 + 2 * z6 + z9) - (z1 + 2 * z4 + z7)) / (8 * sx)
        dzdy = ((z7 + 2 * z8 + z9) - (z1 + 2 * z2 + z3)) / (8 * sy)
        shade = ((c0 - c1 * dzdx + c2 * dzdy)
                 / np.sqrt(1.0 + dzdx * dzdx + dzdy * dzdy))
        shade = np.minimum(np.maximum(shade * 255.0, 0.0), 255.0)
        flat = (dzdx == 0) & (dzdy == 0)
        # gdaldem aspect convention: degrees CW from north
        asp_deg = np.degrees(np.arctan2(-dzdx, dzdy))
        asp_deg = np.where(asp_deg < 0, asp_deg + 360.0, asp_deg)
        asp_deg = np.where(flat, np.nan, asp_deg)
        ok = np.ones((oh, ow), dtype=bool)
        for di in range(3):
            for dj in range(3):
                ok &= valid[di:di + oh, dj:dj + ow]
        return {"hillshade": shade, "aspect": asp_deg}, ok

    return _halo_stencil(catalog, window, parallelism, 1, stencil,
                         HILLSHADE_SCHEMA)


def hillshade_constants(
    azimuth: float = 315.0, altitude: float = 45.0
) -> tuple[float, float, float]:
    """The three light-direction constants of the rational hillshade
    form; computed ONCE here so the Spark kernel and any SQL oracle can
    embed the identical double literals."""
    az = np.radians(azimuth)
    alt = np.radians(altitude)
    return (float(np.sin(alt)),
            float(np.cos(alt) * np.cos(az - np.pi / 2)),
            float(np.cos(alt) * np.sin(az - np.pi / 2)))


def materialize_pixels(
    px: DataFrame,
    out_dir: str,
    *,
    transform: tuple[float, float, float, float],
    tile_size: int = 256,
    dtype: str = "float64",
    nodata: float | int | None = None,
    value_col: str = "value",
    blockxsize: int = 64,
    overviews: bool = False,
) -> DataFrame:
    """Materialize a pixel DataFrame back into a COG tile store — the
    raster engine's CREATE TABLE AS SELECT: any SQL over
    :func:`read_pixels` output (band algebra, joins against vector
    features, zonal reclassification) becomes a new raster layer.

    Pixels route to tiles by pure column math on (row, col); one
    groupBy(tile) shuffle moves each pixel to its single writer, and
    the kernel assembles the dense array (missing pixels = nodata) and
    writes one COG per tile — the S8 single-writer discipline, so
    re-materializing 100 TB parallelizes per tile with no write
    contention. Returns one row per written tile (uri, n_px).
    """
    import os

    from .geotiff import write_cog

    os.makedirs(out_dir, exist_ok=True)
    ox, sx, oy, sy = transform
    keyed = px.select(
        (F.floor(F.col("row") / tile_size)).cast("int").alias("tr"),
        (F.floor(F.col("col") / tile_size)).cast("int").alias("tc"),
        (F.col("row") % tile_size).cast("int").alias("rr"),
        (F.col("col") % tile_size).cast("int").alias("cc"),
        F.col(value_col).alias("v"),
    )

    fill = nodata if nodata is not None else 0

    def write_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(pdf["tr"].iloc[0]), int(pdf["tc"].iloc[0])
        arr = np.full((tile_size, tile_size), fill, dtype=dtype)
        arr[pdf["rr"].to_numpy(), pdf["cc"].to_numpy()] = (
            pdf["v"].to_numpy().astype(dtype))
        t = (ox + tc * tile_size * sx, sx,
             oy - tr * tile_size * sy, sy)
        uri = os.path.join(out_dir, f"tile_{tr}_{tc}.tif")
        write_cog(uri, arr[None], transform=t, nodata=nodata,
                  blockxsize=blockxsize, overviews=overviews)
        return pd.DataFrame({"uri": [uri], "n_px": [len(pdf)]})

    return keyed.groupBy("tr", "tc").applyInPandas(
        write_tile, "uri string, n_px long")


WARP_SCHEMA = "uri string, band int, row int, col int, value double"


def warp_pixels(
    catalog: DataFrame,
    scale: float,
    method: str = "bilinear",
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """Interpolating resample (C4 warp kernel) as a long-format pixel DF.

    Each cataloged file is resampled by ``scale`` destination pixels per
    source pixel on the same CRS/origin; destination pixel (r, c) has
    fractional source index ``f = (idx + 0.5)/scale - 0.5`` (pixel-center
    convention, matching GDAL's geotransform algebra; reference kernels
    gfw_pixetl/resampling.py:9-25). Tasks are windows of the DESTINATION
    grid; each task halo-reads only the source rows/cols its kernel
    support touches (tile-granular partial read — no full-image
    materialization, no shuffle), then runs the vectorized
    :func:`gfw_pixetl_spark.functions.warp.sample_grid` kernel. Only
    pixels whose full support lies inside the source are emitted, so
    results are partition-independent and edge-policy-free.
    """
    from ..functions.warp import KERNELS, sample_grid

    radius = 1 if method == "nearest" else KERNELS[method][1]
    scl = float(scale)

    def window_rows(t: GeoTiff, task) -> pd.DataFrame | None:
        dst_w = int(np.ceil(t.width * scl))
        dst_h = int(np.ceil(t.height * scl))
        cols_idx = np.arange(task.wx * window,
                             min((task.wx + 1) * window, dst_w))
        rows_idx = np.arange(task.wy * window,
                             min((task.wy + 1) * window, dst_h))
        fx = (cols_idx + 0.5) / scl - 0.5
        fy = (rows_idx + 0.5) / scl - 0.5
        # keep only dst pixels whose full kernel support is inside
        x0 = np.floor(fx).astype("int64")
        y0 = np.floor(fy).astype("int64")
        csel = (x0 - radius + 1 >= 0) & (x0 + radius <= t.width - 1)
        rsel = (y0 - radius + 1 >= 0) & (y0 + radius <= t.height - 1)
        if not csel.any() or not rsel.any():
            return None
        cols_idx, fx, x0 = cols_idx[csel], fx[csel], x0[csel]
        rows_idx, fy, y0 = rows_idx[rsel], fy[rsel], y0[rsel]
        # halo read: exactly the source rows/cols the taps touch
        sc0 = int(x0[0] - radius + 1)
        sc1 = int(x0[-1] + radius + 1)
        sr0 = int(y0[0] - radius + 1)
        sr1 = int(y0[-1] + radius + 1)
        arr = t.read_window(sc0, sr0, sc1 - sc0, sr1 - sr0)
        gfy, gfx = np.meshgrid(fy - sr0, fx - sc0, indexing="ij")
        res = (sample_grid(np.ma.MaskedArray(np.ma.getdata(band),
                                             mask=np.ma.getmaskarray(band)),
                           gfx, gfy, method)
               for band in arr)
        return _long_rows(
            task.uri, rows_idx, cols_idx,
            (({"value": np.ma.getdata(r)}, ~np.ma.getmaskarray(r))
             for r in res))

    return _map_windows(_window_tasks(catalog, window, parallelism, scale),
                        window_rows, WARP_SCHEMA)
