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


def read_pixels(
    catalog: DataFrame,
    bounds: tuple[float, float, float, float] | None = None,
    window: int = 2048,
    parallelism: int | None = None,
) -> DataFrame:
    """Long-format pixel DataFrame over the cataloged files.

    ``bounds`` prunes files at PLANNING time (catalog filter) and pixels
    at KERNEL time (row/col slice before the window is emitted); nodata
    pixels are dropped inside the kernel. ``window`` bounds per-task
    memory (window^2 pixels max per batch row group).
    """
    files = catalog
    if bounds is not None:
        qleft, qbottom, qright, qtop = bounds
        files = files.filter(
            (F.col("left") < qright) & (F.col("right") > qleft)
            & (F.col("bottom") < qtop) & (F.col("top") > qbottom)
        )

    # explode each file into window tasks (pure column math on metadata)
    win = F.lit(window)
    nwx = F.ceil(F.col("width") / win).cast("int")
    nwy = F.ceil(F.col("height") / win).cast("int")
    tasks = (
        files.select(
            "uri",
            F.explode(F.sequence(F.lit(0), nwx - 1)).alias("wx"),
            nwy.alias("nwy"),
        )
        .select(
            "uri", "wx",
            F.explode(F.sequence(F.lit(0), F.col("nwy") - 1)).alias("wy"),
        )
    )
    # spread window tasks across executors; an explicit parallelism
    # avoids paying spark.sql.shuffle.partitions-many task launches when
    # the catalog is small (the default is right for a 100k-file mosaic)
    tasks = (
        tasks.repartition(parallelism, "uri", "wx", "wy")
        if parallelism else tasks.repartition("uri", "wx", "wy")
    )

    qbounds = bounds

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_files: dict[str, GeoTiff] = {}
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                t = open_files.get(r.uri)
                if t is None:
                    t = open_files[r.uri] = GeoTiff.open(r.uri)
                c0, r0 = r.wx * window, r.wy * window
                w = min(window, t.width - c0)
                h = min(window, t.height - r0)
                if w <= 0 or h <= 0:
                    continue
                arr = t.read_window(c0, r0, w, h)
                ox, sx, oy, sy = t.transform
                cols_idx = c0 + np.arange(w)
                rows_idx = r0 + np.arange(h)
                xs = ox + (cols_idx + 0.5) * sx
                ys = oy - (rows_idx + 0.5) * sy
                # pixel-level bbox clip inside the kernel
                if qbounds is not None:
                    ql, qb, qr, qt = qbounds
                    csel = (xs > ql) & (xs < qr)
                    rsel = (ys > qb) & (ys < qt)
                    if not csel.any() or not rsel.any():
                        continue
                    arr = arr[:, rsel][:, :, csel]
                    cols_idx, rows_idx = cols_idx[csel], rows_idx[rsel]
                    xs, ys = xs[csel], ys[rsel]
                valid = ~np.ma.getmaskarray(arr)
                data = np.ma.getdata(arr).astype("float64")
                out = []
                for b in range(arr.shape[0]):
                    bi, bj = np.nonzero(valid[b])
                    if not len(bi):
                        continue
                    out.append(pd.DataFrame({
                        "uri": r.uri, "band": np.int32(b + 1),
                        "row": rows_idx[bi].astype("int32"),
                        "col": cols_idx[bj].astype("int32"),
                        "x": xs[bj], "y": ys[bi],
                        "value": data[b][bi, bj],
                    }))
                if out:
                    yield pd.concat(out, ignore_index=True)

    return tasks.select(
        "uri", "wx", "wy"
    ).mapInPandas(kernel, PIXEL_SCHEMA)


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
) -> DataFrame:
    """Shared machinery for neighborhood (stencil) raster ops.

    The distributed-stencil part is the HALO READ: each window task
    re-reads a ``radius``-pixel ring around its window straight from the
    COG (tile-granular partial read) instead of shuffling edge pixels
    between tasks. At 100 TB that turns the classic halo exchange into
    cheap duplicate IO (``2r`` extra rows per window) and keeps the op
    embarrassingly parallel — no shuffle until the caller aggregates.

    ``stencil(data, valid, transform)`` receives one band's halo window
    (``(oh+2r, ow+2r)`` float64/bool) and returns ``(cols_dict, ok)``
    where each ``cols_dict`` value and ``ok`` are ``(oh, ow)`` arrays;
    only ``ok`` pixels are emitted.
    """
    win = F.lit(window)
    nwx = F.ceil(F.col("width") / win).cast("int")
    nwy = F.ceil(F.col("height") / win).cast("int")
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
    tasks = (
        tasks.repartition(parallelism, "uri", "wx", "wy")
        if parallelism else tasks.repartition("uri", "wx", "wy")
    )
    rad = radius

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_files: dict[str, GeoTiff] = {}
        for pdf in batches:
            for t_row in pdf.itertuples(index=False):
                t = open_files.get(t_row.uri)
                if t is None:
                    t = open_files[t_row.uri] = GeoTiff.open(t_row.uri)
                # output range: window pixels whose neighborhood is
                # fully inside the image
                oc0 = max(t_row.wx * window, rad)
                or0 = max(t_row.wy * window, rad)
                oc1 = min((t_row.wx + 1) * window, t.width - rad)
                or1 = min((t_row.wy + 1) * window, t.height - rad)
                if oc1 <= oc0 or or1 <= or0:
                    continue
                # halo read: output range expanded by the radius
                c0, r0 = oc0 - rad, or0 - rad
                w, h = (oc1 - oc0) + 2 * rad, (or1 - or0) + 2 * rad
                arr = t.read_window(c0, r0, w, h)
                data = np.ma.getdata(arr)
                valid = ~np.ma.getmaskarray(arr)
                ox, sx, oy, sy = t.transform
                cols_idx = np.arange(oc0, oc1)
                rows_idx = np.arange(or0, or1)
                xs = ox + (cols_idx + 0.5) * sx
                ys = oy - (rows_idx + 0.5) * sy
                out = []
                for b in range(arr.shape[0]):
                    cols, ok = stencil(data[b], valid[b], t.transform)
                    bi, bj = np.nonzero(ok)
                    if not len(bi):
                        continue
                    row = {
                        "uri": t_row.uri, "band": np.int32(b + 1),
                        "row": rows_idx[bi].astype("int32"),
                        "col": cols_idx[bj].astype("int32"),
                        "x": xs[bj], "y": ys[bi],
                    }
                    row.update({k: v[bi, bj] for k, v in cols.items()})
                    out.append(pd.DataFrame(row))
                if out:
                    yield pd.concat(out, ignore_index=True)

    return tasks.select("uri", "wx", "wy").mapInPandas(kernel, schema)


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
    files = catalog
    if bounds is not None:
        qleft, qbottom, qright, qtop = bounds
        files = files.filter(
            (F.col("left") < qright) & (F.col("right") > qleft)
            & (F.col("bottom") < qtop) & (F.col("top") > qbottom)
        )
    files = files.repartition("uri")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                t = GeoTiff.open(r.uri)
                fb = bounds if bounds is not None else t.bounds
                left, bottom, right, top = fb
                arr = t.read_decimated(fb, out_width, out_height)
                xs = left + (np.arange(out_width) + 0.5) * (
                    (right - left) / out_width)
                ys = top - (np.arange(out_height) + 0.5) * (
                    (top - bottom) / out_height)
                valid = ~np.ma.getmaskarray(arr)
                data = np.ma.getdata(arr).astype("float64")
                out = []
                for b in range(arr.shape[0]):
                    bi, bj = np.nonzero(valid[b])
                    if not len(bi):
                        continue
                    out.append(pd.DataFrame({
                        "uri": r.uri, "band": np.int32(b + 1),
                        "row": bi.astype("int32"),
                        "col": bj.astype("int32"),
                        "x": xs[bj], "y": ys[bi],
                        "value": data[b][bi, bj],
                    }))
                if out:
                    yield pd.concat(out, ignore_index=True)

    return files.select("uri").mapInPandas(kernel, PIXEL_SCHEMA)


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

    import numpy as np

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
        tmp = uri + ".tmp.tif"
        write_cog(tmp, arr[None], transform=t, nodata=nodata,
                  blockxsize=blockxsize, overviews=overviews)
        os.replace(tmp, uri)
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
    from ..functions.warp import KERNELS

    radius = 1 if method == "nearest" else KERNELS[method][1]
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
    tasks = (
        tasks.repartition(parallelism, "uri", "wx", "wy")
        if parallelism else tasks.repartition("uri", "wx", "wy")
    )
    rad, mth, scl = radius, method, float(scale)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.warp import sample_grid

        open_files: dict[str, GeoTiff] = {}
        for pdf in batches:
            for t_row in pdf.itertuples(index=False):
                t = open_files.get(t_row.uri)
                if t is None:
                    t = open_files[t_row.uri] = GeoTiff.open(t_row.uri)
                dst_w = int(np.ceil(t.width * scl))
                dst_h = int(np.ceil(t.height * scl))
                c0, c1 = t_row.wx * window, min((t_row.wx + 1) * window,
                                                dst_w)
                r0, r1 = t_row.wy * window, min((t_row.wy + 1) * window,
                                                dst_h)
                if c1 <= c0 or r1 <= r0:
                    continue
                cols_idx = np.arange(c0, c1)
                rows_idx = np.arange(r0, r1)
                fx = (cols_idx + 0.5) / scl - 0.5
                fy = (rows_idx + 0.5) / scl - 0.5
                # keep only dst pixels whose full kernel support is inside
                x0 = np.floor(fx).astype("int64")
                y0 = np.floor(fy).astype("int64")
                csel = (x0 - rad + 1 >= 0) & (x0 + rad <= t.width - 1)
                rsel = (y0 - rad + 1 >= 0) & (y0 + rad <= t.height - 1)
                if not csel.any() or not rsel.any():
                    continue
                cols_idx, fx, x0 = cols_idx[csel], fx[csel], x0[csel]
                rows_idx, fy, y0 = rows_idx[rsel], fy[rsel], y0[rsel]
                # halo read: exactly the source rows/cols the taps touch
                sc0 = int(x0[0] - rad + 1)
                sc1 = int(x0[-1] + rad + 1)
                sr0 = int(y0[0] - rad + 1)
                sr1 = int(y0[-1] + rad + 1)
                arr = t.read_window(sc0, sr0, sc1 - sc0, sr1 - sr0)
                gfy, gfx = np.meshgrid(fy - sr0, fx - sc0, indexing="ij")
                out = []
                for b in range(arr.shape[0]):
                    res = sample_grid(
                        np.ma.MaskedArray(
                            np.ma.getdata(arr[b]),
                            mask=np.ma.getmaskarray(arr[b]),
                        ),
                        gfx, gfy, mth,
                    )
                    okm = ~np.ma.getmaskarray(res)
                    bi, bj = np.nonzero(okm)
                    if not len(bi):
                        continue
                    out.append(pd.DataFrame({
                        "uri": t_row.uri, "band": np.int32(b + 1),
                        "row": rows_idx[bi].astype("int32"),
                        "col": cols_idx[bj].astype("int32"),
                        "value": np.ma.getdata(res)[bi, bj],
                    }))
                if out:
                    yield pd.concat(out, ignore_index=True)

    return tasks.select("uri", "wx", "wy").mapInPandas(kernel, WARP_SCHEMA)
