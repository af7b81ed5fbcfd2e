"""Vector layer pipeline: the Spark-first twin of the reference's
``VectorPipe`` (``gfw_pixetl/pipes/vector_pipe.py:15-81``, SURVEY §3.2).

The reference fetches clipped features per tile from PostGIS and shells
out to ``gdal_rasterize``. Here the whole path is one dataflow:

    features DF (value, geom, order key)
      -> bbox derivation (pure column math over the coordinate arrays)
      -> broadcast tiles ⋈ features ON bbox-overlap (F4 existence probe
         and G3 clip combined — only intersecting pairs survive)
      -> groupBy(tile_id).applyInPandas rasterize kernel (A1/A2):
         features sorted by the ORDER BY key, burned last-wins
         (or count mode), pixel-center coverage — semantics of
         gdal_rasterize without GDAL (functions/rasterize_kernel.py)
      -> shared write_tiles sink (S8) + status accounting (F10)

Geometry travels as nested coordinate arrays
(``array<array<array<double>>>`` = rings of [x, y]) — the engine-native
polygon encoding; WKB decode would bolt on in the loader. The per-tile
shuffle moves only features that intersect the tile (clipping to the
tile happens implicitly in the burn: pixels outside are not in the tile
array), so shuffle volume is bounded by feature-tile pairs, not the
full feature table per tile.

Ordering note (SURVEY §7.4-3): last-wins is NOT commutative, so the
kernel sorts the group by (order_key, feature_id) before burning —
deterministic under any partitioning, exactly the reference's
``ORDER BY {field} asc|desc`` + sequential paint.
"""

from __future__ import annotations

import io
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rasterize_kernel import merge_keyed, rasterize, rasterize_keyed
from ..grids import Grid
from ..models import LayerModel
from .raster_pipe import (
    WINDOW_PAYLOAD_COLS, WINDOW_PAYLOAD_SCHEMA, _overlap, seed_tiles,
    select_tiles, write_tiles,
)

GEOM_TYPE = "array<array<array<double>>>"

PARTIAL_COLS = [
    "tile_id", "row_off", "col_off", "height", "width", "ok", "err",
    "payload",
]
PARTIAL_SCHEMA = (
    "tile_id string, row_off int, col_off int, height int, width int, "
    "ok int, err string, payload binary"
)


def with_bbox(features: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Derive feature bounds from the coordinate arrays — JVM-side
    (flatten + transform + array_min/max), no Python."""
    pts = F.flatten(F.col(geom_col))
    xs = F.transform(pts, lambda p: p[0])
    ys = F.transform(pts, lambda p: p[1])
    return features.withColumns({
        "f_left": F.array_min(xs), "f_right": F.array_max(xs),
        "f_bottom": F.array_min(ys), "f_top": F.array_max(ys),
    })


@dataclass
class VectorPipe:
    """Execute a vector layer as one Spark dataflow."""

    layer: LayerModel
    work_dir: str
    grid: Grid | None = None
    blocks_per_window: int = 1
    # >1 enables the salted two-phase burn for pathological skew (one
    # window covered by millions of features): phase 1 burns each salt
    # shard independently, phase 2 merges by paint-order key — bounding
    # per-task feature count at total/n_salts (ROADMAP #6)
    n_salts: int = 1

    @property
    def grid_obj(self) -> Grid:
        return self.grid or self.layer.grid_obj

    def rasterize_windows(self, pairs: DataFrame) -> DataFrame:
        """A1/A2 as a per-WINDOW aggregation: burn block-aligned windows
        independently so task memory is bounded by the window, never the
        tile — a 40000^2-px tile is ~10k window groups, exactly like the
        raster path (SURVEY §7.4-4).

        ``pairs`` carries one row per (window, intersecting feature); the
        window's feature subset is complete (the join condition is overlap
        with the WINDOW bbox), so last-wins ordering within the group is
        the global paint order restricted to that window — burn results
        compose exactly. Windows no feature touches never materialize.
        """
        layer = self.layer
        grid = self.grid_obj
        xres, yres = grid.xres, grid.yres
        method = layer.rasterize_method or "value"
        descending = (layer.order or "asc") == "desc"
        dtype = layer.dtype_obj
        nodata = dtype.no_data
        fill = 0 if nodata is None else nodata
        np_dtype = dtype.data_type

        def burn(pdf: pd.DataFrame) -> pd.DataFrame:
            tile_id = pdf["tile_id"].iloc[0]
            row_off = int(pdf["row_off"].iloc[0])
            col_off = int(pdf["col_off"].iloc[0])
            h = int(pdf["height"].iloc[0])
            w = int(pdf["width"].iloc[0])
            try:
                pdf = pdf.sort_values(
                    ["value", "feature_id"], ascending=[not descending, True]
                )
                # window origin in world coordinates
                ox = float(pdf["tile_left"].iloc[0]) + col_off * xres
                oy = float(pdf["tile_top"].iloc[0]) - row_off * yres
                feats = [
                    (float(v), [np.asarray(ring) for ring in geom])
                    for v, geom in zip(pdf["value"], pdf["geom"])
                ]
                arr = rasterize(
                    feats, (ox, oy, xres, yres), (h, w),
                    method=method, fill=fill, dtype=np_dtype,
                )
            except Exception as e:  # noqa: BLE001
                # per-tile error isolation (F10) — see raster_pipe kernel
                return pd.DataFrame(
                    [(tile_id, row_off, col_off, h, w, -1,
                      f"{type(e).__name__}: {e}"[:200], 0, None)],
                    columns=WINDOW_PAYLOAD_COLS,
                )
            if method != "count" and not (arr != fill).any():
                return pd.DataFrame([], columns=WINDOW_PAYLOAD_COLS)
            buf = io.BytesIO()
            np.save(buf, arr.reshape(1, h, w), allow_pickle=False)
            return pd.DataFrame(
                [(tile_id, row_off, col_off, h, w, 1, np_dtype,
                  int((arr != fill).sum()), buf.getvalue())],
                columns=WINDOW_PAYLOAD_COLS,
            )

        return pairs.groupBy("tile_id", "row_off", "col_off").applyInPandas(
            burn, WINDOW_PAYLOAD_SCHEMA
        )

    def rasterize_windows_salted(self, pairs: DataFrame) -> DataFrame:
        """Skew-resistant two-phase burn (ROADMAP #6).

        Last-wins paint under a total order is an argmax per pixel, so it
        decomposes: phase 1 burns each of ``n_salts`` feature shards of a
        window independently (recording the winning sort key per pixel,
        :func:`rasterize_keyed`); phase 2 merges the ≤ ``n_salts`` keyed
        partials (:func:`merge_keyed`). ``count`` mode is additive and
        merges by summation. Per-task feature count is bounded by
        ``total/n_salts`` — a window that one task would chew for hours
        becomes ``n_salts`` parallel tasks plus an O(n_salts · window_px)
        merge. Bit-exact vs the sequential burn by construction.
        """
        layer = self.layer
        grid = self.grid_obj
        xres, yres = grid.xres, grid.yres
        method = layer.rasterize_method or "value"
        descending = (layer.order or "asc") == "desc"
        dtype = layer.dtype_obj
        nodata = dtype.no_data
        fill = 0 if nodata is None else nodata
        np_dtype = dtype.data_type

        def burn_partial(pdf: pd.DataFrame) -> pd.DataFrame:
            tile_id = pdf["tile_id"].iloc[0]
            row_off = int(pdf["row_off"].iloc[0])
            col_off = int(pdf["col_off"].iloc[0])
            h = int(pdf["height"].iloc[0])
            w = int(pdf["width"].iloc[0])
            try:
                pdf = pdf.sort_values(
                    ["value", "feature_id"], ascending=[not descending, True]
                )
                ox = float(pdf["tile_left"].iloc[0]) + col_off * xres
                oy = float(pdf["tile_top"].iloc[0]) - row_off * yres
                buf = io.BytesIO()
                if method == "count":
                    feats = [
                        (float(v), [np.asarray(r) for r in geom])
                        for v, geom in zip(pdf["value"], pdf["geom"])
                    ]
                    arr = rasterize(
                        feats, (ox, oy, xres, yres), (h, w),
                        method="count", fill=0, dtype="int64",
                    )
                    np.save(buf, arr, allow_pickle=False)
                else:
                    feats = [
                        (float(v), int(fid), [np.asarray(r) for r in geom])
                        for v, fid, geom in zip(
                            pdf["value"], pdf["feature_id"], pdf["geom"]
                        )
                    ]
                    val, kv, kf = rasterize_keyed(
                        feats, (ox, oy, xres, yres), (h, w),
                        fill=fill, dtype=np_dtype,
                    )
                    np.savez(buf, val=val, kv=kv, kf=kf)
            except Exception as e:  # noqa: BLE001
                return pd.DataFrame(
                    [(tile_id, row_off, col_off, h, w, -1,
                      f"{type(e).__name__}: {e}"[:200], None)],
                    columns=PARTIAL_COLS,
                )
            return pd.DataFrame(
                [(tile_id, row_off, col_off, h, w, 1, None, buf.getvalue())],
                columns=PARTIAL_COLS,
            )

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            tile_id = pdf["tile_id"].iloc[0]
            row_off = int(pdf["row_off"].iloc[0])
            col_off = int(pdf["col_off"].iloc[0])
            h = int(pdf["height"].iloc[0])
            w = int(pdf["width"].iloc[0])
            errors = pdf[pdf["ok"] < 0]
            if len(errors):
                return pd.DataFrame(
                    [(tile_id, row_off, col_off, h, w, -1,
                      errors["err"].iloc[0], 0, None)],
                    columns=WINDOW_PAYLOAD_COLS,
                )
            try:
                if method == "count":
                    total = np.zeros((h, w), dtype="int64")
                    for p in pdf["payload"]:
                        total += np.load(io.BytesIO(p), allow_pickle=False)
                    arr = (total + fill).astype(np_dtype)
                else:
                    partials = []
                    for p in pdf["payload"]:
                        z = np.load(io.BytesIO(p), allow_pickle=False)
                        partials.append((z["val"], z["kv"], z["kf"]))
                    arr = merge_keyed(
                        partials, (h, w), fill=fill, dtype=np_dtype,
                        descending=descending,
                    )
            except Exception as e:  # noqa: BLE001
                return pd.DataFrame(
                    [(tile_id, row_off, col_off, h, w, -1,
                      f"{type(e).__name__}: {e}"[:200], 0, None)],
                    columns=WINDOW_PAYLOAD_COLS,
                )
            if method != "count" and not (arr != fill).any():
                return pd.DataFrame([], columns=WINDOW_PAYLOAD_COLS)
            buf = io.BytesIO()
            np.save(buf, arr.reshape(1, h, w), allow_pickle=False)
            return pd.DataFrame(
                [(tile_id, row_off, col_off, h, w, 1, np_dtype,
                  int((arr != fill).sum()), buf.getvalue())],
                columns=WINDOW_PAYLOAD_COLS,
            )

        salted = pairs.withColumn(
            "salt", F.pmod(F.col("feature_id"), F.lit(self.n_salts))
        )
        partials = salted.groupBy(
            "tile_id", "row_off", "col_off", "salt"
        ).applyInPandas(burn_partial, PARTIAL_SCHEMA)
        return partials.groupBy("tile_id", "row_off", "col_off").applyInPandas(
            merge, WINDOW_PAYLOAD_SCHEMA
        )

    def plan_payloads(
        self,
        spark: SparkSession,
        features: DataFrame,
        subset: list[str] | None = None,
    ) -> DataFrame:
        """The fetch -> fan-out -> burn stages as a window-payload
        DataFrame (WINDOW_PAYLOAD_SCHEMA) — split out of :meth:`run` so
        the at-size stress harness can tap Arrow batch sizes at the
        exact point the write exchange consumes them."""
        grid = self.grid_obj
        tiles = select_tiles(seed_tiles(spark, grid), subset)
        pairs = with_bbox(features).join(F.broadcast(tiles), _overlap())

        # each (feature, tile) pair fans out ONLY to the windows the
        # feature's bbox touches — the window index range is closed-form
        # arithmetic on the bbox, so no window table ever materializes
        # (the scale analog of gdal_rasterize's per-block iteration)
        win = grid.blockxsize * self.blocks_per_window
        n = (grid.cols + win - 1) // win
        wpx = win * grid.xres  # window width in world units
        wpy = win * grid.yres
        r_lo = F.greatest(
            F.lit(0),
            F.floor((F.col("tile_top") - F.col("f_top")) / wpy).cast("int"),
        )
        r_hi = F.least(
            F.lit(n - 1),
            F.floor(
                (F.col("tile_top") - F.col("f_bottom")) / wpy - F.lit(1e-12)
            ).cast("int"),
        )
        c_lo = F.greatest(
            F.lit(0),
            F.floor((F.col("f_left") - F.col("tile_left")) / wpx).cast("int"),
        )
        c_hi = F.least(
            F.lit(n - 1),
            F.floor(
                (F.col("f_right") - F.col("tile_left")) / wpx - F.lit(1e-12)
            ).cast("int"),
        )
        # degenerate bboxes on a window boundary can push hi below lo by
        # the epsilon; clamp so sequence() never runs descending (the
        # zero-area feature burns nothing either way)
        r_hi = F.greatest(r_hi, r_lo)
        c_hi = F.greatest(c_hi, c_lo)
        pairs = (
            pairs
            .withColumn("wr", F.explode(F.sequence(r_lo, r_hi)))
            .withColumn("wc", F.explode(F.sequence(c_lo, c_hi)))
            .select(
                "tile_id", "tile_left", "tile_top",
                (F.col("wr") * win).alias("row_off"),
                (F.col("wc") * win).alias("col_off"),
                F.least(F.lit(win), F.lit(grid.rows) - F.col("wr") * win)
                .alias("height"),
                F.least(F.lit(win), F.lit(grid.cols) - F.col("wc") * win)
                .alias("width"),
                "feature_id", "value", "geom",
            )
        )
        if self.n_salts > 1:
            return self.rasterize_windows_salted(pairs)
        return self.rasterize_windows(pairs)

    def run(
        self,
        spark: SparkSession,
        features: DataFrame,
        subset: list[str] | None = None,
    ) -> DataFrame:
        """features: DataFrame[feature_id long, value double, geom GEOM_TYPE].

        Returns the per-tile status DataFrame (F10). Tiles with no
        intersecting features never shuffle (the F4 existence probe is the
        join itself); within a tile, only windows a feature's bbox
        touches are burned.
        """
        payloads = self.plan_payloads(spark, features, subset)
        return write_tiles(payloads, self.layer, self.grid_obj,
                           self.work_dir)
