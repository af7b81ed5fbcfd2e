"""Vector layer pipeline: the Spark-first twin of the reference's
``VectorPipe`` (``gfw_pixetl/pipes/vector_pipe.py:15-81``, SURVEY §3.2).

The reference fetches clipped features per tile from PostGIS and shells
out to ``gdal_rasterize``. Here the whole path is one dataflow:

    features DF (value, geom, order key)
      -> bbox derivation (pure column math over the coordinate arrays)
      -> broadcast tiles ⋈ features ON bbox-overlap (F4 existence probe
         and G3 clip combined — only intersecting pairs survive)
      -> fan-out to the block-aligned windows each feature's bbox touches
      -> groupBy(tile_id, row_off, col_off).applyInPandas per-window burn
         (A1/A2): features sorted by the ORDER BY key, burned last-wins
         (or count mode), pixel-center coverage — semantics of
         gdal_rasterize without GDAL (functions/rasterize_kernel.py);
         ``n_salts > 1`` shards each window's features and merges the
         partial burns in one more stage
      -> shared write_tiles sink (S8) + status accounting (F10)

Geometry travels as nested coordinate arrays
(``array<array<array<double>>>`` = rings of [x, y]) — the engine-native
polygon encoding; WKB decode would bolt on in the loader. The per-window
shuffle moves only features that intersect the window (clipping happens
implicitly in the burn: pixels outside are not in the window array), so
shuffle volume is bounded by feature-window pairs, not the full feature
table per tile.

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


def feature_tiles(features: DataFrame, tiles: DataFrame) -> DataFrame:
    """Every (feature, tile) pair whose bounds strictly overlap: the
    features' bboxes ⋈ broadcast tiles on :func:`_overlap`, the F4
    existence probe and the G3 clip in one join."""
    return with_bbox(features).join(F.broadcast(tiles), _overlap())


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

    def burn_windows(self, pairs: DataFrame) -> DataFrame:
        """A1/A2 as a per-WINDOW aggregation: burn block-aligned windows
        independently so task memory is bounded by the window, never the
        tile — a 40000^2-px tile is ~10k window groups, exactly like the
        raster path (SURVEY §7.4-4).

        ``pairs`` carries one row per (window, intersecting feature); the
        window's feature subset is complete (the join condition is overlap
        with the WINDOW bbox), so last-wins ordering within the group is
        the global paint order restricted to that window — burn results
        compose exactly. Windows no feature touches never materialize.

        One path serves every ``n_salts``: ``burn`` → ``finish``. With
        ``n_salts > 1`` (pathological skew, ROADMAP #6) ``burn`` runs once
        per feature shard of a window and a merge stage combines the ≤
        ``n_salts`` partials before ``finish``: last-wins paint under a
        total order is an argmax per pixel, so value partials carry the
        winning sort key per pixel (:func:`rasterize_keyed`) and merge by
        key (:func:`merge_keyed`); counts are additive and merge by
        summation. Per-task feature count is bounded by ``total/n_salts``;
        the result is bit-exact vs the single-shard burn by construction.
        """
        grid = self.grid_obj
        xres, yres = grid.xres, grid.yres
        count = self.layer.rasterize_method == "count"
        keyed = self.n_salts > 1 and not count
        descending = (self.layer.order or "asc") == "desc"
        dtype = self.layer.dtype_obj
        fill = 0 if dtype.no_data is None else dtype.no_data
        np_dtype = dtype.data_type
        keys = ["tile_id", "row_off", "col_off"]

        def window(pdf: pd.DataFrame) -> tuple:
            first = pdf.iloc[0]
            return (first["tile_id"], int(first["row_off"]),
                    int(first["col_off"]), int(first["height"]),
                    int(first["width"]))

        def failed(win: tuple, err: str) -> pd.DataFrame:
            # per-window error isolation (F10) — see raster_pipe kernel
            return pd.DataFrame([(*win, -1, err, 0, None)],
                                columns=WINDOW_PAYLOAD_COLS)

        def burn(pdf: pd.DataFrame, win: tuple):
            _, row_off, col_off, h, w = win
            pdf = pdf.sort_values(
                ["value", "feature_id"], ascending=[not descending, True]
            )
            # window origin in world coordinates
            origin = (float(pdf["tile_left"].iloc[0]) + col_off * xres,
                      float(pdf["tile_top"].iloc[0]) - row_off * yres,
                      xres, yres)
            rings = [[np.asarray(r) for r in geom] for geom in pdf["geom"]]
            values = [float(v) for v in pdf["value"]]
            if keyed:
                fids = [int(f) for f in pdf["feature_id"]]
                return rasterize_keyed(list(zip(values, fids, rings)),
                                       origin, (h, w), fill=fill,
                                       dtype=np_dtype)
            if count:  # exact int64 counts; finish casts to the layer dtype
                return rasterize(list(zip(values, rings)), origin, (h, w),
                                 method="count", fill=0, dtype="int64")
            return rasterize(list(zip(values, rings)), origin, (h, w),
                             fill=fill, dtype=np_dtype)

        def finish(win: tuple, arr: np.ndarray) -> pd.DataFrame:
            if count:
                arr = (arr + fill).astype(np_dtype)
            elif not (arr != fill).any():
                return pd.DataFrame([], columns=WINDOW_PAYLOAD_COLS)
            buf = io.BytesIO()
            np.save(buf, arr.reshape(1, *win[3:]), allow_pickle=False)
            return pd.DataFrame(
                [(*win, 1, np_dtype, int((arr != fill).sum()),
                  buf.getvalue())],
                columns=WINDOW_PAYLOAD_COLS,
            )

        def guarded(step):
            def run(pdf: pd.DataFrame) -> pd.DataFrame:
                win = window(pdf)
                try:
                    return step(pdf, win)
                except Exception as e:  # noqa: BLE001
                    return failed(win, f"{type(e).__name__}: {e}"[:200])
            return run

        if self.n_salts == 1:
            return pairs.groupBy(*keys).applyInPandas(
                guarded(lambda pdf, win: finish(win, burn(pdf, win))),
                WINDOW_PAYLOAD_SCHEMA,
            )

        def partial(pdf: pd.DataFrame, win: tuple) -> pd.DataFrame:
            out = burn(pdf, win)
            buf = io.BytesIO()
            if keyed:
                np.savez(buf, val=out[0], kv=out[1], kf=out[2])
            else:
                np.save(buf, out, allow_pickle=False)
            return pd.DataFrame([(*win, 1, np_dtype, 0, buf.getvalue())],
                                columns=WINDOW_PAYLOAD_COLS)

        def merge(pdf: pd.DataFrame, win: tuple) -> pd.DataFrame:
            errors = pdf["dtype"][pdf["bands"] < 0]
            if len(errors):
                return failed(win, errors.iloc[0])
            parts = [np.load(io.BytesIO(p), allow_pickle=False)
                     for p in pdf["payload"]]
            if count:
                return finish(win, sum(parts))
            return finish(win, merge_keyed(
                [(z["val"], z["kv"], z["kf"]) for z in parts], win[3:],
                fill=fill, dtype=np_dtype, descending=descending,
            ))

        salt = F.pmod(F.col("feature_id"), F.lit(self.n_salts))
        return (
            pairs.groupBy(*keys, salt.alias("salt"))
            .applyInPandas(guarded(partial), WINDOW_PAYLOAD_SCHEMA)
            .groupBy(*keys)
            .applyInPandas(guarded(merge), WINDOW_PAYLOAD_SCHEMA)
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
        pairs = feature_tiles(features, tiles)

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
        return self.burn_windows(pairs)

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
