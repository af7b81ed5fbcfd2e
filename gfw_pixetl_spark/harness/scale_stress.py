"""Scale-stress golden run: the full raster pipe over a >=256 MB COG.

Every other raster fixture in the suite is 48-128 px — enough for
correctness, silent on the at-size claims in SCALING.md (windowed
single-writer assembly, producer-side Arrow byte capping). This module
builds ONE deterministic 16384x16384 uint8 COG (268 MB of pixels),
runs seed -> prune -> window -> calc -> write at window granularity
through the production ``RasterPipe`` with the real ``GeoTIFFReader``,
and returns measured facts the callers assert / record:

* output equality — every written tile decodes to exactly
  ``2 * f(row, col)`` of the closed-form source function;
* window accounting — each window payload is one window's bytes
  (never a whole tile), and the window count matches the plan;
* Arrow batch bytes — the largest batch observed downstream of the
  transform kernel stays under the producer-side cap (+ one window),
  i.e. the 2 GiB-array guard is exercised by data volume, not a
  plan-shape test.

The last two are tapped from ``RasterPipe.transform_windows``, the
payload adaptor over the same window kernel the production tile jobs
run without any payload exchange.

``tests/test_scale_stress.py`` asserts these (marked slow); ``bench.py``
records the wall time per round (``scale_stress`` entry).

Reference parity: the reference sizes windows from a memory model
(``gfw_pixetl/tiles/raster_src_tile.py:328-451``) and streams blocks
through GDAL; this is the same discipline proven at comparable volume.
"""

from __future__ import annotations

import os
import time

import numpy as np

# 2x2 grid tiles of 8192 px (block 512) over a 20x20-degree source:
# 16384 x 16384 px = 268 MB of uint8 pixels.
GRID_WIDTH_DEG = 10
# 2x probe knob (tools/stress_probe.py): must be set BEFORE Spark starts
# so executor-side re-imports of this module see the same constants.
_SCALE = int(os.environ.get("SPARK_GRAFT_STRESS_SCALE", "1"))
GRID_COLS = 8192 * _SCALE
SRC_PIXELS = 2 * GRID_COLS
# LatLng tiles are named by their TOP-left corner: 20N_* = lat 10..20
TILE_IDS = ("20N_000E", "20N_010E", "10N_000E", "10N_010E")
SOURCE_PATH = os.environ.get(
    "SPARK_GRAFT_STRESS_SRC",
    "/tmp/gfw_scale_stress_src.tif" if _SCALE == 1
    else f"/tmp/gfw_scale_stress_src_x{_SCALE}.tif")


def source_values(r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
    """The closed-form source raster on row/col range [r0:r1, c0:c1]
    (row 0 = north edge = 20N): values 1..120, so calc ``A*2`` stays in
    uint8 and 0 remains a true nodata sentinel."""
    rr = np.arange(r0, r1, dtype=np.int64)[:, None]
    cc = np.arange(c0, c1, dtype=np.int64)[None, :]
    return ((3 * cc + 5 * rr + 7 * (cc // 512) + 11 * (rr // 512))
            % 120 + 1).astype(np.uint8)


def ensure_source(path: str | None = None) -> str:
    """Build the 268 MB source COG once; a marker file keyed by the
    generator parameters makes re-runs free. ``path`` and its marker
    resolve at CALL time from the module globals — a def-time default
    froze the 1x path once and let a scaled run overwrite the 1x cache
    while stamping the 2x marker (stale-cache poisoning the 2x probe
    caught)."""
    from ..sources.geotiff import write_cog

    path = path or SOURCE_PATH
    marker = path + ".ok"
    key = f"{SRC_PIXELS}:v1"
    if os.path.exists(path) and os.path.exists(marker) \
            and open(marker).read() == key:
        return path
    data = source_values(0, SRC_PIXELS, 0, SRC_PIXELS)
    xres = GRID_WIDTH_DEG / GRID_COLS
    write_cog(
        path, data[None, ...],
        transform=(0.0, xres, 20.0, xres),
        crs="EPSG:4326", nodata=0, blockxsize=512,
        compress="DEFLATE", predictor=2, zlevel=1, overviews=False,
    )
    with open(marker, "w") as f:
        f.write(key)
    return path


def run(spark, work_dir: str, blocks_per_window: int = 2) -> dict:
    """Execute the pipeline and measure; returns the fact dict."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ..grids import LatLngGrid
    from ..models import LayerModel
    from ..plans import raster_pipe as rp
    from ..sources.raster import GeoTIFFReader

    t0 = time.perf_counter()
    src = ensure_source()
    t_source = time.perf_counter() - t0

    grid = LatLngGrid(GRID_WIDTH_DEG, GRID_COLS)
    layer = LayerModel(
        dataset="stress_ds", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A*2", no_data=0, source_uri=[src],
    )  # catalog grid for validation; the pipe runs on the ad-hoc
    # 10/8192 grid below (same override the golden e2e tests use)
    pipe = rp.RasterPipe(
        layer=layer, reader=GeoTIFFReader(src_nodata=0),
        work_dir=work_dir, grid=grid, blocks_per_window=blocks_per_window,
    )
    files = [{"uri": src, "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 20.0, "top": 20.0}]

    # Stage 1 measurement: window payloads + Arrow batch sizes, tapped
    # from the transform_windows adaptor (the window kernel alone).
    t0 = time.perf_counter()
    tiles = rp.seed_tiles(spark, grid)
    catalog = rp.file_catalog(spark, files)
    selected = rp.select_tiles(tiles, subset=list(TILE_IDS))
    windows = rp.plan_windows(rp.tile_files(selected, catalog), grid,
                              blocks_per_window)
    payloads = pipe.transform_windows(windows)

    def measure(batches):
        for pdf in batches:
            # empty-window marker rows carry no payload and are not windows
            sizes = [len(p) for p in pdf["payload"] if p is not None]
            yield pd.DataFrame({
                "batch_bytes": [int(sum(sizes))],
                "n_rows": [len(sizes)],
                "max_payload": [int(max(sizes, default=0))],
            })

    stats = (
        payloads.mapInPandas(
            measure, "batch_bytes long, n_rows long, max_payload long")
        .agg(F.max("batch_bytes").alias("max_batch_bytes"),
             F.sum("n_rows").alias("n_windows"),
             F.max("max_payload").alias("max_window_payload"))
        .collect()[0]
    )
    t_transform = time.perf_counter() - t0

    # Stage 2: the full production run (the fused tile jobs).
    t0 = time.perf_counter()
    status = {r.tile_id: r for r in pipe.run(
        spark, files, subset=list(TILE_IDS)).collect()}
    t_write = time.perf_counter() - t0

    win = grid.blockxsize * blocks_per_window
    per_tile = (GRID_COLS // win) ** 2
    return {
        "source_path": src,
        "source_bytes_uncompressed": SRC_PIXELS * SRC_PIXELS,
        "window_px": win,
        "windows_planned": per_tile * len(TILE_IDS),
        "n_windows": int(stats.n_windows),
        "max_window_payload": int(stats.max_window_payload),
        "max_batch_bytes": int(stats.max_batch_bytes),
        "statuses": {t: status[t].status for t in status},
        "out_paths": {t: status[t].out_path for t in status
                      if status[t].out_path},
        "sec_source_build": round(t_source, 3),
        "sec_transform_scan": round(t_transform, 3),
        "sec_full_pipeline": round(t_write, 3),
    }


def verify_outputs(facts: dict, sample_tiles: int = 4) -> list[str]:
    """Decode written tiles and compare against the closed form; returns
    a list of problem strings (empty = golden)."""
    from ..sources.geotiff import read_tile

    problems = []
    row0 = {"20N_000E": 0, "20N_010E": 0,
            "10N_000E": GRID_COLS, "10N_010E": GRID_COLS}
    col0 = {"20N_000E": 0, "10N_000E": 0,
            "20N_010E": GRID_COLS, "10N_010E": GRID_COLS}
    for tid in list(facts["out_paths"])[:sample_tiles]:
        data, profile = read_tile(facts["out_paths"][tid])
        want = (2 * source_values(
            row0[tid], row0[tid] + GRID_COLS,
            col0[tid], col0[tid] + GRID_COLS
        ).astype(np.int64)).astype(np.uint8)
        if data.shape != (1, GRID_COLS, GRID_COLS):
            problems.append(f"{tid}: shape {data.shape}")
            continue
        if not np.array_equal(data[0], want):
            bad = int((data[0] != want).sum())
            problems.append(f"{tid}: {bad} mismatched pixels")
        if profile["dtype"] != "uint8" or profile["nodata"] != 0:
            problems.append(f"{tid}: profile {profile['dtype']}, "
                            f"nodata {profile['nodata']}")
    return problems
