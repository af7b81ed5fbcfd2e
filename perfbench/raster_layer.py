"""raster_layer: the paper's headline job. A ``RasterPipe`` run the way
the CLI runs it, over a seeded uint8 COG mosaic, with ``calc``, DEFLATE
output and stats + histogram sidecars.

Input: a 4x4 mosaic of 512^2-px source COGs over four 1024^2-px grid
tiles (lon 0..20, lat 0..20 on a 10-degree grid). Pixel values are a
closed-form ramp whose phase the seed shifts; the seed also picks two
source files to leave out, so their windows are empty and the pipe's
empty-window prune (F8) drops them. Every output tile must equal ``2 * source`` (0
where no file covers it) and its sidecar must match NumPy's statistics.
"""

from __future__ import annotations

import shutil
import time
import xml.etree.ElementTree as ET
from pathlib import Path

import numpy as np

from .common import PassResult, Phases, median
from .tiles import (
    TracingReader, block_count, check_statuses, cli_pass, read_spans,
    replay_encode, replay_read, replay_serialise, tap_payloads, timed,
)

GRID_WIDTH = 10
TILE_PX = 1024
FILE_PX = 512
FILES_PER_SIDE = 4          # 4 x 512 px = 2 tiles of 1024 px per side
SRC_BLOCK = 256
HOLES = 2
TILE_IDS = ("20N_000E", "20N_010E", "10N_000E", "10N_010E")
CALC = "A*2"


class RasterLayer:
    name = "raster_layer"

    def __init__(self, spark, work: Path, seed: int, nproc: int) -> None:
        from gfw_pixetl_spark.grids import LatLngGrid

        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.grid = LatLngGrid(GRID_WIDTH, TILE_PX)
        self.res = self.grid.xres
        self.n_pass = 0

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        from gfw_pixetl_spark.sources.geotiff import write_cog

        rng = np.random.default_rng(self.seed)
        side = FILE_PX * FILES_PER_SIDE
        pc, pr = (int(v) for v in rng.integers(0, 512, size=2))
        cc = np.arange(side, dtype=np.int64)[None, :] + pc
        rr = np.arange(side, dtype=np.int64)[:, None] + pr
        self.source = ((3 * cc + 5 * rr + 7 * (cc // 512) + 11 * (rr // 512))
                       % 120 + 1).astype(np.uint8)          # 1..120
        holes = rng.choice(FILES_PER_SIDE ** 2, size=HOLES, replace=False)
        self.covered = np.ones((side, side), dtype=bool)
        src_dir = self.work / "source"
        src_dir.mkdir(parents=True, exist_ok=True)
        self.files = []
        for k in range(FILES_PER_SIDE ** 2):
            fi, fj = divmod(k, FILES_PER_SIDE)
            rs = slice(fi * FILE_PX, (fi + 1) * FILE_PX)
            cs = slice(fj * FILE_PX, (fj + 1) * FILE_PX)
            if k in holes:
                self.covered[rs, cs] = False
                continue
            left = fj * FILE_PX * self.res
            top = 20.0 - fi * FILE_PX * self.res
            uri = str(src_dir / f"src_{fi}_{fj}.tif")
            write_cog(uri, self.source[None, rs, cs],
                      transform=(left, self.res, top, self.res),
                      crs="EPSG:4326", nodata=0, blockxsize=SRC_BLOCK,
                      compress="DEFLATE", predictor=2, zlevel=1,
                      overviews=False)
            self.files.append({
                "uri": uri, "band": 1, "left": left,
                "bottom": top - FILE_PX * self.res,
                "right": left + FILE_PX * self.res, "top": top})
        self.expected = np.where(
            self.covered, (2 * self.source.astype(np.int64)), 0
        ).astype(np.uint8)

    def layer_json(self) -> dict:
        return {
            "dataset": "bench_raster", "version": "v1",
            "source_type": "raster", "pixel_meaning": "value",
            "data_type": "uint8", "grid": "10/40000", "calc": CALC,
            "no_data": 0, "source_uri": [f["uri"] for f in self.files],
            "compute_stats": True, "compute_histogram": True,
        }

    def pipe(self, work_dir: Path, reader=None):
        from gfw_pixetl_spark.models import layer_from_json
        from gfw_pixetl_spark.plans.raster_pipe import RasterPipe
        from gfw_pixetl_spark.sources.raster import GeoTIFFReader

        return RasterPipe(
            layer=layer_from_json(self.layer_json()),
            reader=reader or GeoTIFFReader(src_nodata=0),
            work_dir=str(work_dir), grid=self.grid)

    # -- one pass -------------------------------------------------------------
    def ops_per_pass(self) -> int:
        return len(TILE_IDS)

    def run_pass(self, phases: Phases) -> PassResult:
        self.n_pass += 1
        out = self.work / f"pass-{self.n_pass}"
        reader = None
        if phases.traced:
            from gfw_pixetl_spark.sources.raster import GeoTIFFReader

            spans = out / "spans"
            spans.mkdir(parents=True, exist_ok=True)
            reader = TracingReader(GeoTIFFReader(src_nodata=0), str(spans))
        pipe = self.pipe(out, reader)
        rows = cli_pass(lambda: pipe.run(self.spark, self.files), phases)
        return PassResult(phases=phases, detail={"rows": rows, "dir": out})

    def verify(self, res: PassResult) -> None:
        from gfw_pixetl_spark.sources.geotiff import read_tile

        d = res.detail
        res.attempted += len(TILE_IDS)
        paths = check_statuses(res, d["rows"], set(TILE_IDS))
        d["paths"] = paths
        for tid, path in sorted(paths.items()):
            want = self._expected_tile(tid)
            data, _ = read_tile(path)
            if data.shape != (1,) + want.shape:
                res.fail(f"{tid}: shape {data.shape}")
                continue
            bad = int((data[0] != want).sum())
            if bad:
                res.fail(f"{tid}: {bad} pixels differ")
                continue
            problem = _check_sidecar(path + ".aux.xml", want)
            if problem:
                res.fail(f"{tid}: {problem}")

    def corrupt(self, res: PassResult) -> None:
        """Flip one pixel of one written tile, keeping a valid COG."""
        from gfw_pixetl_spark.sources.geotiff import GeoTiff, write_cog

        tid, path = sorted(res.detail["paths"].items())[0]
        t = GeoTiff.open(path)
        data = t.read_window(0, 0, t.width, t.height, masked=False)
        data[0, 7, 11] ^= 1
        write_cog(path, data, transform=t.transform, crs="EPSG:4326",
                  nodata=0, blockxsize=self.grid.blockxsize,
                  compress="DEFLATE", overviews=False)

    def cleanup(self, res: PassResult) -> None:
        if "dir" in res.detail:  # absent when the pass raised
            shutil.rmtree(res.detail["dir"], ignore_errors=True)

    def _expected_tile(self, tid: str) -> np.ndarray:
        tb = self.grid.get_tile_bounds(tid)
        r0 = int(round((20.0 - tb.top) / self.res))
        c0 = int(round(tb.left / self.res))
        return self.expected[r0:r0 + TILE_PX, c0:c0 + TILE_PX]

    # -- per-layer trace -------------------------------------------------------
    def layers(self, traced: list[PassResult]) -> dict:
        from gfw_pixetl_spark.functions.calc import apply_calc, set_datatype
        from gfw_pixetl_spark.plans import raster_pipe as rp
        from gfw_pixetl_spark.sources.raster import GeoTIFFReader

        out = {}
        spans = [s for r in traced for s in read_spans(r.detail["dir"] / "spans")]
        out["raster_pipe.reader_calls"] = len(spans) / max(1, len(traced))
        out["raster_pipe.reader_busy_s"] = (
            sum(s["s"] for s in spans) / max(1, len(traced)))

        probe = self.work / "probe"
        pipe = self.pipe(probe)
        spark = self.spark
        catalog = rp.file_catalog(spark, self.files)
        pruned = rp.prune_tiles(rp.seed_tiles(spark, self.grid), catalog)
        windows = rp.plan_windows(rp.tile_files(pruned, catalog), self.grid)
        out["raster_pipe.windows_planned"] = windows.count()
        dt, tap = timed(tap_payloads, pipe.transform_windows(windows))
        out["raster_pipe.transform_s"] = dt
        out["raster_pipe.windows_kept"] = tap["windows"]
        out["raster_pipe.payload_mb"] = tap["bytes"] / 1e6
        out["raster_pipe.max_batch_mb"] = tap["max_batch"] / 1e6
        payloads = pipe.transform_windows(windows).localCheckpoint()
        dt, _ = timed(lambda: pipe.write_tiles(payloads).write
                      .format("noop").mode("overwrite").save())
        out["raster_pipe.write_s"] = dt

        # single-threaded replays over this workload's own windows / tiles
        win = self.grid.blockxsize
        reads, arrays, calc_t = [], [], []
        reader = GeoTIFFReader(src_nodata=0)
        for tid in TILE_IDS:
            tb = self.grid.get_tile_bounds(tid)
            uris = [f for f in self.files
                    if f["left"] < tb.right and f["right"] > tb.left
                    and f["bottom"] < tb.top and f["top"] > tb.bottom]
            for r0 in range(0, TILE_PX, win):
                for c0 in range(0, TILE_PX, win):
                    left = tb.left + c0 * self.res
                    top = tb.top - r0 * self.res
                    bounds = (left, top - win * self.res,
                              left + win * self.res, top)
                    reads.append([
                        (f["uri"],
                         int(round((left - f["left"]) / self.res)),
                         int(round((f["top"] - top) / self.res)), win, win)
                        for f in uris])
                    arr = reader([f["uri"] for f in uris], bounds,
                                 (win, win), 1)
                    t0 = time.perf_counter()
                    filled = set_datatype(apply_calc(arr, CALC, 1), 0, "uint8")
                    calc_t.append(time.perf_counter() - t0)
                    arrays.append(filled)
        out.update(replay_read(
            reads, block_count(SRC_BLOCK, SRC_BLOCK, FILE_PX, FILE_PX)))
        out["calc.window_ms"] = 1e3 * median(calc_t)
        out["raster_pipe.serialise_ms"] = replay_serialise(arrays)
        paths = traced[-1].detail["paths"]
        out.update(replay_encode(paths, pipe.layer, self.grid,
                                 probe / "replay", stats=True))
        return out


def _check_sidecar(path: str, want: np.ndarray) -> str | None:
    """Compare the PAM sidecar's statistics and histogram with NumPy's
    over the expected tile (0 = nodata)."""
    try:
        band = ET.parse(path).getroot().find("PAMRasterBand")
    except (OSError, ET.ParseError) as e:
        return f"sidecar unreadable: {e}"
    valid = want[want != 0].astype(np.float64)
    mdi = {m.get("key"): float(m.text) for m in band.iter("MDI")}
    expect = {"STATISTICS_MINIMUM": valid.min(),
              "STATISTICS_MAXIMUM": valid.max(),
              "STATISTICS_MEAN": valid.mean(),
              "STATISTICS_STDDEV": valid.std()}
    for key, val in expect.items():
        got = mdi.get(key)
        if got is None or abs(got - val) > 1e-9 * max(1.0, abs(val)):
            return f"{key} {got} != {val}"
    counts, _ = np.histogram(valid, bins=256, range=(valid.min() - 0.5,
                                                     valid.max() + 0.5))
    item = band.find("Histograms/HistItem/HistCounts")
    got = [int(x) for x in item.text.split("|")] if item is not None else []
    if got != counts.tolist():
        return "histogram differs"
    return None
