"""zonal_read: zonal statistics over a COG mosaic read as a table.

``raster_catalog`` + ``read_pixels`` with a bbox over a 3x3 mosaic of
512^2-px uint8 COGs, crossed with a broadcast table of seeded non-convex
star zones, filtered by ``point_in_polygon_col`` and aggregated per zone
(count / sum / min / max). The GeoTIFF layer only reads here. Every pass
is checked zone by zone against a NumPy crossing-number replay of the
same test on the same pixel centres.

The traced run also burns the zones through ``VectorPipe`` and the
rasterize kernel (the features -> pixels direction of the same zones), so
the vector layers are measured on this workload's own polygons.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np

from .common import PassResult, Phases, median
from .tiles import block_count, replay_read, tap_payloads, timed

FILE_PX = 512
FILES_PER_SIDE = 3
RES = 1.0 / FILE_PX          # one file per degree, lon 0..3, lat 0..3
TOP = 3.0
BBOX_PX = 800
SRC_BLOCK = 256
READ_WINDOW = 256
N_ZONES = 28
SPIKES = 8
ZONE_SCHEMA = ("zone_id int, l double, b double, r double, t double, "
               "geom array<array<array<double>>>")


class ZonalRead:
    name = "zonal_read"

    def __init__(self, spark, work: Path, seed: int, nproc: int) -> None:
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.nproc = nproc

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        from gfw_pixetl_spark.sources.geotiff import write_cog

        rng = np.random.default_rng(self.seed)
        side = FILE_PX * FILES_PER_SIDE
        pc, pr = (int(v) for v in rng.integers(0, 250, size=2))
        cc = np.arange(side, dtype=np.int64)[None, :] + pc
        rr = np.arange(side, dtype=np.int64)[:, None] + pr
        self.values = ((3 * cc + 5 * rr + 7 * (cc // 64)) % 250 + 1
                       ).astype(np.uint8)
        src = self.work / "source"
        src.mkdir(parents=True, exist_ok=True)
        self.uris = []
        for fi in range(FILES_PER_SIDE):
            for fj in range(FILES_PER_SIDE):
                uri = str(src / f"src_{fi}_{fj}.tif")
                write_cog(uri, self.values[None, fi * FILE_PX:(fi + 1) * FILE_PX,
                                           fj * FILE_PX:(fj + 1) * FILE_PX],
                          transform=(float(fj), RES, TOP - fi, RES),
                          crs="EPSG:4326", nodata=0, blockxsize=SRC_BLOCK,
                          compress="DEFLATE", overviews=False)
                self.uris.append(uri)

        # the query box always spans the 2x2 files in the north-west
        x0, y0 = (int(v) for v in rng.integers(112, 224, size=2))
        self.bbox_px = (x0, y0, x0 + BBOX_PX, y0 + BBOX_PX)
        self.bbox = (x0 * RES, TOP - (y0 + BBOX_PX) * RES,
                     (x0 + BBOX_PX) * RES, TOP - y0 * RES)
        self.zones = []
        for z in range(N_ZONES):
            r_out = float(rng.uniform(40, 64))
            cx = float(rng.uniform(x0 + r_out, x0 + BBOX_PX - r_out))
            cy = float(rng.uniform(y0 + r_out, y0 + BBOX_PX - r_out))
            rot = float(rng.uniform(0, 2 * np.pi))
            ang = rot + np.arange(2 * SPIKES) * np.pi / SPIKES
            rad = np.where(np.arange(2 * SPIKES) % 2 == 0, r_out, 0.45 * r_out)
            ring = [[float((cx + r * np.cos(a)) * RES),
                     float(TOP - (cy + r * np.sin(a)) * RES)]
                    for r, a in zip(rad, ang)]
            xs, ys = [p[0] for p in ring], [p[1] for p in ring]
            self.zones.append((z, min(xs), min(ys), max(xs), max(ys), [ring]))
        self.expected, self.candidates, self.hits = self._replay()

    def _replay(self):
        """Per-zone (count, sum, min, max) by the even-odd rule, computed
        with the same arithmetic as ``point_in_polygon_col`` on the pixel
        centres ``read_pixels`` emits, after the same bbox prefilter."""
        x0, y0, x1, y1 = self.bbox_px
        xs = (np.arange(x0, x1) + 0.5) * RES
        ys = TOP - (np.arange(y0, y1) + 0.5) * RES
        vals = self.values[y0:y1, x0:x1].astype(np.float64)
        expected, candidates, hits = {}, 0, 0
        for zid, l, b, r, t, rings in self.zones:
            cs = (xs > l) & (xs < r)
            rs = (ys > b) & (ys < t)
            px, py = np.meshgrid(xs[cs], ys[rs])
            crossings = np.zeros(px.shape, dtype=np.int64)
            for ring in rings:
                p = np.asarray(ring)
                q = np.roll(p, -1, axis=0)
                for (p0, p1), (q0, q1) in zip(p, q):
                    with np.errstate(divide="ignore", invalid="ignore"):
                        hit = ((p1 > py) != (q1 > py)) & (
                            px < (q0 - p0) * (py - p1) / (q1 - p1) + p0)
                    crossings += hit
            inside = crossings % 2 == 1
            v = vals[np.ix_(rs, cs)][inside]
            candidates += px.size
            hits += v.size
            if v.size:
                expected[zid] = (int(v.size), float(v.sum()),
                                 float(v.min()), float(v.max()))
        return expected, candidates, hits

    # -- one pass -------------------------------------------------------------
    def ops_per_pass(self) -> int:
        return len(self.expected)

    def zone_frame(self):
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(self.zones, 1), ZONE_SCHEMA)

    def pixels(self):
        from gfw_pixetl_spark.sources.raster_table import (
            raster_catalog, read_pixels,
        )

        return read_pixels(raster_catalog(self.spark, self.uris),
                           bounds=self.bbox, window=READ_WINDOW,
                           parallelism=self.nproc)

    def zonal(self, pixels):
        from pyspark.sql import functions as F

        from gfw_pixetl_spark.functions.geometry import point_in_polygon_col

        x, y = F.col("x"), F.col("y")
        inside = point_in_polygon_col(x, y, F.col("geom"))
        return (
            pixels.crossJoin(F.broadcast(self.zone_frame()))
            .filter((x > F.col("l")) & (x < F.col("r"))
                    & (y > F.col("b")) & (y < F.col("t")))
            .filter(inside)
            .groupBy("zone_id")
            .agg(F.count("*").alias("n_px"), F.sum("value").alias("sum_v"),
                 F.min("value").alias("min_v"), F.max("value").alias("max_v"))
        )

    def run_pass(self, phases: Phases) -> PassResult:
        with phases.phase("build"):
            result = self.zonal(self.pixels()).cache()
        with phases.phase("plan"):
            result._jdf.queryExecution().executedPlan()
        with phases.phase("exec"):
            result.write.format("noop").mode("overwrite").save()
        rows = result.collect()
        result.unpersist()
        res = PassResult(phases=phases)
        res.detail = {"rows": [tuple(r) for r in rows]}
        return res

    def verify(self, res: PassResult) -> None:
        res.attempted += len(self.expected)
        got = {}
        for zid, n, s, lo, hi in res.detail["rows"]:
            if zid in got or zid not in self.expected:
                res.fail(f"zone {zid}: unexpected row")
            got[zid] = (int(n), float(s), float(lo), float(hi))
        for zid, want in sorted(self.expected.items()):
            if got.get(zid) != want:
                res.fail(f"zone {zid}: {got.get(zid)} != {want}")

    def corrupt(self, res: PassResult) -> None:
        """Drop one zone's row from the result."""
        res.detail["rows"] = res.detail["rows"][1:]

    def cleanup(self, res: PassResult) -> None:
        pass

    # -- per-layer trace -------------------------------------------------------
    def layers(self, traced: list[PassResult]) -> dict:
        from pyspark.sql import functions as F

        out = {"raster_table.files_total": len(self.uris)}
        ql, qb, qr, qt = self.bbox
        kept = []
        for k, uri in enumerate(self.uris):
            left, bottom, right, top = _file_box(k)
            if left < qr and right > ql and bottom < qt and top > qb:
                kept.append(uri)
        out["raster_table.files_kept"] = len(kept)

        read = self.pixels().groupBy("uri").agg(
            F.count("*").alias("n"), F.sum("value").alias("s"))
        dt, rows = timed(lambda: read.collect())
        out["raster_table.read_s"] = dt
        out["raster_table.pixels"] = sum(r.n for r in rows)

        pixels = self.pixels().localCheckpoint()
        dt, _ = timed(lambda: self.zonal(pixels).write.format("noop")
                      .mode("overwrite").save())
        out["geometry.pip_s"] = dt
        out["geometry.pip_candidates"] = self.candidates
        out["geometry.pip_hits"] = self.hits

        # single-threaded decode replay over read_pixels' own windows
        windows = []
        for k, uri in enumerate(self.uris):
            if uri not in kept:
                continue
            for r0 in range(0, FILE_PX, READ_WINDOW):
                for c0 in range(0, FILE_PX, READ_WINDOW):
                    windows.append([(uri, c0, r0, READ_WINDOW, READ_WINDOW)])
        out.update(replay_read(
            windows, block_count(SRC_BLOCK, SRC_BLOCK, FILE_PX, FILE_PX)))
        out.update(self._vector_layers())
        return out

    def _vector_layers(self) -> dict:
        """Burn the zones (value = zone id, last wins) through the salted
        ``VectorPipe`` on a one-degree grid, then replay the kernel."""
        from gfw_pixetl_spark.functions.rasterize_kernel import (
            merge_keyed, polygon_mask, rasterize_keyed,
        )
        from gfw_pixetl_spark.grids import LatLngGrid
        from gfw_pixetl_spark.models import LayerModel
        from gfw_pixetl_spark.plans.vector_pipe import GEOM_TYPE, VectorPipe

        grid = LatLngGrid(1, FILE_PX)
        layer = LayerModel(
            dataset="bench_zones", version="v1", source_type="vector",
            pixel_meaning="zone", data_type="uint16", grid="10/40000",
            rasterize_method="value", order="asc", no_data=0)
        pipe = VectorPipe(layer=layer, work_dir=str(self.work / "burn"),
                          grid=grid, n_salts=2)
        feats = self.spark.createDataFrame(
            [(z[0], float(z[0] + 1), z[5]) for z in self.zones],
            f"feature_id long, value double, geom {GEOM_TYPE}")
        out = {}
        tap_payloads(pipe.plan_payloads(self.spark, feats))  # warm-up
        dt, tap = timed(tap_payloads, pipe.plan_payloads(self.spark, feats))
        out["vector_pipe.burn_s"] = dt
        out["vector_pipe.payload_mb"] = tap["bytes"] / 1e6

        # windows = one-degree tiles here (512 px = one block)
        by_window: dict[tuple[int, int], list] = {}
        for z in self.zones:
            zid, l, b, r, t, rings = z
            for wx in range(int(l), int(np.ceil(r))):
                for wy in range(int(TOP - t), int(np.ceil(TOP - b))):
                    by_window.setdefault((wx, wy), []).append(z)
        out["vector_pipe.pairs"] = sum(len(v) for v in by_window.values())
        out["rasterize_kernel.vertices"] = sum(
            len(ring) for z in self.zones for ring in z[5])
        mask_t, merge_t = [], []
        for (wx, wy), zones in sorted(by_window.items()):
            transform = (float(wx), TOP - wy, RES, RES)
            for z in zones:
                t0 = time.perf_counter()
                polygon_mask(z[5], transform, (FILE_PX, FILE_PX))
                mask_t.append(time.perf_counter() - t0)
            partials = [
                rasterize_keyed([(float(z[0] + 1), z[0], z[5])
                                 for z in zones[s::2]],
                                transform, (FILE_PX, FILE_PX),
                                fill=0, dtype="uint16")
                for s in range(2)]
            t0 = time.perf_counter()
            merge_keyed(partials, (FILE_PX, FILE_PX), fill=0, dtype="uint16")
            merge_t.append(time.perf_counter() - t0)
        out["rasterize_kernel.mask_ms"] = 1e3 * median(mask_t)
        out["rasterize_kernel.merge_ms"] = 1e3 * median(merge_t)
        out["vector_pipe.merge_s"] = sum(merge_t)
        return out


def _file_box(k: int) -> tuple[float, float, float, float]:
    fi, fj = divmod(k, FILES_PER_SIDE)
    return (float(fj), TOP - fi - 1, float(fj + 1), TOP - fi)
