"""Helpers shared by the tile workloads: the CLI-shaped pass, the
payload tap, the tracing window reader and single-threaded replays."""

from __future__ import annotations

import io
import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from gfw_pixetl_spark.sources.raster import WindowReader

from .common import PassResult, Phases, median, quantile


def cli_pass(build, phases: Phases):
    """One tile job the way ``gfw_pixetl_spark.cli.main`` runs it:
    ``run`` -> ``cache`` -> ``status_tallies`` -> ``exit_code``, with a
    full ``noop`` write materialising the status frame (and with it every
    tile) before the tallies read it back. ``build`` returns the lazy
    status DataFrame. Returns the status rows."""
    from gfw_pixetl_spark.plans.report import exit_code, status_tallies

    with phases.phase("build"):
        statuses = build().cache()
    with phases.phase("plan"):
        statuses._jdf.queryExecution().executedPlan()
    with phases.phase("exec"):
        statuses.write.format("noop").mode("overwrite").save()
    with phases.phase("report"):
        status_tallies(statuses)
        exit_code(statuses)
    rows = statuses.collect()
    statuses.unpersist()
    return rows


def check_statuses(res: PassResult, rows,
                   expected_tiles: set[str]) -> dict[str, str]:
    """Count a failure for every expected tile that is missing or not
    processed; returns tile_id -> output path of the processed ones."""
    paths = {}
    for r in rows:
        if r.status == "processed":
            paths[r.tile_id] = r.out_path
        elif r.tile_id in expected_tiles:
            res.fail(f"{r.tile_id}: status {r.status}")
    for tid in sorted(expected_tiles - {r.tile_id for r in rows}):
        res.fail(f"{tid}: no status row")
    return paths


def tap_payloads(payloads) -> dict:
    """Run a window-payload frame (WINDOW_PAYLOAD_SCHEMA) to completion
    and return its volume: windows, payload bytes, largest Arrow batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    def measure(batches):
        for pdf in batches:
            sizes = [len(p) for p in pdf["payload"] if p is not None]
            yield pd.DataFrame({"batch_bytes": [int(sum(sizes))],
                                "n_rows": [len(sizes)]})

    row = (payloads.mapInPandas(measure, "batch_bytes long, n_rows long")
           .agg(F.sum("batch_bytes").alias("bytes"),
                F.max("batch_bytes").alias("max_batch"),
                F.sum("n_rows").alias("windows"))
           .collect()[0])
    return {"windows": int(row.windows or 0), "bytes": int(row.bytes or 0),
            "max_batch": int(row.max_batch or 0)}


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def replay_read(windows, blocks_of) -> dict:
    """Single-threaded ``GeoTiff.read_window`` over ``windows``: a list of
    ``[(uri, col_off, row_off, width, height), ...]`` per window (one entry
    per source file the window reads). ``blocks_of(uri, c, r, w, h)`` gives
    the number of stored blocks the read decodes."""
    from gfw_pixetl_spark.sources.geotiff import GeoTiff

    per_window, nbytes, blocks = [], 0, 0
    for reads in windows:
        t0 = time.perf_counter()
        for uri, c0, r0, w, h in reads:
            arr = GeoTiff.open(uri).read_window(c0, r0, w, h)
            nbytes += arr.data.nbytes
        per_window.append(time.perf_counter() - t0)
        blocks += sum(blocks_of(*rd) for rd in reads)
    total = sum(per_window)
    return {
        "geotiff.read_window_ms": 1e3 * median(per_window),
        "geotiff.read_window_p90_ms": 1e3 * quantile(per_window, 0.9),
        "geotiff.blocks_read": blocks,
        "geotiff.decode_mb_s": nbytes / 1e6 / total if total else 0.0,
    }


def block_count(tile_w: int, tile_h: int, width: int, height: int):
    """blocks_of() for files stored in ``tile_w x tile_h`` blocks."""

    def count(_uri, c0, r0, w, h):
        c0, c1 = max(c0, 0), min(c0 + w, width)
        r0, r1 = max(r0, 0), min(r0 + h, height)
        if c1 <= c0 or r1 <= r0:
            return 0
        return ((c1 - 1) // tile_w - c0 // tile_w + 1) * (
            (r1 - 1) // tile_h - r0 // tile_h + 1)

    return count


def replay_encode(paths: dict[str, str], layer, grid, scratch: Path,
                  stats: bool) -> dict:
    """Single-threaded ``write_cog`` (and, with ``stats``,
    ``metadata_from_array``) over the pass's own output tiles, with the
    profile ``write_tiles`` uses."""
    from gfw_pixetl_spark.sources.geotiff import read_tile, write_cog
    from gfw_pixetl_spark.sources.raster_meta import metadata_from_array

    scratch.mkdir(parents=True, exist_ok=True)
    nodata = layer.dtype_obj.no_data
    cog_s = stats_s = 0.0
    out_bytes = out_px = 0
    for tid, path in sorted(paths.items()):
        tile, _ = read_tile(path)
        tb = grid.get_tile_bounds(tid)
        transform = (tb.left, grid.xres, tb.top, grid.yres)
        dst = str(scratch / f"{tid}.tif")
        dt, profile = timed(
            write_cog, dst, tile, transform=transform, crs=grid.crs,
            nodata=nodata, blockxsize=grid.blockxsize,
            compress=layer.dtype_obj.compression or "NONE",
            nbits=layer.dtype_obj.nbits, overviews=False)
        cog_s += dt
        out_bytes += os.path.getsize(path)
        out_px += tile.size
        if stats:
            dt, _ = timed(metadata_from_array, tile, profile, transform,
                          compute_stats=True, compute_histogram=True)
            stats_s += dt
    return {"geotiff.write_cog_s": cog_s,
            "geotiff.out_mb": out_bytes / 1e6,
            "geotiff.out_bytes_per_px": out_bytes / out_px if out_px else 0.0,
            "raster_meta.stats_s": stats_s}


def replay_serialise(arrays) -> float:
    """Median ms of the window payload round trip (``np.save`` in the
    transform kernel, ``np.load`` in the tile writer)."""
    times = []
    for arr in arrays:
        t0 = time.perf_counter()
        buf = io.BytesIO()
        np.save(buf, arr, allow_pickle=False)
        np.load(io.BytesIO(buf.getvalue()), allow_pickle=False)
        times.append(time.perf_counter() - t0)
    return 1e3 * median(times)


@dataclass
class TracingReader(WindowReader):
    """A ``WindowReader`` that delegates to ``inner`` and appends one span
    per call (start, seconds, pixels) to a per-process file under
    ``span_dir``. Used only in traced passes."""

    inner: object
    span_dir: str

    def __call__(self, uris, bounds, shape, band_count):
        t0 = time.time()
        c0 = time.perf_counter()
        arr = self.inner(uris, bounds, shape, band_count)
        dt = time.perf_counter() - c0
        with open(os.path.join(self.span_dir, f"{os.getpid()}.jsonl"),
                  "a") as fh:
            fh.write(json.dumps({"t": t0, "s": dt,
                                 "px": int(np.prod(shape)),
                                 "files": len(uris)}) + "\n")
        return arr


def read_spans(span_dir: Path) -> list[dict]:
    spans = []
    for f in sorted(span_dir.glob("*.jsonl")):
        spans.extend(json.loads(line) for line in f.read_text().splitlines())
    return spans
