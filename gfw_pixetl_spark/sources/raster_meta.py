"""File-level raster metadata + stats sidecar (reference parity for
``gfw_pixetl/utils/gdal.py:170-238`` ``get_metadata`` and the
``.aux.xml`` stats sidecar uploaded in ``tiles/tile.py:143-172``).

The reference shells out to ``gdalinfo -json [-stats -mm] [-hist]`` and
parses the result into its ``Metadata``/``Band``/``BandStats``/
``Histogram`` models. Here the same dict shape is computed directly from
the engine's own COG container (``sources/geotiff.py``) — no GDAL
process, no temp JSON — and the stats sidecar is written in GDAL's
public PAM (Persistent Auxiliary Metadata) XML layout so downstream
GDAL-based consumers pick the statistics up exactly as if gdalinfo had
produced them.

Execution model: one tile's metadata is one bounded task — these run
inside the same applyInPandas writer task that produced the tile (the
pixels are already in memory there), never as a second read pass over
100 TB of output.
"""

from __future__ import annotations

import os

import numpy as np

from .geotiff import GeoTiff

HIST_BUCKETS = 256


def _valid_pixels(arr: np.ndarray, nodata) -> np.ndarray:
    """Pixels that count toward stats: nodata excluded, and NaN always
    excluded for float bands (a NaN produced by calc would otherwise
    poison every statistic even when nodata is a finite sentinel)."""
    keep = np.ones(arr.shape, dtype=bool)
    if arr.dtype.kind == "f":
        keep &= ~np.isnan(arr)
    if nodata is not None and not (
            isinstance(nodata, float) and np.isnan(nodata)):
        keep &= arr != nodata
    return arr[keep]


def band_stats(arr: np.ndarray, nodata=None) -> dict | None:
    """min/max/mean/std_dev over valid pixels (``BandStats`` shape,
    models/pydantic.py:88-92); None when the band is all-nodata (the
    reference skips stats for empty tiles)."""
    valid = _valid_pixels(arr, nodata)
    if valid.size == 0:
        return None
    v = valid.astype("float64")
    return {
        "min": float(v.min()),
        "max": float(v.max()),
        "mean": float(v.mean()),
        "std_dev": float(v.std()),
    }


def band_histogram(arr: np.ndarray, nodata=None) -> dict | None:
    """gdalinfo -hist convention (the A5 operator's convention too):
    256 buckets spanning [min-0.5, max+0.5] for integer data, [min, max]
    for floats; ``Histogram`` shape (models/pydantic.py:81-85)."""
    stats = band_stats(arr, nodata)
    if stats is None:
        return None
    lo, hi = stats["min"], stats["max"]
    if arr.dtype.kind in "ui":
        lo, hi = lo - 0.5, hi + 0.5
    elif hi == lo:
        hi = lo + 1.0
    valid = _valid_pixels(arr, nodata)
    counts, _ = np.histogram(
        valid.astype("float64"), bins=HIST_BUCKETS, range=(lo, hi)
    )
    return {
        "count": HIST_BUCKETS,
        "min": float(lo),
        "max": float(hi),
        "buckets": [int(c) for c in counts],
    }


def metadata_from_array(
    data: np.ndarray,
    profile: dict,
    transform: tuple[float, float, float, float],
    compute_stats: bool = False,
    compute_histogram: bool = False,
) -> dict:
    """``Metadata`` dict (models/pydantic.py:105-114) from in-memory
    pixels + profile — the zero-extra-IO path used by the tile sink."""
    ox, sx, oy, sy = transform
    bands, rows, cols = data.shape
    nodata = profile.get("nodata")
    meta = {
        "extent": (ox, oy - sy * rows, ox + sx * cols, oy),
        "width": cols,
        "height": rows,
        "pixelxsize": abs(sx),
        "pixelysize": abs(sy),
        "crs": profile.get("crs"),
        "driver": profile.get("driver", "GTiff"),
        "compression": profile.get("compress"),
        "bands": [],
    }
    for b in range(bands):
        band = {
            "data_type": str(data.dtype),
            "no_data": nodata,
            "nbits": profile.get("nbits"),
            "blockxsize": profile.get("blockxsize"),
            "blockysize": profile.get("blockysize"),
            "stats": None,
            "histogram": None,
        }
        if compute_stats:
            band["stats"] = band_stats(data[b], nodata)
        if compute_histogram:
            band["histogram"] = band_histogram(data[b], nodata)
        meta["bands"].append(band)
    return meta


def get_metadata(
    path: str, compute_stats: bool = False, compute_histogram: bool = False
) -> dict:
    """Open a GeoTIFF and return the reference-shaped metadata dict —
    the ``gdalinfo -json`` replacement (``utils/gdal.py:170-238``)."""
    tif = GeoTiff.open(path)
    data = tif.read_window(0, 0, tif.width, tif.height, masked=False)
    return metadata_from_array(
        data, tif.profile, tif.transform,
        compute_stats=compute_stats, compute_histogram=compute_histogram,
    )


def write_stats_sidecar(path: str, metadata: dict) -> str | None:
    """Write GDAL's PAM ``.aux.xml`` next to the tile (public PAM
    layout: PAMDataset > PAMRasterBand > Metadata > MDI items — what
    ``gdalinfo -stats`` persists and ``tiles/tile.py:154-162`` uploads).
    Returns the sidecar path, or None when no band had stats."""
    parts = ["<PAMDataset>"]
    wrote = False
    for i, band in enumerate(metadata.get("bands", []), start=1):
        stats = band.get("stats")
        hist = band.get("histogram")
        if not stats and not hist:
            continue
        wrote = True
        parts.append(f'  <PAMRasterBand band="{i}">')
        if hist:
            buckets = "|".join(str(c) for c in hist["buckets"])
            parts.append("    <Histograms>")
            parts.append("      <HistItem>")
            parts.append(f"        <HistMin>{hist['min']:.14g}</HistMin>")
            parts.append(f"        <HistMax>{hist['max']:.14g}</HistMax>")
            parts.append(
                f"        <BucketCount>{hist['count']}</BucketCount>")
            parts.append("        <IncludeOutOfRange>1</IncludeOutOfRange>")
            parts.append("        <Approximate>0</Approximate>")
            parts.append(f"        <HistCounts>{buckets}</HistCounts>")
            parts.append("      </HistItem>")
            parts.append("    </Histograms>")
        if stats:
            parts.append("    <Metadata>")
            for key, val in (
                ("STATISTICS_MINIMUM", stats["min"]),
                ("STATISTICS_MAXIMUM", stats["max"]),
                ("STATISTICS_MEAN", stats["mean"]),
                ("STATISTICS_STDDEV", stats["std_dev"]),
            ):
                parts.append(
                    f'      <MDI key="{key}">{val:.14g}</MDI>')
            parts.append("    </Metadata>")
        parts.append("  </PAMRasterBand>")
    parts.append("</PAMDataset>")
    if not wrote:
        return None
    sidecar = path + ".aux.xml"
    tmp = f"{sidecar}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(parts) + "\n")
    os.replace(tmp, sidecar)  # atomic publish, as write_cog does
    return sidecar
