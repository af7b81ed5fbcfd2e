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

import math
import os

import numpy as np

from .geotiff import GeoTiff

HIST_BUCKETS = 256

# How far, relatively, NumPy's pairwise sum over a band's pixels can put
# the std from the counted one: its worst case for a 40000^2 band (~43
# roundings of the variance) is 2.4e-15; measured on random 16-bit
# bands, under 4e-16.
_TIE = 2.5e-15


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


def _value_counts(arr: np.ndarray, nodata) -> tuple[np.ndarray, np.ndarray]:
    """``(values, counts)`` of an integer band of at most 16 bits: its
    distinct valid values as float64, ascending, and how many pixels
    hold each. One ``bincount`` over the band; nodata's bucket is
    cleared, which is ``arr != nodata`` for every nodata the band can
    hold (a NaN, fractional or out-of-range nodata excludes nothing)."""
    info = np.iinfo(arr.dtype)
    idx = arr.ravel()
    if info.min:  # signed: flip the sign bit, so index = value - min
        unsigned = np.dtype(f"u{arr.dtype.itemsize}")
        idx = idx.view(unsigned) ^ unsigned.type(-info.min)
    counts = np.bincount(idx, minlength=info.max - info.min + 1)
    if nodata is not None:
        nd = float(nodata)
        if nd.is_integer() and info.min <= nd <= info.max:
            counts[int(nd) - info.min] = 0
    offsets = np.flatnonzero(counts)
    return (offsets + info.min).astype("float64"), counts[offsets]


def band_summary(
    arr: np.ndarray, nodata=None, histogram: bool = True,
) -> tuple[dict | None, dict | None]:
    """``(stats, histogram)`` of one band from one pass over its pixels,
    what ``gdalinfo -stats -hist`` reports (``utils/gdal.py:170-238``);
    ``(None, None)`` when the band is all-nodata (the reference skips
    stats for empty tiles), and no histogram unless ``histogram``.

    stats: min/max/mean/std_dev over valid pixels (``BandStats`` shape,
    models/pydantic.py:88-92). histogram: the gdalinfo -hist convention
    (the A5 operator's too), 256 buckets spanning [min-0.5, max+0.5]
    for integer data, [min, max] for floats (``Histogram`` shape,
    models/pydantic.py:81-85).

    An integer band of at most 16 bits is reduced to per-value counts
    (:func:`_value_counts`) and everything derives from those: the sum
    of integers is exact, so the mean equals NumPy's over the pixels,
    the histogram weighs each value by its count into the same buckets,
    and the std sums the same squared deviations, count times each,
    with ``math.fsum``. That sum is within ``_TIE`` of NumPy's pairwise
    one, so the sidecar's 14-digit std reads the same, except near a
    rounding edge, where the pixels are summed NumPy's way.
    Other bands take their valid pixels once, as float64."""
    if arr.dtype.kind in "ui" and arr.dtype.itemsize <= 2:
        values, counts = _value_counts(arr, nodata)
        if values.size == 0:
            return None, None
        n = int(counts.sum())
        mean = float(np.dot(counts, values.astype("int64"))) / n
        dev = values - mean
        std = math.sqrt(math.fsum((counts * (dev * dev)).tolist()) / n)
        if f"{std * (1 - _TIE):.14g}" != f"{std * (1 + _TIE):.14g}":
            # too close to a rounding edge of the sidecar's 14 digits:
            # take NumPy's own sum over the pixels
            std = float(_valid_pixels(arr, nodata).astype("float64").std())
        lo, hi = float(values[0]), float(values[-1])
    else:
        values = _valid_pixels(arr, nodata).astype("float64")
        if values.size == 0:
            return None, None
        counts = None
        mean, std = float(values.mean()), float(values.std())
        lo, hi = float(values.min()), float(values.max())
    stats = {"min": lo, "max": hi, "mean": mean, "std_dev": std}
    if not histogram:
        return stats, None
    if arr.dtype.kind in "ui":
        lo, hi = lo - 0.5, hi + 0.5
    elif hi == lo:
        hi = lo + 1.0
    buckets, _ = np.histogram(
        values, bins=HIST_BUCKETS, range=(lo, hi), weights=counts)
    return stats, {
        "count": HIST_BUCKETS,
        "min": lo,
        "max": hi,
        "buckets": [int(c) for c in buckets],
    }


def band_stats(arr: np.ndarray, nodata=None) -> dict | None:
    """The stats half of :func:`band_summary`."""
    return band_summary(arr, nodata, histogram=False)[0]


def band_histogram(arr: np.ndarray, nodata=None) -> dict | None:
    """The histogram half of :func:`band_summary`."""
    return band_summary(arr, nodata)[1]


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
        if compute_stats or compute_histogram:
            stats, hist = band_summary(data[b], nodata, compute_histogram)
            band["stats"] = stats if compute_stats else None
            band["histogram"] = hist
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
