"""File-level metadata + stats sidecar (reference get_metadata /
gdalinfo -stats parity, ``utils/gdal.py:170-238``; sidecar upload
contract ``tiles/tile.py:143-172``)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from gfw_pixetl_spark.sources.geotiff import write_cog
from gfw_pixetl_spark.sources.raster_meta import (
    band_histogram,
    band_stats,
    band_summary,
    get_metadata,
    metadata_from_array,
    write_stats_sidecar,
)

TRANSFORM = (10.0, 0.5, 20.0, 0.5)


def test_band_stats_excludes_nodata():
    arr = np.array([[0, 2, 4], [0, 6, 8]], dtype="uint8")
    s = band_stats(arr, nodata=0)
    assert s == {"min": 2.0, "max": 8.0, "mean": 5.0,
                 "std_dev": float(np.std([2, 4, 6, 8]))}
    assert band_stats(np.zeros((2, 2), dtype="uint8"), nodata=0) is None


def test_band_histogram_gdalinfo_convention():
    arr = np.arange(256, dtype="uint8").reshape(16, 16)
    h = band_histogram(arr, nodata=None)
    # integer data: 256 buckets over [min-0.5, max+0.5] -> one per value
    assert h["count"] == 256 and h["min"] == -0.5 and h["max"] == 255.5
    assert h["buckets"] == [1] * 256


def test_get_metadata_from_cog(tmp_path):
    rng = np.random.default_rng(11)
    data = rng.integers(1, 50, size=(2, 64, 96)).astype("int16")
    path = str(tmp_path / "m.tif")
    write_cog(path, data, transform=TRANSFORM, crs="EPSG:4326", nodata=0,
              blockxsize=64, overviews=False)
    md = get_metadata(path, compute_stats=True, compute_histogram=True)
    assert md["width"] == 96 and md["height"] == 64
    assert md["extent"] == (10.0, 20.0 - 0.5 * 64, 10.0 + 0.5 * 96, 20.0)
    assert md["pixelxsize"] == 0.5 and md["crs"] == "EPSG:4326"
    assert md["compression"] == "DEFLATE" and md["driver"] == "GTiff"
    assert len(md["bands"]) == 2
    for b in range(2):
        band = md["bands"][b]
        assert band["data_type"] == "int16"
        assert band["stats"]["min"] == float(data[b].min())
        assert band["stats"]["max"] == float(data[b].max())
        assert abs(band["stats"]["mean"] - data[b].mean()) < 1e-9
        assert sum(band["histogram"]["buckets"]) == 64 * 96


def test_stats_sidecar_pam_roundtrip(tmp_path):
    data = np.array([[[1, 2], [3, 4]]], dtype="uint8")
    path = str(tmp_path / "s.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=None,
              overviews=False)
    md = get_metadata(path, compute_stats=True, compute_histogram=True)
    sidecar = write_stats_sidecar(path, md)
    assert sidecar == path + ".aux.xml"
    xml = open(sidecar).read()
    mins = dict(re.findall(r'<MDI key="([A-Z_]+)">([^<]+)</MDI>', xml))
    assert float(mins["STATISTICS_MINIMUM"]) == 1.0
    assert float(mins["STATISTICS_MAXIMUM"]) == 4.0
    assert float(mins["STATISTICS_MEAN"]) == 2.5
    assert "<HistCounts>" in xml and "<BucketCount>256</BucketCount>" in xml


def test_sidecar_write_is_atomic_and_unchanged(tmp_path):
    """The sidecar is published by tmp + rename: no ``.tmp*`` file is
    left beside it, an existing sidecar is replaced whole, and the PAM
    text is exactly the layout GDAL reads."""
    path = str(tmp_path / "t.tif")
    md = {"bands": [
        {"stats": {"min": 1.0, "max": 4.0, "mean": 2.5,
                   "std_dev": 1.118033988749895},
         "histogram": {"min": 0.5, "max": 4.5, "count": 4,
                       "buckets": [1, 1, 1, 1]}},
        {},
    ]}
    with open(path + ".aux.xml", "w") as f:
        f.write("stale sidecar from an earlier attempt, longer than new\n" * 50)
    assert write_stats_sidecar(path, md) == path + ".aux.xml"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t.tif.aux.xml"]
    assert open(path + ".aux.xml").read() == (
        '<PAMDataset>\n'
        '  <PAMRasterBand band="1">\n'
        '    <Histograms>\n'
        '      <HistItem>\n'
        '        <HistMin>0.5</HistMin>\n'
        '        <HistMax>4.5</HistMax>\n'
        '        <BucketCount>4</BucketCount>\n'
        '        <IncludeOutOfRange>1</IncludeOutOfRange>\n'
        '        <Approximate>0</Approximate>\n'
        '        <HistCounts>1|1|1|1</HistCounts>\n'
        '      </HistItem>\n'
        '    </Histograms>\n'
        '    <Metadata>\n'
        '      <MDI key="STATISTICS_MINIMUM">1</MDI>\n'
        '      <MDI key="STATISTICS_MAXIMUM">4</MDI>\n'
        '      <MDI key="STATISTICS_MEAN">2.5</MDI>\n'
        '      <MDI key="STATISTICS_STDDEV">1.1180339887499</MDI>\n'
        '    </Metadata>\n'
        '  </PAMRasterBand>\n'
        '</PAMDataset>\n'
    )


def test_sidecar_skipped_when_empty(tmp_path):
    data = np.zeros((1, 2, 2), dtype="uint8")
    path = str(tmp_path / "e.tif")
    write_cog(path, data, transform=TRANSFORM, nodata=0, overviews=False)
    md = get_metadata(path, compute_stats=True)
    assert write_stats_sidecar(path, md) is None


def test_pipe_writes_sidecar_when_requested(spark, tmp_path):
    import os

    from gfw_pixetl_spark.grids import LatLngGrid
    from gfw_pixetl_spark.models import LayerModel
    from gfw_pixetl_spark.plans import raster_pipe as rp
    from gfw_pixetl_spark.sources.raster import SyntheticReader

    grid = LatLngGrid(10, 160)
    layer = LayerModel(
        dataset="st_ds", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A", no_data=0, source_uri=["memory://synthetic"],
        compute_stats=True, compute_histogram=True,
    )
    pipe = rp.RasterPipe(
        layer=layer, reader=SyntheticReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path), grid=grid,
    )
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    rows = pipe.run(spark, files, subset=["10N_000E"]).collect()
    assert rows[0].status == "processed"
    assert os.path.isfile(rows[0].out_path + ".aux.xml")


def test_nan_excluded_with_finite_nodata():
    """Review regression: NaN pixels must not poison stats when nodata
    is a finite sentinel."""
    arr = np.array([[1.0, np.nan], [3.0, -9999.0]], dtype="float32")
    s = band_stats(arr, nodata=-9999.0)
    assert s == {"min": 1.0, "max": 3.0, "mean": 2.0,
                 "std_dev": 1.0}
    h = band_histogram(arr, nodata=-9999.0)
    assert sum(h["buckets"]) == 2


def _old_summary(arr, nodata):
    """The stats and histogram as two NumPy passes over the valid
    pixels computed them, before the one-pass ``band_summary``."""
    keep = np.ones(arr.shape, dtype=bool)
    if arr.dtype.kind == "f":
        keep &= ~np.isnan(arr)
    if nodata is not None and not (
            isinstance(nodata, float) and np.isnan(nodata)):
        keep &= arr != nodata
    v = arr[keep].astype("float64")
    if v.size == 0:
        return None, None
    stats = {"min": float(v.min()), "max": float(v.max()),
             "mean": float(v.mean()), "std_dev": float(v.std())}
    lo, hi = stats["min"], stats["max"]
    if arr.dtype.kind in "ui":
        lo, hi = lo - 0.5, hi + 0.5
    elif hi == lo:
        hi = lo + 1.0
    counts, _ = np.histogram(v, bins=256, range=(lo, hi))
    return stats, {"count": 256, "min": float(lo), "max": float(hi),
                   "buckets": [int(c) for c in counts]}


def _band(dtype, seed):
    """A (64, 96) band spread over much of ``dtype``'s range, with ties."""
    rng = np.random.default_rng(seed)
    if np.dtype(dtype).kind == "f":
        arr = rng.normal(50.0, 20.0, (64, 96)).astype(dtype)
        arr[8:][rng.random((56, 96)) < 0.05] = np.nan  # row 0 stays finite
        return arr
    info = np.iinfo(dtype)
    lo, hi = max(info.min, -40000), min(info.max, 40000)
    return rng.integers(lo, hi, (64, 96), endpoint=True).astype(dtype)


@pytest.mark.parametrize("dtype", [
    "uint8", "int8", "uint16", "int16",  # per-value counts
    "int32", "float32", "float64",       # valid pixels
])
@pytest.mark.parametrize("nodata_kind", ["in_data", "outside", "nan", "none"])
def test_band_summary_matches_two_pass_numpy(tmp_path, dtype, nodata_kind):
    arr = _band(dtype, seed=7)
    nodata = {"in_data": arr.flat[5].item(), "outside": -99999,
              "nan": float("nan"), "none": None}[nodata_kind]
    if nodata_kind == "in_data" and dtype.startswith("float"):
        arr[:8] = nodata  # a whole strip of nodata pixels
    old_stats, old_hist = _old_summary(arr, nodata)
    stats, hist = band_summary(arr, nodata)
    assert (band_stats(arr, nodata), band_histogram(arr, nodata)) == (
        stats, hist)
    for key in ("min", "max", "mean"):
        assert stats[key] == old_stats[key]
    assert stats["std_dev"] == pytest.approx(old_stats["std_dev"],
                                             rel=1e-12)
    assert hist == old_hist
    # the sidecar, the bytes a consumer sees, is unchanged
    new_md = metadata_from_array(arr[None], {"nodata": nodata}, TRANSFORM,
                                 compute_stats=True, compute_histogram=True)
    old_md = {"bands": [{"stats": old_stats, "histogram": old_hist}]}
    new_path = write_stats_sidecar(str(tmp_path / "new.tif"), new_md)
    old_path = write_stats_sidecar(str(tmp_path / "old.tif"), old_md)
    assert open(new_path, "rb").read() == open(old_path, "rb").read()


@pytest.mark.parametrize("dtype", ["uint8", "int16", "int32", "float32"])
def test_band_summary_all_nodata_is_none(dtype):
    arr = np.full((4, 5), 7, dtype=dtype)
    assert band_summary(arr, 7) == (None, None)
    assert band_stats(arr, 7) is None and band_histogram(arr, 7) is None


def test_band_summary_stats_only_skips_histogram():
    arr = _band("uint16", seed=3)
    stats, hist = band_summary(arr, 0, histogram=False)
    assert hist is None and stats == band_summary(arr, 0)[0]


def test_band_summary_rounding_edge_takes_numpy_sum(monkeypatch):
    """Near a rounding edge of the sidecar's 14 digits the std is NumPy's
    own pairwise sum over the pixels, bit for bit."""
    from gfw_pixetl_spark.sources import raster_meta

    monkeypatch.setattr(raster_meta, "_TIE", 0.5)  # every std is "near"
    arr = _band("int16", seed=5)
    assert band_summary(arr, 0)[0] == _old_summary(arr, 0)[0]
