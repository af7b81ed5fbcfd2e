"""S2/S9 object-store integration against a real (moto) S3 endpoint.

The moto server runs as an HTTP service, so the executor-side upload
kernel genuinely speaks the S3 wire protocol from Spark Python workers —
no in-process mocking. Mirrors the reference's integration assertions on
S3 side-effects (gfw_pixetl tests/utils.py:9-24, conftest.py:71-109).
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from gfw_pixetl_spark.grids import LatLngGrid
from gfw_pixetl_spark.plans import raster_pipe as rp
from gfw_pixetl_spark.sources.object_store import (
    S3Config,
    existing_tiles,
    fetch_cog_profile,
    list_files,
    upload_geojsons,
    upload_tiles,
)
from tests.test_raster_pipe import make_pipe

BUCKET = "gfw-test-bucket"


@pytest.fixture(scope="module")
def s3cfg():
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    cfg = S3Config(
        endpoint_url=f"http://{host}:{port}",
        access_key="testing",
        secret_key="testing",
    )
    cfg.client().create_bucket(Bucket=BUCKET)
    yield cfg
    server.stop()


def test_pseudo_glob_listing(s3cfg):
    client = s3cfg.client()
    keys = [
        "src/v1/a_10N_000E.tif",
        "src/v1/a_20N_000E.tif",
        "src/v1/readme.txt",
        "src/v2/a_10N_000E.tif",
    ]
    for k in keys:
        client.put_object(Bucket=BUCKET, Key=k, Body=b"x")
    # reference pseudo-glob: prefix up to first '*', fnmatch after
    got = list_files(s3cfg, BUCKET, "src/v1/*.tif")
    assert got == ["src/v1/a_10N_000E.tif", "src/v1/a_20N_000E.tif"]
    got_all = list_files(s3cfg, BUCKET, "src/v1/")
    assert len(got_all) == 3


def test_upload_tiles_and_manifest(spark, tmp_path, s3cfg):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [
        {"uri": "memory://a", "band": 1,
         "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0},
    ]
    status = pipe.run(spark, files, subset=["00N_000E", "10N_000E"])
    prefix = pipe.layer.prefix

    uploaded = upload_tiles(status, s3cfg, BUCKET, prefix).collect()
    assert {r.tile_id for r in uploaded} == {"00N_000E", "10N_000E"}

    client = s3cfg.client()
    for r in uploaded:
        head = client.head_object(Bucket=BUCKET, Key=r.s3_key)
        assert head["ContentLength"] == r.n_bytes
        assert r.s3_key == f"{prefix}/{r.tile_id}.tif"

    # round-trip the engine's own profile metadata from the object
    # store with a RANGED GET — the COG header-only read
    profile = fetch_cog_profile(s3cfg, BUCKET, uploaded[0].s3_key)
    assert profile["dtype"] == "uint8" and profile["count"] == 1
    assert profile["crs"] == "EPSG:4326" and profile["tiled"]

    # F5 incremental skip now sees the destination as populated
    ex = existing_tiles(s3cfg, BUCKET, prefix)
    assert ex == ["00N_000E", "10N_000E"]
    status2 = pipe.run(
        spark, files, subset=["00N_000E", "10N_000E"], existing_tile_ids=ex
    )
    assert status2.count() == 0

    # manifest puts (S10) — only on all-success, enforced by caller
    man = rp.manifest(status, grid)
    written = upload_geojsons(man, s3cfg, BUCKET, prefix)
    assert sorted(written) == [
        f"{prefix}/extent.geojson", f"{prefix}/tiles.geojson",
    ]
    body = client.get_object(
        Bucket=BUCKET, Key=f"{prefix}/tiles.geojson"
    )["Body"].read()
    doc = json.loads(body)
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == 2


def test_existing_tiles_empty_prefix(s3cfg):
    assert existing_tiles(s3cfg, BUCKET, "nothing/here") == []


def test_retry_helper_recovers_and_gives_up():
    from gfw_pixetl_spark.sources.object_store import _with_retries

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("blip")
        return "ok"

    assert _with_retries(flaky, attempts=5, base_delay=0.0) == "ok"
    assert calls["n"] == 3

    import pytest

    def always():
        raise TimeoutError("down")

    with pytest.raises(TimeoutError):
        _with_retries(always, attempts=3, base_delay=0.0)


def test_open_cog_windowed_reads_over_ranged_gets(s3cfg, tmp_path):
    """S4 over the network: open_cog parses the header from a ranged
    prefix and serves read_window/read_decimated via per-tile ranged
    GETs — results identical to the local reader."""
    import numpy as np

    from gfw_pixetl_spark.sources.geotiff import GeoTiff, write_cog
    from gfw_pixetl_spark.sources.object_store import open_cog

    ii, jj = np.meshgrid(np.arange(160), np.arange(200), indexing="ij")
    data = ((ii * 7 + jj * 3) % 251).astype("uint8")[None]
    path = str(tmp_path / "remote.tif")
    write_cog(path, data, transform=(0.0, 0.05, 10.0, 0.05),
              nodata=255, blockxsize=64, overviews=True)
    key = "cogs/remote.tif"
    s3cfg.client().upload_file(path, BUCKET, key)

    remote = open_cog(s3cfg, BUCKET, key)
    local = GeoTiff.open(path)
    assert remote.profile == local.profile

    for win in [(0, 0, 200, 160), (37, 51, 90, 70), (150, 100, 80, 80)]:
        got = remote.read_window(*win)
        want = local.read_window(*win)
        np.testing.assert_array_equal(np.ma.getdata(got),
                                      np.ma.getdata(want))
        np.testing.assert_array_equal(np.ma.getmaskarray(got),
                                      np.ma.getmaskarray(want))

    # overview-decimated read also rides the ranged path
    b = (0.0, 10.0 - 160 * 0.05, 200 * 0.05, 10.0)
    dec_r = remote.read_decimated(b, 50, 40)
    dec_l = local.read_decimated(b, 50, 40)
    np.testing.assert_array_equal(np.ma.getdata(dec_r),
                                  np.ma.getdata(dec_l))
