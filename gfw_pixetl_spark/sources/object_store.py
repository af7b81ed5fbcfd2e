"""S3 object-store integration: bucket-listing scan (S2) + upload sink (S9).

Re-expresses the reference's object-store edges
(``gfw_pixetl/utils/aws.py:42-62`` pseudo-glob listing,
``gfw_pixetl/tiles/tile.py:143-172`` tile upload,
``gfw_pixetl/utils/upload_geometries.py:30-83`` manifest upload) in the
Spark execution model:

* **Listing is driver-side.** A prefix listing is metadata (keys + sizes),
  thousands of rows at most — it becomes the file-catalog DataFrame that
  the broadcast prune joins consume. No executor ever lists.
* **Uploads are executor-side.** ``upload_tiles`` runs one boto3 client
  per partition inside ``mapInPandas`` and streams each tile file straight
  from the worker that holds it; the driver only ever sees the (tiny)
  status rows. At 100 TB scale the alternative — collecting paths and
  uploading from the driver — is a single-node funnel; this shape keeps
  the upload as wide as the write.
* **Manifests are driver-side puts** of two small JSON objects, mirroring
  the reference's manifest-on-all-success policy (S10).

Endpoint + credentials travel in an ``S3Config`` value object so the same
code runs against real S3 (None endpoint) and a local moto server in
tests — no monkeypatching, the executors genuinely speak the S3 API over
HTTP.
"""

from __future__ import annotations

import fnmatch
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.functions import col as F_col

try:  # boto3 ships in this container; gate anyway for minimal installs
    import boto3

    HAVE_BOTO3 = True
except ImportError:  # pragma: no cover
    HAVE_BOTO3 = False


def _with_retries(
    fn,
    attempts: int = 5,
    base_delay: float = 0.5,
    retryable=(Exception,),
):
    """Bounded exponential-backoff retry for transient object-store
    errors — the role of the reference's ``@retry(...)`` wrappers on its
    S3/GDAL IO (``utils/gdal.py`` stop_max_attempt_number=7,
    ``sources.py`` metadata fetch). Deterministic delays (no jitter
    source) keep executor behavior reproducible; at 1000 executors the
    per-task backoff is what stops a blip from becoming a retry storm.
    """
    import time

    last = None
    for attempt in range(attempts):
        try:
            return fn()
        except retryable as e:  # noqa: PERF203 - retry loop by design
            last = e
            if attempt == attempts - 1:
                break
            time.sleep(base_delay * (2 ** attempt))
    raise last


@dataclass(frozen=True)
class S3Config:
    """Connection recipe for an S3-compatible endpoint. Picklable, so it
    rides into executor tasks; each task builds its own client (boto3
    clients are not fork/pickle-safe)."""

    endpoint_url: str | None = None
    region: str = "us-east-1"
    access_key: str | None = None
    secret_key: str | None = None

    @classmethod
    def for_gcs(cls, access_key: str | None = None,
                secret_key: str | None = None) -> "S3Config":
        """GCS via its S3-interoperability XML API
        (storage.googleapis.com + HMAC keys) — the same listing/upload
        code paths serve both clouds, which is how the engine covers the
        reference's ``utils/google.py:30-46`` without a google-cloud
        dependency."""
        return cls(endpoint_url="https://storage.googleapis.com",
                   access_key=access_key, secret_key=secret_key)

    def client(self):
        if not HAVE_BOTO3:  # pragma: no cover
            raise NotImplementedError(
                "object-store access requires boto3 (absent in this install)"
            )
        kwargs: dict = {"region_name": self.region}
        if self.endpoint_url:
            kwargs["endpoint_url"] = self.endpoint_url
        if self.access_key:
            kwargs["aws_access_key_id"] = self.access_key
            kwargs["aws_secret_access_key"] = self.secret_key
        return boto3.client("s3", **kwargs)


def list_files(cfg: S3Config, bucket: str, pattern: str) -> list[str]:
    """S2: list keys under a prefix with the reference's pseudo-glob rule
    (``utils/aws.py:42-62``): the listing prefix is everything before the
    first ``*``; the full pattern then filters fnmatch-style. Returns keys
    in lexicographic order (S3 listing order), which downstream VRT-merge
    treats as the first-wins mosaic order (S5)."""
    prefix = pattern.split("*", 1)[0]
    client = cfg.client()

    def _list() -> list[str]:
        keys: list[str] = []
        paginator = client.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
            for obj in page.get("Contents", []):
                keys.append(obj["Key"])
        return keys

    keys = _with_retries(_list)
    if "*" in pattern:
        keys = [k for k in keys if fnmatch.fnmatch(k, pattern)]
    return keys


def existing_tiles(cfg: S3Config, bucket: str, prefix: str) -> list[str]:
    """F5 incremental-skip input: the sorted tile_ids already present
    under the destination prefix (``pipes/pipe.py:90-109``), for
    ``RasterPipe.run(existing_tile_ids=...)``. Key scheme is
    ``{prefix}/{tile_id}.{ext}`` (``layers.py:55-81``)."""
    keys = list_files(cfg, bucket, prefix.rstrip("/") + "/")
    return sorted({os.path.splitext(os.path.basename(k))[0] for k in keys})


def fetch_cog_profile(
    cfg: S3Config, bucket: str, key: str, first_bytes: int = 64 * 1024
) -> dict:
    """S3 raster-metadata fetch (``utils/utils.py:99-120`` equivalent)
    via a *ranged* GET: a COG keeps every IFD at the head of the file, so
    the profile (dtype/bands/blocks/CRS/nodata/transform) costs one small
    range request, never the pixel payload — the property that lets a
    1000-executor prune stage inspect a 100 TB mosaic cheaply. Doubles
    the range and retries if a (non-COG) file keeps metadata deeper."""
    import struct as _struct

    from .geotiff import GeoTiff

    client = cfg.client()
    rng = first_bytes
    while True:
        body = _with_retries(lambda: client.get_object(
            Bucket=bucket, Key=key, Range=f"bytes=0-{rng - 1}"
        )["Body"].read())
        try:
            tif = GeoTiff.from_bytes(body, path=f"s3://{bucket}/{key}")
            return tif.profile
        except (_struct.error, ValueError, IndexError, KeyError):
            if len(body) < rng:  # whole object fetched and still bad
                raise
            rng *= 4


UPLOAD_SCHEMA = "tile_id string, s3_key string, n_bytes long"


def upload_tiles(
    statuses: DataFrame,
    cfg: S3Config,
    bucket: str,
    prefix: str,
    ext: str = ".tif",
) -> DataFrame:
    """S9 upload sink: push each processed tile's output file to
    ``{prefix}/{tile_id}{ext}`` (``tiles/tile.py:143-172``;
    key scheme ``layers.py:55-81``).

    Runs as ``mapInPandas`` so each partition opens ONE client and uploads
    its tiles from the executor that can read them — upload parallelism
    equals write parallelism, and the returned (tile_id, s3_key, n_bytes)
    rows are the only thing that crosses back to the driver."""
    pre = prefix.rstrip("/")

    def up(batches: Iterator) -> Iterator:
        import pandas as pd

        client = cfg.client()
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if r.status != "processed" or not r.out_path:
                    continue
                key = f"{pre}/{r.tile_id}{ext}"
                n = os.path.getsize(r.out_path)
                _with_retries(
                    lambda p=r.out_path, k=key:
                    client.upload_file(p, bucket, k))
                out.append((r.tile_id, key, n))
                # stats sidecar rides along when present
                # (tiles/tile.py:154-162)
                sidecar = r.out_path + ".aux.xml"
                if os.path.isfile(sidecar):
                    skey = key + ".aux.xml"
                    client.upload_file(sidecar, bucket, skey)
                    out.append(
                        (r.tile_id, skey, os.path.getsize(sidecar)))
            yield pd.DataFrame(
                out, columns=["tile_id", "s3_key", "n_bytes"]
            )

    return statuses.select("tile_id", "status", "out_path").mapInPandas(
        up, UPLOAD_SCHEMA
    )


def upload_geojsons(
    manifest: dict, cfg: S3Config, bucket: str, prefix: str
) -> list[str]:
    """S10 manifest sink: put tiles.geojson + extent.geojson next to the
    tiles (``utils/upload_geometries.py:30-59``). Two small driver-side
    puts; caller enforces the manifest-only-on-all-success policy."""
    client = cfg.client()
    pre = prefix.rstrip("/")
    written = []
    for name in ("tiles", "extent"):
        doc = manifest.get(name)
        if doc is None:
            continue
        key = f"{pre}/{name}.geojson"
        client.put_object(
            Bucket=bucket,
            Key=key,
            Body=json.dumps(doc).encode(),
            ContentType="application/geo+json",
        )
        written.append(key)
    return written


class _RangedFile:
    """Seekable read-only file over an object-store key: every ``read``
    is one HTTP ranged GET. With a COG's tile-aligned access pattern
    (read_window does one seek+read per intersecting tile) this is the
    canonical COG-over-HTTP client — bytes transferred = header + the
    tiles actually touched, never the object."""

    def __init__(self, client, bucket: str, key: str):
        self._client = client
        self._bucket = bucket
        self._key = key
        self._pos = 0

    def seek(self, offset: int, whence: int = 0):
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        else:
            raise ValueError("SEEK_END unsupported on ranged reader")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            rng = f"bytes={self._pos}-"
        elif n == 0:
            return b""
        else:
            rng = f"bytes={self._pos}-{self._pos + n - 1}"
        body = _with_retries(lambda: self._client.get_object(
            Bucket=self._bucket, Key=self._key, Range=rng)["Body"].read())
        self._pos += len(body)
        return body

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def close(self) -> None:
        pass


def open_cog(cfg: S3Config, bucket: str, key: str,
             first_bytes: int = 64 * 1024):
    """Open an object-store COG for WINDOWED reads: header parsed from a
    ranged prefix (like :func:`fetch_cog_profile`), pixel reads wired to
    per-tile ranged GETs via :class:`_RangedFile`. The returned
    ``GeoTiff`` behaves exactly like a local one — ``read_window`` /
    ``read_bounds`` / ``read_decimated`` all work — but transfers only
    the tiles a query touches (the S4 windowed-read contract,
    ``tiles/utils/window_utils.py:88-133``, over the network path the
    reference gets from GDAL's /vsis3/)."""
    import struct as _struct

    from .geotiff import GeoTiff

    client = cfg.client()
    rng = first_bytes
    while True:
        body = _with_retries(lambda: client.get_object(
            Bucket=bucket, Key=key, Range=f"bytes=0-{rng - 1}"
        )["Body"].read())
        try:
            tif = GeoTiff.from_bytes(body, path=f"s3://{bucket}/{key}")
            break
        except (_struct.error, ValueError, IndexError, KeyError):
            if len(body) < rng:
                raise
            rng *= 4
    tif.opener = lambda: _RangedFile(client, bucket, key)
    return tif


# --- exactly-once manifest commit (S9+S10 composed) ------------------------
# ``upload_tiles`` is at-least-once per task retry: a speculative or
# re-executed task re-PUTs its tiles (harmless — same key, same bytes;
# S3 last-writer-wins on identical content) and re-emits its status
# rows (NOT harmless for the manifest: a naive collect would list the
# tile twice, and a whole-job re-run would publish a second manifest
# that double-counts). The functions below make the MANIFEST edge
# exactly-once by composing the reference's manifest-on-all-success
# policy (``gfw_pixetl/pipes/pipe.py:163-166``) with the snapshot
# table's O_EXCL commit loop (``sources/snapshots.py::_commit``),
# translated to the object store: versioned manifests under
# ``{prefix}/_manifest/v{N}.json`` written with ``If-None-Match: *``
# (S3 conditional PUT — the object-store O_CREAT|O_EXCL), a canonical
# content digest so a re-run of the SAME success set recognizes its
# earlier commit instead of minting a new version, and fixed-key
# ``tiles.geojson``/``extent.geojson`` convenience copies derived from
# the committed version (the versioned objects are the source of
# truth; the copies are last-writer-wins pointers for readers that
# expect the reference's key scheme).


def _canonical_digest(doc) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps(doc, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


def _latest_manifest_version(client, bucket: str, pre: str) -> int:
    head = 0
    token = None
    while True:
        kw = {"Bucket": bucket, "Prefix": f"{pre}/_manifest/v"}
        if token:
            kw["ContinuationToken"] = token
        resp = client.list_objects_v2(**kw)
        for obj in resp.get("Contents", []):
            name = obj["Key"].rsplit("/", 1)[-1]
            if name.startswith("v") and name.endswith(".json"):
                try:
                    head = max(head, int(name[1:-5]))
                except ValueError:
                    continue
        if not resp.get("IsTruncated"):
            return head
        token = resp.get("NextContinuationToken")


def commit_manifest_exactly_once(
    manifest: dict,
    cfg: S3Config,
    bucket: str,
    prefix: str,
    job_id: str | None = None,
    max_retries: int = 20,
) -> tuple[int, bool]:
    """CAS-commit a manifest version; returns ``(version, fresh)``.

    ``fresh=False`` means the head version already carries this exact
    content digest — the idempotent outcome of re-running a job whose
    commit already landed (e.g. the driver died between commit and
    report). A lost conditional PUT re-reads the new head and retries,
    exactly like the local O_EXCL loop."""
    client = cfg.client()
    pre = prefix.rstrip("/")
    digest = _canonical_digest(manifest)
    for _ in range(max_retries):
        head = _latest_manifest_version(client, bucket, pre)
        if head:
            cur = json.loads(
                client.get_object(
                    Bucket=bucket,
                    Key=f"{pre}/_manifest/v{head:012d}.json",
                )["Body"].read()
            )
            if cur.get("content_digest") == digest:
                return head, False
        version = head + 1
        body = dict(manifest)
        body["content_digest"] = digest
        body["version"] = version
        body["parent"] = head
        if job_id is not None:
            body["job_id"] = job_id
        try:
            client.put_object(
                Bucket=bucket,
                Key=f"{pre}/_manifest/v{version:012d}.json",
                Body=json.dumps(body).encode(),
                ContentType="application/json",
                IfNoneMatch="*",
            )
        except Exception as e:  # botocore ClientError, gated below
            code = getattr(e, "response", {}).get("Error", {}).get("Code")
            if code in ("PreconditionFailed", "412", "ConditionalRequestConflict"):
                continue  # lost the race: re-read head and retry
            raise
        # winner refreshes the reference-scheme convenience copies
        for name in ("tiles", "extent"):
            doc = manifest.get(name)
            if doc is not None:
                client.put_object(
                    Bucket=bucket,
                    Key=f"{pre}/{name}.geojson",
                    Body=json.dumps(doc).encode(),
                    ContentType="application/geo+json",
                )
        return version, True
    raise RuntimeError(f"manifest commit lost {max_retries} races")


def upload_exactly_once(
    statuses: DataFrame,
    manifest: dict,
    cfg: S3Config,
    bucket: str,
    prefix: str,
    job_id: str | None = None,
    ext: str = ".tif",
) -> dict:
    """S9 upload + S10 manifest with exactly-once manifest semantics.

    1. all-success gate BEFORE any upload (``pipes/pipe.py:163-166``):
       a single failed tile aborts the publish;
    2. executor-side tile PUTs (at-least-once, content-idempotent);
    3. driver-side dedup of the status rows by key — task retries and
       speculative duplicates collapse;
    4. HEAD verification of every uploaded key+size (the success set
       the manifest will claim is the set that is actually durable);
    5. CAS manifest commit (idempotent across whole-job re-runs).
    """
    n_failed = (
        statuses.filter(F_col("status").startswith("failed")).limit(1).count()
    )
    if n_failed:
        raise RuntimeError(
            "upload_exactly_once: failed tiles present — manifest is "
            "only published on all-success (reference pipes/pipe.py:163)"
        )
    up = upload_tiles(statuses, cfg, bucket, prefix, ext=ext)
    # bounded collect: one row per tile (+sidecar), after dedup
    rows = up.dropDuplicates(["s3_key"]).collect()
    client = cfg.client()
    for r in rows:
        head = _with_retries(
            lambda k=r.s3_key: client.head_object(Bucket=bucket, Key=k)
        )
        if head["ContentLength"] != r.n_bytes:
            raise RuntimeError(
                f"upload verification failed for {r.s3_key}: "
                f"expected {r.n_bytes} bytes, "
                f"found {head['ContentLength']}"
            )
    doc = dict(manifest)
    doc["uploads"] = sorted(
        [r.tile_id, r.s3_key, int(r.n_bytes)] for r in rows
    )
    version, fresh = commit_manifest_exactly_once(
        doc, cfg, bucket, prefix, job_id=job_id
    )
    return {"version": version, "fresh": fresh, "n_uploads": len(rows)}
