"""Single-threaded microbench of the in-tree codecs that use
``sources/bitio.py`` (bit streams and varints).

For each codec it builds a payload from ``--seed``, then times its
encoder and decoder ``--reps`` times each, after 8 warm-up calls, in
this one process (no Spark, no worker pool) and reports the median
milliseconds. It also reports the md5 of the encoder's output and of
the decoder's result, so two checkouts can be compared for byte
identity as well as speed.

Usage:
    python tools/codec_microbench.py [--reps N] [--seed S] [codec ...]

Prints one JSON line:
    {"seed": S, "reps": N, "codecs": {name: {"enc_ms", "dec_ms",
     "enc_md5", "dec_md5"}}}
``enc_ms``/``enc_md5`` are null for the read-only codecs (protoaudit,
parquetmeta). The script imports ``gfw_pixetl_spark`` from the
checkout it sits in, so copying it into another checkout's ``tools/``
benches that checkout.

A/B two checkouts by alternating single runs of each and comparing the
per-codec medians: a codec's median over the runs, with the
interquartile range of the baseline's runs as its noise.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import tempfile
import time

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import numpy as np  # noqa: E402


def _md5(obj) -> str:
    if isinstance(obj, np.ndarray):
        blob = repr((obj.shape, obj.dtype.str)).encode() + obj.tobytes()
    elif isinstance(obj, (bytes, bytearray)):
        blob = bytes(obj)
    else:
        blob = repr(obj).encode()
    return hashlib.md5(blob).hexdigest()


def _text(rng: random.Random, n: int) -> bytes:
    words = [bytes(rng.choice(b"abcdefghijklmnopqrstuvwxyz")
                   for _ in range(rng.randint(2, 9))) for _ in range(300)]
    out = bytearray()
    while len(out) < n:
        out += rng.choice(words) + b" "
    return bytes(out[:n])


# Each builder returns (encode, decode): zero-argument callables. The
# decoder consumes the encoder's output, computed once here.

def _brotli(rng, tmp):
    from gfw_pixetl_spark.sources import brotli
    data = _text(rng, 24_000)
    comp = brotli.compress(data)
    return (lambda: brotli.compress(data),
            lambda: brotli.decompress(comp))


def _zstd(rng, tmp):
    from gfw_pixetl_spark.sources import zstd
    data = _text(rng, 48_000)
    comp = zstd.compress(data)
    return (lambda: zstd.compress(data),
            lambda: zstd.decompress(comp))


def _snappy(rng, tmp):
    from gfw_pixetl_spark.sources import snappy
    data = _text(rng, 200_000)
    comp = snappy.compress(data)
    return (lambda: snappy.compress(data),
            lambda: snappy.decompress(comp))


def _webp(rng, tmp):
    from gfw_pixetl_spark.sources import webp
    nrng = np.random.default_rng(rng.randrange(2**32))
    yy, xx = np.mgrid[0:48, 0:64]
    img = np.stack([(xx * 4) % 256, (yy * 5) % 256, (xx + yy) % 256],
                   axis=-1)
    img = (img + nrng.integers(0, 8, img.shape)).astype(np.uint8)
    comp = webp.encode_webp(img)
    return (lambda: webp.encode_webp(img),
            lambda: webp.decode_webp(comp))


def _flac(rng, tmp):
    from gfw_pixetl_spark.sources import flac
    nrng = np.random.default_rng(rng.randrange(2**32))
    t = np.arange(16_384)
    tone = 6000 * np.sin(t / 9.0) + nrng.normal(0, 300, t.size)
    samples = np.stack([tone, tone[::-1]], axis=1).astype(np.int16)
    comp = flac.encode_flac(samples, rate=16000)
    return (lambda: flac.encode_flac(samples, rate=16000),
            lambda: flac.decode_flac(comp))


def _h264(rng, tmp):
    from gfw_pixetl_spark.sources import h264
    dims = [(16 * rng.randint(1, 120), 16 * rng.randint(1, 68))
            for _ in range(300)]

    def enc():
        out = []
        for i, (w, h) in enumerate(dims):
            out.append(h264.build_sps(w + 2, h + 2))
            out.append(h264.build_slice(i % 7 == 0, i % 16, 4, b"\x00" * 8,
                                        idr_pic_id=i % 5))
        return b"".join(out)

    nals = [(h264.build_sps(w + 2, h + 2),
             h264.build_slice(i % 7 == 0, i % 16, 4, b"\x00" * 8,
                              idr_pic_id=i % 5))
            for i, (w, h) in enumerate(dims)]

    def dec():
        return [(h264.parse_sps(s), h264.parse_slice_header(sl, 4))
                for s, sl in nals]
    return enc, dec


def _ccitt(rng, tmp):
    from gfw_pixetl_spark.sources import ccitt
    nrng = np.random.default_rng(rng.randrange(2**32))
    yy, xx = np.mgrid[0:160, 0:400]
    black = ((xx // 7 + yy // 5) % 3 == 0) ^ (nrng.random(xx.shape) < 0.03)
    comp = ccitt.g4_encode(black)
    return (lambda: ccitt.g4_encode(black),
            lambda: ccitt.g4_decode(comp, 400, 160))


def _tfrecord(rng, tmp):
    from gfw_pixetl_spark.sources import tfrecord
    feats = [{"id": [i, -i, 1 << 40], "label": [rng.random()],
              "text": [_text(rng, 40)]} for i in range(800)]
    blobs = [tfrecord.encode_example(f) for f in feats]
    return (lambda: [tfrecord.encode_example(f) for f in feats],
            lambda: [tfrecord.decode_example(b) for b in blobs])


def _protoaudit(rng, tmp):
    from gfw_pixetl_spark.functions import protoaudit
    from gfw_pixetl_spark.sources import tfrecord
    blobs = [tfrecord.encode_example(
        {"id": [i, -i], "w": [rng.random(), 2.0], "s": [b"x" * (i % 50)]})
        for i in range(800)]
    return None, lambda: [protoaudit.audit_message(b) for b in blobs]


def _avro(rng, tmp):
    from gfw_pixetl_spark.sources import avro
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "v", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    recs = [{"id": rng.randrange(-2**62, 2**62), "v": rng.random(),
             "s": _text(rng, 12).decode(),
             "xs": [rng.randrange(-10**6, 10**6) for _ in range(6)]}
            for _ in range(1500)]
    blob = avro.write_container(recs, schema, codec="null")
    return (lambda: avro.write_container(recs, schema, codec="null"),
            lambda: avro.scan_container(blob)[0])


def _kafkalog(rng, tmp):
    from gfw_pixetl_spark.sources import kafkalog
    recs = [(None if i % 5 == 0 else b"k%d" % i, _text(rng, 30),
             [(b"h", b"v%d" % i)] if i % 3 == 0 else [])
            for i in range(2500)]
    seg = kafkalog.write_segment(recs)
    return (lambda: kafkalog.write_segment(recs),
            lambda: kafkalog.iter_segment(seg))


def _orc(rng, tmp):
    from gfw_pixetl_spark.sources import orc
    cols = [orc.OrcColumn("a", orc.K_LONG), orc.OrcColumn("b", orc.K_DOUBLE),
            orc.OrcColumn("c", orc.K_STRING)]
    rows = [(rng.randrange(-10**9, 10**9), rng.random(),
             _text(rng, 10).decode()) for _ in range(4000)]
    path = os.path.join(tmp, "bench.orc")

    def enc():
        orc.write_orc(path, cols, rows, compression=orc.C_NONE)
        with open(path, "rb") as f:
            return f.read()
    enc()
    return enc, lambda: orc.read_orc(path)


def _parquet_file(rng, tmp):
    from gfw_pixetl_spark.sources import parquetdata
    cols = [parquetdata.PColumn("a", "INT64"),
            parquetdata.PColumn("b", "DOUBLE", nullable=True),
            parquetdata.PColumn("c", "BYTE_ARRAY")]
    rows = [(rng.randrange(-10**9, 10**9),
             None if i % 7 == 0 else rng.random(), _text(rng, 10).decode())
            for i in range(6000)]
    path = os.path.join(tmp, "bench.parquet")
    return cols, rows, path


def _parquetdata(rng, tmp):
    from gfw_pixetl_spark.sources import parquetdata
    cols, rows, path = _parquet_file(rng, tmp)

    def enc():
        parquetdata.write_parquet(path, cols, rows, row_group_rows=500)
        with open(path, "rb") as f:
            return f.read()
    enc()
    return enc, lambda: parquetdata.read_parquet_rows(path)


def _parquetmeta(rng, tmp):
    from gfw_pixetl_spark.sources import parquetdata, parquetmeta
    cols, rows, path = _parquet_file(rng, tmp)
    parquetdata.write_parquet(path, cols, rows, row_group_rows=40)
    with open(path, "rb") as f:
        blob = f.read()
    flen = int.from_bytes(blob[-8:-4], "little")
    footer = blob[-8 - flen:-8]
    return None, lambda: parquetmeta.decode_footer(footer)


CODECS = {
    "brotli": _brotli, "zstd": _zstd, "snappy": _snappy, "webp": _webp,
    "flac": _flac, "h264": _h264, "ccitt": _ccitt, "tfrecord": _tfrecord,
    "protoaudit": _protoaudit, "avro": _avro, "kafkalog": _kafkalog,
    "orc": _orc, "parquetdata": _parquetdata, "parquetmeta": _parquetmeta,
}


# CPython 3.11 specialises a function's bytecode once its calls and
# unconditional backward jumps together reach 8. A function whose
# only loop is ``while cond:`` (snappy's ``compress``) reaches that by
# calls alone, so the timed reps start after 8 warm-up calls: the state
# a codec called once per block or page runs in.
_WARMUP_CALLS = 8


def _time(fn, reps: int) -> tuple[float, object]:
    out = fn()  # its result is the one hashed
    for _ in range(_WARMUP_CALLS - 1):
        fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1000.0)
    return round(statistics.median(times), 3), out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("codecs", nargs="*", metavar="codec",
                    help=f"subset of {sorted(CODECS)} (default: all)")
    args = ap.parse_args(argv)
    unknown = set(args.codecs) - set(CODECS)
    if unknown:
        ap.error(f"unknown codecs {sorted(unknown)}")
    result = {}
    with tempfile.TemporaryDirectory() as tmp:
        for name in args.codecs or CODECS:
            enc, dec = CODECS[name](random.Random(f"{args.seed}:{name}"),
                                    tmp)
            row = {"enc_ms": None, "dec_ms": None,
                   "enc_md5": None, "dec_md5": None}
            if enc is not None:
                row["enc_ms"], out = _time(enc, args.reps)
                row["enc_md5"] = _md5(out)
            row["dec_ms"], out = _time(dec, args.reps)
            row["dec_md5"] = _md5(out)
            result[name] = row
    print(json.dumps({"seed": args.seed, "reps": args.reps,
                      "codecs": result}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
