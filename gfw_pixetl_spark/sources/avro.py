"""Apache Avro object container files — the row-interchange format of
the Hadoop/Kafka world — implemented pure Python from the public spec
(avro.apache.org/docs/1.11.1/specification): binary encoding (zigzag
varints, length-prefixed bytes/strings, IEEE float/double LE), complex
types (record, enum, array, map, union, fixed), and the object
container layout (Obj\\x01 magic, metadata map with avro.schema /
avro.codec, 16-byte sync marker, per-block object count + byte size,
null and deflate codecs — deflate is RAW DEFLATE, RFC 1951, no zlib
envelope).

Spark has no bundled Avro reader (spark-avro is an external jar), so a
PySpark-native engine that ingests Kafka-archived or Sqoop-era corpora
needs this path. Same discipline as the other codec sources
(tfrecord/warc/zstd/flac): writer in-module so round trips are
self-testable, strict reader raises ValueError on any damage, lenient
``scan_avro`` skips damaged BLOCKS and counts them (the sync marker is
the resync sentinel — exactly what it exists for), and hostile input
never hangs or IndexErrors.

Scale shape: container blocks are independently decodable after the
header, so a 100 TB ingest plans one (file, block-range) split per
task from ``block_index`` (the member_index/frame_index/record_index
analog at the Avro layer); writes happen one shard per partition
inside ``mapInPandas`` — no driver funnel.
"""

from __future__ import annotations

import json
import struct
import zlib

from .bitio import read_uvarint, unzigzag, write_uvarint, zigzag

MAGIC = b"Obj\x01"


# --------------------------------------------------------------------------
# primitive binary encoding
# --------------------------------------------------------------------------


def write_long(out: bytearray, n: int) -> None:
    """Zigzag + varint (spec: int and long share this encoding)."""
    write_uvarint(out, zigzag(n))


def read_long(data: bytes, pos: int) -> tuple[int, int]:
    u, pos = read_uvarint(data, pos, "avro")
    return unzigzag(u), pos


def _write_bytes(out: bytearray, b: bytes) -> None:
    write_long(out, len(b))
    out += b


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("avro: truncated bytes/string")
    return data[pos:pos + n], pos + n


# --------------------------------------------------------------------------
# schema-driven value codec
# --------------------------------------------------------------------------


def _union_index(branches: list, value) -> int:
    """Pick the union branch for a Python value (the writer-side rule:
    null -> 'null', bool -> 'boolean', int -> first int/long, float ->
    first float/double, str -> 'string', bytes -> 'bytes', dict/list ->
    first complex branch)."""

    def kind(s):
        return s if isinstance(s, str) else s["type"]

    for want in _value_kinds(value):
        for i, b in enumerate(branches):
            if kind(b) == want:
                return i
    raise ValueError(f"avro: no union branch for {type(value).__name__}")


def _value_kinds(value) -> list[str]:
    if value is None:
        return ["null"]
    if isinstance(value, bool):
        return ["boolean"]
    if isinstance(value, int):
        return ["long", "int"]
    if isinstance(value, float):
        return ["double", "float"]
    if isinstance(value, str):
        return ["string", "enum"]
    if isinstance(value, bytes):
        return ["bytes", "fixed"]
    if isinstance(value, dict):
        return ["record", "map"]
    if isinstance(value, (list, tuple)):
        return ["array"]
    raise ValueError(f"avro: unsupported python type {type(value)}")


def encode_value(schema, value, out: bytearray) -> None:
    t = schema if isinstance(schema, str) else (
        schema["type"] if isinstance(schema, dict) else None)
    if isinstance(schema, list):  # union
        i = _union_index(schema, value)
        write_long(out, i)
        encode_value(schema[i], value, out)
        return
    if t == "null":
        if value is not None:
            raise ValueError("avro: null schema with non-null value")
        return
    if t == "boolean":
        out.append(1 if value else 0)
        return
    if t in ("int", "long"):
        write_long(out, int(value))
        return
    if t == "float":
        out += struct.pack("<f", value)
        return
    if t == "double":
        out += struct.pack("<d", value)
        return
    if t == "bytes":
        _write_bytes(out, bytes(value))
        return
    if t == "string":
        _write_bytes(out, str(value).encode("utf-8"))
        return
    if t == "record":
        for f in schema["fields"]:
            encode_value(f["type"], value[f["name"]], out)
        return
    if t == "enum":
        write_long(out, schema["symbols"].index(value))
        return
    if t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("avro: fixed size mismatch")
        out += value
        return
    if t == "array":
        if value:
            write_long(out, len(value))
            for v in value:
                encode_value(schema["items"], v, out)
        write_long(out, 0)
        return
    if t == "map":
        if value:
            write_long(out, len(value))
            for k, v in value.items():
                _write_bytes(out, k.encode("utf-8"))
                encode_value(schema["values"], v, out)
        write_long(out, 0)
        return
    raise ValueError(f"avro: unsupported schema {schema!r}")


def decode_value(schema, data: bytes, pos: int):
    t = schema if isinstance(schema, str) else (
        schema["type"] if isinstance(schema, dict) else None)
    if isinstance(schema, list):  # union
        i, pos = read_long(data, pos)
        if not 0 <= i < len(schema):
            raise ValueError(f"avro: union index {i} out of range")
        return decode_value(schema[i], data, pos)
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(data):
            raise ValueError("avro: truncated boolean")
        return data[pos] != 0, pos + 1
    if t in ("int", "long"):
        return read_long(data, pos)
    if t == "float":
        if pos + 4 > len(data):
            raise ValueError("avro: truncated float")
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if t == "double":
        if pos + 8 > len(data):
            raise ValueError("avro: truncated double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if t == "bytes":
        return _read_bytes(data, pos)
    if t == "string":
        b, pos = _read_bytes(data, pos)
        return b.decode("utf-8"), pos
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = decode_value(f["type"], data, pos)
        return rec, pos
    if t == "enum":
        i, pos = read_long(data, pos)
        syms = schema["symbols"]
        if not 0 <= i < len(syms):
            raise ValueError(f"avro: enum index {i} out of range")
        return syms[i], pos
    if t == "fixed":
        n = schema["size"]
        if pos + n > len(data):
            raise ValueError("avro: truncated fixed")
        return data[pos:pos + n], pos + n
    if t == "array":
        out = []
        while True:
            n, pos = read_long(data, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte-size prefix (spec: skippable)
                _, pos = read_long(data, pos)
                n = -n
            for _ in range(n):
                v, pos = decode_value(schema["items"], data, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = read_long(data, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = read_long(data, pos)
                n = -n
            for _ in range(n):
                k, pos = _read_bytes(data, pos)
                v, pos = decode_value(schema["values"], data, pos)
                out[k.decode("utf-8")] = v
    raise ValueError(f"avro: unsupported schema {schema!r}")


# --------------------------------------------------------------------------
# object container files
# --------------------------------------------------------------------------


def write_container(records: list[dict], schema: dict,
                    codec: str = "deflate", sync: bytes | None = None,
                    objects_per_block: int = 1000) -> bytes:
    """Serialize records under ``schema`` into a spec-valid container.
    ``sync`` pins the 16-byte marker for reproducible shard bytes
    (default: derived from the schema, deterministic)."""
    if codec not in ("null", "deflate", "snappy", "zstandard"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    sjson = json.dumps(schema, sort_keys=True, separators=(",", ":"))
    if sync is None:
        import hashlib

        sync = hashlib.md5(b"gfw-avro-sync:" + sjson.encode()).digest()
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    out = bytearray(MAGIC)
    meta = {"avro.schema": sjson.encode(), "avro.codec": codec.encode()}
    write_long(out, len(meta))
    for k in sorted(meta):
        _write_bytes(out, k.encode())
        _write_bytes(out, meta[k])
    write_long(out, 0)
    out += sync
    for at in range(0, len(records), objects_per_block):
        chunk = records[at:at + objects_per_block]
        body = bytearray()
        for rec in chunk:
            encode_value(schema, rec, body)
        blob = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            blob = co.compress(blob) + co.flush()  # raw DEFLATE per spec
        elif codec == "snappy":
            from .snappy import compress as _snappy_c

            # spec: snappy block + 4-byte big-endian CRC32 of the
            # UNCOMPRESSED data
            blob = (_snappy_c(blob)
                    + struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
        elif codec == "zstandard":
            from .zstd import compress as _zstd_c

            blob = _zstd_c(blob)
        write_long(out, len(chunk))
        write_long(out, len(blob))
        out += blob
        out += sync
    return bytes(out)


def read_header(data: bytes) -> tuple[dict, dict, bytes, int]:
    """(schema, meta, sync, first_block_pos); raises on damage."""
    if data[:4] != MAGIC:
        raise ValueError("avro: bad container magic")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = read_long(data, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = read_long(data, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode("utf-8")] = v
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise ValueError("avro: truncated sync marker")
    if "avro.schema" not in meta:
        raise ValueError("avro: missing avro.schema in metadata")
    try:
        schema = json.loads(meta["avro.schema"])
    except RecursionError:
        raise ValueError("avro: schema JSON nests too deep") from None
    check_schema(schema)
    return schema, meta, sync, pos + 16


# Schema nesting bound: far past any real schema, well inside Python's
# recursion limit for decode_value.
_MAX_SCHEMA_DEPTH = 64


def check_schema(schema, depth: int = 0) -> None:
    """Refuse, with ValueError, a parsed schema that lacks a key
    ``decode_value`` reads: ``type`` on every object, ``name`` and
    ``fields`` (each with ``name`` and ``type``) on records, ``name``
    and ``symbols`` on enums, ``name`` and ``size`` on fixed,
    ``items``/``values`` on arrays/maps. Type names are not resolved
    here; an unknown one raises when a value is decoded."""
    if depth > _MAX_SCHEMA_DEPTH:
        raise ValueError(
            f"avro: schema nests deeper than {_MAX_SCHEMA_DEPTH}")
    if isinstance(schema, str):
        return
    if isinstance(schema, list):
        for branch in schema:
            check_schema(branch, depth + 1)
        return

    def bad(what: str):
        return ValueError(f"avro: malformed schema, {what}: {schema!r:.80}")

    if not isinstance(schema, dict) or "type" not in schema:
        raise bad("no type")
    t = schema["type"]
    if t in ("record", "enum", "fixed") and not isinstance(
            schema.get("name"), str):
        raise bad(f"{t} without a name")
    if t == "record":
        fields = schema.get("fields")
        if not isinstance(fields, list):
            raise bad("record without fields")
        for f in fields:
            if not (isinstance(f, dict) and isinstance(f.get("name"), str)
                    and "type" in f):
                raise bad("record field without a name or type")
            check_schema(f["type"], depth + 1)
    elif t == "enum":
        symbols = schema.get("symbols")
        if not (isinstance(symbols, list)
                and all(isinstance(x, str) for x in symbols)):
            raise bad("enum without symbols")
    elif t == "fixed":
        size = schema.get("size")
        if type(size) is not int or size < 0:
            raise bad("fixed without a size")
    elif t in ("array", "map"):
        key = "items" if t == "array" else "values"
        if key not in schema:
            raise bad(f"{t} without {key}")
        check_schema(schema[key], depth + 1)


def _inflate_block(blob: bytes, codec: str) -> bytes:
    if codec == "deflate":
        try:
            return zlib.decompress(blob, -15)
        except zlib.error as e:
            raise ValueError(f"avro: corrupt deflate block ({e})") from None
    if codec in ("null", ""):
        return blob
    if codec == "snappy":
        from .snappy import decompress as _snappy_d

        try:
            raw = _snappy_d(blob[:-4])
        except Exception as e:
            raise ValueError(f"avro: corrupt snappy block ({e})") from None
        want = struct.unpack(">I", blob[-4:])[0]
        if zlib.crc32(raw) & 0xFFFFFFFF != want:
            raise ValueError("avro: snappy block CRC mismatch")
        return raw
    if codec == "zstandard":
        from .zstd import decompress as _zstd_d

        try:
            return _zstd_d(blob)
        except Exception as e:
            raise ValueError(f"avro: corrupt zstd block ({e})") from None
    raise ValueError(f"avro: unsupported codec {codec!r}")


def block_index(data: bytes) -> list[tuple[int, int, int]]:
    """(offset, framed_size, n_objects) per block WITHOUT decoding the
    payloads — the split-planning walk (one block-range = one task)."""
    _, meta, sync, pos = read_header(data)
    out = []
    n = len(data)
    while pos < n:
        start = pos
        cnt, pos = read_long(data, pos)
        size, pos = read_long(data, pos)
        if cnt < 0 or size < 0 or pos + size + 16 > n:
            raise ValueError("avro: truncated block")
        if data[pos + size:pos + size + 16] != sync:
            raise ValueError("avro: sync marker mismatch")
        pos += size + 16
        out.append((start, pos - start, cnt))
    return out


def iter_container(data: bytes):
    """Yield record dicts; strict (any damage raises ValueError)."""
    schema, meta, sync, pos = read_header(data)
    codec = meta.get("avro.codec", b"null").decode()
    n = len(data)
    while pos < n:
        cnt, pos = read_long(data, pos)
        size, pos = read_long(data, pos)
        if cnt < 0 or size < 0 or pos + size + 16 > n:
            raise ValueError("avro: truncated block")
        body = _inflate_block(data[pos:pos + size], codec)
        if data[pos + size:pos + size + 16] != sync:
            raise ValueError("avro: sync marker mismatch")
        pos += size + 16
        bpos = 0
        for _ in range(cnt):
            rec, bpos = decode_value(schema, body, bpos)
            yield rec
        if bpos != len(body):
            raise ValueError("avro: block has trailing bytes")


def scan_container(data: bytes) -> tuple[list[dict], dict]:
    """LENIENT walk: a damaged block costs its own records, never the
    file — resync scans for the next sync marker (that is what the
    16-byte marker exists for). Returns (records, counters)."""
    counters = {"n_records": 0, "bad_blocks": 0, "junk_bytes": 0}
    out: list[dict] = []
    try:
        schema, meta, sync, pos = read_header(data)
    except ValueError:
        counters["bad_blocks"] = 1
        counters["junk_bytes"] = len(data)
        return out, counters
    codec = meta.get("avro.codec", b"null").decode()
    n = len(data)
    while pos < n:
        start = pos
        try:
            cnt, p = read_long(data, pos)
            size, p = read_long(data, p)
            if cnt < 0 or size < 0 or p + size + 16 > n:
                raise ValueError("truncated block")
            if data[p + size:p + size + 16] != sync:
                raise ValueError("sync mismatch")
            body = _inflate_block(data[p:p + size], codec)
            recs = []
            bpos = 0
            for _ in range(cnt):
                rec, bpos = decode_value(schema, body, bpos)
                recs.append(rec)
        except (ValueError, zlib.error):
            counters["bad_blocks"] += 1
            nxt = data.find(sync, start + 1)
            end = n if nxt < 0 else nxt + 16
            counters["junk_bytes"] += end - start
            pos = end
            continue
        out.extend(recs)
        counters["n_records"] += cnt
        pos = p + size + 16
    return out, counters


# --------------------------------------------------------------------------
# Spark plumbing: shard-per-partition write, record-granular read
# --------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "double": "double", "float": "float", "string": "string",
    "binary": "bytes", "boolean": "boolean",
}


def schema_for(df) -> dict:
    """Avro record schema mirroring a DataFrame's flat schema (nullable
    columns become ["null", t] unions)."""
    fields = []
    for f in df.schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(
                f"avro: unmapped Spark type {f.dataType.simpleString()}")
        fields.append({"name": f.name,
                       "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": "row", "fields": fields}


def write_avro_shards(df, out_dir: str, n_shards: int,
                      codec: str = "deflate"):
    """One container file per shard, written executor-side (no driver
    funnel): repartition by shard id, serialize each partition's rows
    with the in-module writer. Returns [(path, n_records)]."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    schema = schema_for(df)
    cols = [f.name for f in df.schema.fields]
    os.makedirs(out_dir, exist_ok=True)

    part = df.withColumn(
        "_shard", F.abs(F.hash(*[F.col(c) for c in cols[:1]])) % n_shards
    ).repartition(n_shards, "_shard")

    def writer(batches):
        rows_by_shard: dict[int, list[dict]] = {}
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                s = int(rec.pop("_shard"))
                rows_by_shard.setdefault(s, []).append(
                    {k: (v.item() if hasattr(v, "item") else v)
                     for k, v in rec.items()})
        out = {"path": [], "n_records": []}
        for s, recs in sorted(rows_by_shard.items()):
            path = os.path.join(out_dir, f"part-{s:05d}.avro")
            with open(path, "wb") as fh:
                fh.write(write_container(recs, schema, codec=codec))
            out["path"].append(path)
            out["n_records"].append(len(recs))
        yield pd.DataFrame(out)

    return part.mapInPandas(writer, "path string, n_records long")


def read_avro(spark, path_glob: str, spark_schema: str):
    """Distributed container read: binaryFile scan -> per-file decode
    kernel. ``spark_schema`` is the DDL of the produced rows (column
    order selects/reorders record fields)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob)
    names = [c.strip().split()[0] for c in spark_schema.split(",")]

    def kernel(batches):
        for pdf in batches:
            for blob in pdf["content"]:  # one output batch per file:
                cols = {n: [] for n in names}  # bounds kernel memory
                for rec in iter_container(bytes(blob)):
                    for n in names:
                        cols[n].append(rec.get(n))
                yield pd.DataFrame(cols)

    return files.select("content").mapInPandas(kernel, spark_schema)


# --------------------------------------------------------------------------
# schema resolution (round 7): reading old containers under a NEWER
# reader schema — the mergeSchema contract at the Avro layer (spec
# "Schema Resolution"). Records match fields by NAME: writer fields
# absent from the reader are dropped, reader fields absent from the
# writer take their declared default, and primitive promotions
# (int->long/float/double, long->float/double, float->double,
# string<->bytes) apply. A 100 TB store written over years of pipeline
# versions depends on this exactly like the parquet path (q184).
# --------------------------------------------------------------------------

_PROMOTIONS = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _type_name(schema) -> str:
    if isinstance(schema, list):
        return "union"
    return schema if isinstance(schema, str) else schema["type"]


def _promote(value, frm: str, to: str):
    if to in ("float", "double") and frm in ("int", "long"):
        return float(value)
    if to == "bytes" and frm == "string":
        return value.encode("utf-8") if isinstance(value, str) else value
    if to == "string" and frm == "bytes":
        return value.decode("utf-8") if isinstance(value, bytes) else value
    return value


def adapt_value(value, writer, reader):
    """Resolve a decoded value from ``writer`` schema to ``reader``
    schema per the spec's resolution rules; ValueError when the
    schemas cannot resolve."""
    wt, rt = _type_name(writer), _type_name(reader)
    if rt == "union":
        if wt == "union":
            # the decoded value already picked a branch; re-resolve it
            # against the first reader branch that accepts it
            for br in reader:
                try:
                    return adapt_value(value, _branch_of(writer, value),
                                       br)
                except ValueError:
                    continue
            raise ValueError("avro: no reader union branch resolves")
        for br in reader:
            try:
                return adapt_value(value, writer, br)
            except ValueError:
                continue
        raise ValueError("avro: value fits no reader union branch")
    if wt == "union":
        return adapt_value(value, _branch_of(writer, value), reader)
    if wt == rt:
        if rt == "record":
            out = {}
            wf = {f["name"]: f for f in writer["fields"]}
            for f in reader["fields"]:
                name = f["name"]
                if name in wf:
                    out[name] = adapt_value(value[name],
                                            wf[name]["type"], f["type"])
                elif "default" in f:
                    out[name] = _default_for(f["type"], f["default"])
                else:
                    raise ValueError(
                        f"avro: reader field {name!r} has no writer "
                        f"value and no default")
            return out
        if rt == "array":
            return [adapt_value(v, writer["items"], reader["items"])
                    for v in value]
        if rt == "map":
            return {k: adapt_value(v, writer["values"],
                                   reader["values"])
                    for k, v in value.items()}
        if rt == "enum":
            if value not in reader["symbols"]:
                raise ValueError(f"avro: enum symbol {value!r} not in "
                                 f"reader")
            return value
        return value
    if rt in _PROMOTIONS.get(wt, ()):
        return _promote(value, wt, rt)
    raise ValueError(f"avro: cannot resolve writer {wt} to reader {rt}")


def _branch_of(union: list, value):
    """The union branch a DECODED value belongs to (types are
    unambiguous post-decode for the supported kinds)."""
    kinds = _value_kinds(value)
    for want in kinds:
        for br in union:
            if _type_name(br) == want:
                return br
    # fall back: complex kinds (record vs map share dict)
    for br in union:
        if not isinstance(br, str):
            return br
    raise ValueError("avro: decoded value matches no union branch")


def _default_for(schema, default):
    """JSON default -> Python value (spec: bytes defaults are
    latin-1-escaped strings; union defaults belong to the FIRST
    branch)."""
    t = _type_name(schema)
    if t == "union":
        return _default_for(schema[0], default)
    if t == "bytes" and isinstance(default, str):
        return default.encode("latin-1")
    if t == "fixed" and isinstance(default, str):
        return default.encode("latin-1")
    if t in ("float", "double") and default is not None:
        return float(default)
    return default


def iter_container_resolved(data: bytes, reader_schema: dict):
    """Yield records resolved to ``reader_schema`` regardless of which
    writer-schema version produced the container."""
    schema, meta, sync, pos = read_header(data)
    for rec in iter_container(data):
        yield adapt_value(rec, schema, reader_schema)


# --------------------------------------------------------------------------
# logical-type value helpers (spec "Logical Types"): the container
# layer is structural; these convert at the edges. Decimal-on-bytes is
# the minimal-length big-endian two's complement of the unscaled
# integer; date is days since the unix epoch.
# --------------------------------------------------------------------------

def decimal_to_bytes(v) -> bytes:
    """Unscaled int or Decimal-with-scale-applied -> avro decimal bytes."""
    n = int(v)
    # minimal signed length: smallest L with -(2^(8L-1)) <= n < 2^(8L-1)
    # (BigInteger.toByteArray parity, checked against the JVM in tests)
    length = ((n if n >= 0 else ~n).bit_length() // 8) + 1
    return n.to_bytes(length, "big", signed=True)


def bytes_to_decimal_int(b: bytes) -> int:
    """Avro decimal bytes -> unscaled int."""
    return int.from_bytes(b, "big", signed=True)
