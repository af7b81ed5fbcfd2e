"""Pure-Python Parquet footer reader (Thrift compact protocol).

Parquet's FileMetaData lives in a Thrift-compact-encoded footer at the
end of the file (``... footer | 4-byte LE footer length | b"PAR1"``).
Decoding it in-tree gives the engine the same planning facts a 100 TB
scan needs WITHOUT touching data pages: per-row-group row counts,
per-column-chunk min/max/null statistics (the zone-map used for
row-group pruning), codec + encoding choices, and physical layout
(page offsets, compressed/uncompressed sizes).

Everything here derives from the public parquet-format Thrift
definitions (https://github.com/apache/parquet-format,
``src/main/thrift/parquet.thrift``) and the public Thrift compact
protocol spec. The reference engine has no analog — it delegates all
raster metadata to GDAL and never reads parquet — but this is the
columnar twin of ``sources/raster_meta.py``'s ranged-header read
(reference behavior: gfw_pixetl ``tiles/tile.py`` metadata fetch):
fetch a bounded byte range, decode a structured header, plan from it.

Cross-validation: unit tests compare every decoded field against
``pyarrow.parquet.ParquetFile.metadata`` on files written by three
independent writers (pyarrow, Spark, DuckDB); the harness queries
(q441+) re-derive the statistics from the *data itself* via the
DuckDB oracle, so a single wrong varint shows up as a value mismatch.
"""

from __future__ import annotations

import os
import struct
from typing import Any, BinaryIO, Callable

from .bitio import read_uvarint, unzigzag

MAGIC = b"PAR1"

# Thrift compact-protocol element type ids.
_CT_STOP = 0
_CT_TRUE = 1
_CT_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12

# parquet.thrift enums (public definitions).
PHYSICAL_TYPES = {
    0: "BOOLEAN", 1: "INT32", 2: "INT64", 3: "INT96",
    4: "FLOAT", 5: "DOUBLE", 6: "BYTE_ARRAY", 7: "FIXED_LEN_BYTE_ARRAY",
}
CODECS = {
    0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
    4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW",
}
ENCODINGS = {
    0: "PLAIN", 2: "PLAIN_DICTIONARY", 3: "RLE", 4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED", 6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY", 8: "RLE_DICTIONARY", 9: "BYTE_STREAM_SPLIT",
}
REPETITION = {0: "REQUIRED", 1: "OPTIONAL", 2: "REPEATED"}


# --------------------------------------------------------------------------
# Thrift compact protocol — generic decoder
# --------------------------------------------------------------------------

# Nesting bound for structs and containers: FileMetaData nests about 6
# deep, and a hostile footer must not reach Python's recursion limit.
_MAX_DEPTH = 64


def _byte(buf: bytes, pos: int) -> int:
    if pos >= len(buf):
        raise ValueError(f"parquet: footer truncated at byte {pos}")
    return buf[pos]


def _take(buf: bytes, pos: int, n: int) -> int:
    """End of the ``n`` bytes at ``pos``, which must lie in ``buf``."""
    if n > len(buf) - pos:
        raise ValueError(
            f"parquet: {n}-byte field at byte {pos} overruns the footer")
    return pos + n


def _read_value(buf: bytes, pos: int, ctype: int,
                depth: int = 0) -> tuple[Any, int]:
    if ctype in (_CT_TRUE, _CT_FALSE):
        # Inside containers booleans occupy one byte (1=true, 2=false).
        return _byte(buf, pos) == 1, pos + 1
    if ctype == _CT_BYTE:
        v = _byte(buf, pos)
        return v - 256 if v >= 128 else v, pos + 1
    if ctype in (_CT_I16, _CT_I32, _CT_I64):
        n, pos = read_uvarint(buf, pos, "parquet")
        return unzigzag(n), pos
    if ctype == _CT_DOUBLE:
        end = _take(buf, pos, 8)
        return struct.unpack_from("<d", buf, pos)[0], end
    if ctype == _CT_BINARY:
        n, pos = read_uvarint(buf, pos, "parquet")
        end = _take(buf, pos, n)
        return bytes(buf[pos:end]), end
    if depth >= _MAX_DEPTH:
        raise ValueError(f"parquet: footer nests deeper than {_MAX_DEPTH}")
    if ctype in (_CT_LIST, _CT_SET):
        header = _byte(buf, pos)
        pos += 1
        size = header >> 4
        etype = header & 0x0F
        if size == 15:
            size, pos = read_uvarint(buf, pos, "parquet")
        _take(buf, pos, size)  # every element takes at least one byte
        out = []
        for _ in range(size):
            v, pos = _read_value(buf, pos, etype, depth + 1)
            out.append(v)
        return out, pos
    if ctype == _CT_MAP:
        size, pos = read_uvarint(buf, pos, "parquet")
        out = {}
        if size:
            kv = _byte(buf, pos)
            pos += 1
            _take(buf, pos, 2 * size)
            ktype, vtype = kv >> 4, kv & 0x0F
            for _ in range(size):
                k, pos = _read_value(buf, pos, ktype, depth + 1)
                v, pos = _read_value(buf, pos, vtype, depth + 1)
                try:
                    out[k] = v
                except TypeError:  # a container key
                    raise ValueError("parquet: unhashable map key") from None
        return out, pos
    if ctype == _CT_STRUCT:
        return _read_struct(buf, pos, depth + 1)
    raise ValueError(f"unknown thrift compact type {ctype} at {pos}")


def _read_struct(buf: bytes, pos: int,
                 depth: int = 0) -> tuple[dict[int, Any], int]:
    """Decode one struct into {field_id: value} (booleans inline)."""
    fields: dict[int, Any] = {}
    last_fid = 0
    while True:
        b = _byte(buf, pos)
        pos += 1
        if b == _CT_STOP:
            return fields, pos
        delta = b >> 4
        ctype = b & 0x0F
        if delta == 0:
            n, pos = read_uvarint(buf, pos, "parquet")
            fid = unzigzag(n)
        else:
            fid = last_fid + delta
        last_fid = fid
        if ctype == _CT_TRUE:
            fields[fid] = True
        elif ctype == _CT_FALSE:
            fields[fid] = False
        else:
            fields[fid], pos = _read_value(buf, pos, ctype, depth)
    # unreachable


# --------------------------------------------------------------------------
# FileMetaData mapping (field ids from parquet.thrift)
# --------------------------------------------------------------------------

def _utf8(b: Any) -> str | None:
    if b is None:
        return None
    return b.decode("utf-8", "replace") if isinstance(b, bytes) else str(b)


def _map_statistics(raw: dict[int, Any] | None) -> dict[str, Any]:
    if not raw:
        return {}
    return {
        # Legacy (deprecated) min/max are ids 1/2; order-aware are 5/6.
        "max": raw.get(5, raw.get(1)),
        "min": raw.get(6, raw.get(2)),
        "null_count": raw.get(3),
        "distinct_count": raw.get(4),
    }


def _map_column_chunk(raw: dict[int, Any]) -> dict[str, Any]:
    md = raw.get(3) or {}
    return {
        "file_offset": raw.get(2),
        "type": PHYSICAL_TYPES.get(md.get(1), f"UNKNOWN({md.get(1)})"),
        "encodings": sorted(ENCODINGS.get(e, str(e)) for e in md.get(2, [])),
        "path_in_schema": ".".join(_utf8(p) for p in md.get(3, [])),
        "codec": CODECS.get(md.get(4), f"UNKNOWN({md.get(4)})"),
        "num_values": md.get(5),
        "total_uncompressed_size": md.get(6),
        "total_compressed_size": md.get(7),
        "data_page_offset": md.get(9),
        "index_page_offset": md.get(10),
        "dictionary_page_offset": md.get(11),
        "statistics": _map_statistics(md.get(12)),
    }


def _map_row_group(raw: dict[int, Any]) -> dict[str, Any]:
    return {
        "columns": [_map_column_chunk(c) for c in raw.get(1, [])],
        "total_byte_size": raw.get(2),
        "num_rows": raw.get(3),
        "file_offset": raw.get(5),
        "total_compressed_size": raw.get(6),
    }


def _map_schema_element(raw: dict[int, Any]) -> dict[str, Any]:
    return {
        "type": PHYSICAL_TYPES.get(raw[1]) if 1 in raw else None,
        "type_length": raw.get(2),
        "repetition": REPETITION.get(raw.get(3)),
        "name": _utf8(raw.get(4)),
        "num_children": raw.get(5),
        "field_id": raw.get(9),
    }


def decode_footer(footer: bytes) -> dict[str, Any]:
    """Decode a raw FileMetaData thrift blob into plain dicts. A footer
    that is truncated, overruns itself or does not have FileMetaData's
    shape raises ValueError."""
    raw, _ = _read_struct(footer, 0)
    try:
        return _map_file_metadata(raw)
    except (AttributeError, KeyError, TypeError) as e:
        # the compact protocol is self-describing, not schema-checked: a
        # field of the wrong wire type (an int where a struct or list
        # belongs) surfaces as a shape error in the mapping
        raise ValueError(f"parquet: malformed FileMetaData ({e})") from None


def _map_file_metadata(raw: dict[int, Any]) -> dict[str, Any]:
    return {
        "version": raw.get(1),
        "schema": [_map_schema_element(s) for s in raw.get(2, [])],
        "num_rows": raw.get(3),
        "row_groups": [_map_row_group(g) for g in raw.get(4, [])],
        "key_value_metadata": {
            _utf8(kv.get(1)): _utf8(kv.get(2)) for kv in raw.get(5, [])
        },
        "created_by": _utf8(raw.get(6)),
    }


def read_footer_ranged(fetch: Callable[[int, int], bytes],
                       file_size: int) -> dict[str, Any]:
    """Footer read in two ranged GETs — the object-store access pattern.

    ``fetch(offset, length)`` returns those bytes. First request: the
    8-byte tail (footer length + magic). Second: the footer itself.
    Matches how ``object_store.fetch_cog_profile`` reads COG headers —
    planning never downloads data pages.
    """
    tail = fetch(file_size - 8, 8)
    if tail[4:] != MAGIC:
        raise ValueError("not a parquet file (bad magic)")
    (flen,) = struct.unpack("<I", tail[:4])
    if flen + 8 > file_size:
        raise ValueError("footer length exceeds file size")
    return decode_footer(fetch(file_size - 8 - flen, flen))


def read_metadata(path: str | BinaryIO) -> dict[str, Any]:
    """Decode FileMetaData from a local parquet file."""
    if hasattr(path, "read"):
        f: BinaryIO = path  # type: ignore[assignment]
        f.seek(0, os.SEEK_END)
        size = f.tell()

        def fetch(off: int, n: int) -> bytes:
            f.seek(off)
            return f.read(n)

        return read_footer_ranged(fetch, size)
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        def fetch(off: int, n: int) -> bytes:
            fh.seek(off)
            return fh.read(n)

        return read_footer_ranged(fetch, size)


# --------------------------------------------------------------------------
# Typed statistics decode (zone-map values)
# --------------------------------------------------------------------------

def decode_stat(value: bytes | None, physical_type: str) -> Any:
    """Decode a Statistics min/max blob per the physical type."""
    if value is None:
        return None
    if physical_type == "INT32":
        return struct.unpack("<i", value)[0]
    if physical_type == "INT64":
        return struct.unpack("<q", value)[0]
    if physical_type == "FLOAT":
        return struct.unpack("<f", value)[0]
    if physical_type == "DOUBLE":
        return struct.unpack("<d", value)[0]
    if physical_type == "BOOLEAN":
        return bool(value[0])
    if physical_type in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        return value.decode("utf-8", "replace")
    return None


def audit_rows(path: str) -> list[dict[str, Any]]:
    """Flatten one file's footer into per-column-chunk audit rows."""
    meta = read_metadata(path)
    rows: list[dict[str, Any]] = []
    for gi, rg in enumerate(meta["row_groups"]):
        for cc in rg["columns"]:
            st = cc["statistics"]
            rows.append({
                "file_name": os.path.basename(path),
                "row_group_id": gi,
                "rg_num_rows": rg["num_rows"],
                "path_in_schema": cc["path_in_schema"],
                "phys_type": cc["type"],
                "codec": cc["codec"],
                "encodings": ",".join(cc["encodings"]),
                "num_values": cc["num_values"],
                "null_count": st.get("null_count"),
                "stat_min": decode_stat(st.get("min"), cc["type"]),
                "stat_max": decode_stat(st.get("max"), cc["type"]),
                "compressed": cc["total_compressed_size"],
                "uncompressed": cc["total_uncompressed_size"],
            })
    return rows


def prune_row_groups(path: str, column: str, lower: Any = None,
                     upper: Any = None) -> dict[str, Any]:
    """Zone-map row-group pruning decision for ``lower <= col <= upper``.

    Returns the scan plan a footer-only planner would produce: which
    row groups MUST be read (their zone overlaps the predicate range)
    and the row/byte bounds that implies. A group with missing stats is
    conservatively kept — identical to parquet readers' behavior.
    """
    meta = read_metadata(path)
    kept, total_rows, kept_rows, kept_bytes = [], 0, 0, 0
    for gi, rg in enumerate(meta["row_groups"]):
        total_rows += rg["num_rows"]
        cc = next((c for c in rg["columns"]
                   if c["path_in_schema"] == column), None)
        if cc is None:
            raise KeyError(f"column {column!r} not in {path}")
        st = cc["statistics"]
        mn = decode_stat(st.get("min"), cc["type"])
        mx = decode_stat(st.get("max"), cc["type"])
        keep = True
        if mn is not None and mx is not None:
            if lower is not None and mx < lower:
                keep = False
            if upper is not None and mn > upper:
                keep = False
        if keep:
            kept.append(gi)
            kept_rows += rg["num_rows"]
            kept_bytes += sum(c["total_compressed_size"] or 0
                              for c in rg["columns"])
    return {
        "n_groups": len(meta["row_groups"]),
        "n_kept": len(kept),
        "kept_group_ids": kept,
        "total_rows": total_rows,
        "kept_rows": kept_rows,
        "kept_compressed_bytes": kept_bytes,
    }
