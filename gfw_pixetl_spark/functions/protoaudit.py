"""Schema-less protobuf wire-format auditor (protobuf.dev encoding
spec): walk ANY protobuf message without its .proto — the triage step
a corpus pipeline runs on unknown-provenance shards (a TFRecord/
SequenceFile full of messages nobody has the schema for) before
deciding how to ingest them.

The wire format is self-describing down to (field number, wire type,
payload bytes): varint (0), fixed64 (1), length-delimited (2),
fixed32 (5); groups (3/4) are legacy and rejected.  What it is NOT is
self-describing about MEANING — a length-delimited field can be a
string, bytes, a nested message, or a packed repeated scalar.  This
module makes the standard triage guesses explicit and keeps them
separate from the facts:

* ``walk_fields`` — the facts: (field, wire_type, value/bytes) in
  stream order, strict bounds checking,
* ``audit_message`` — a recursive summary: per-field-path counts,
  total bytes, and a CLASSIFICATION of each length-delimited field
  (nested message if it re-parses cleanly AND non-empty; UTF-8 text
  if it decodes and is mostly printable; else opaque bytes) with the
  ambiguity retained (``could_be_message`` stays visible on text
  fields that also re-parse),
* ``field_paths`` — the flat dotted-path histogram an aggregation
  consumes (one row per path: count, bytes, kind).

Validated against the in-tree tf.train.Example encoder
(``sources/tfrecord.py``): the audit of an encoded Example must
recover the exact Features/Feature/kind field tree the schema
defines.  Scale shape: one message = one independent audit inside an
Arrow kernel; the per-path histogram is a plain groupBy.
"""
from __future__ import annotations

from ..sources.bitio import read_uvarint

VARINT, FIXED64, LEN, SGROUP, EGROUP, FIXED32 = 0, 1, 2, 3, 4, 5


def walk_fields(data: bytes):
    """Yield (field_number, wire_type, value) in stream order.
    ``value`` is an int for varint/fixed types and bytes for
    length-delimited fields.  Raises ValueError on malformed input
    (truncation, field 0, group wire types)."""
    pos = 0
    n = len(data)
    while pos < n:
        tag, pos = read_uvarint(data, pos, "proto")
        field = tag >> 3
        wire = tag & 7
        if field == 0:
            raise ValueError("proto: field number 0 is reserved")
        if wire == VARINT:
            value, pos = read_uvarint(data, pos, "proto")
        elif wire == FIXED64:
            if pos + 8 > n:
                raise ValueError("proto: truncated fixed64")
            value = int.from_bytes(data[pos:pos + 8], "little")
            pos += 8
        elif wire == LEN:
            size, pos = read_uvarint(data, pos, "proto")
            if pos + size > n:
                raise ValueError("proto: truncated length-delimited "
                                 "field")
            value = data[pos:pos + size]
            pos += size
        elif wire == FIXED32:
            if pos + 4 > n:
                raise ValueError("proto: truncated fixed32")
            value = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"proto: unsupported wire type {wire} "
                             "(legacy group)")
        yield field, wire, value


def _parses_as_message(blob: bytes) -> bool:
    if not blob:
        return False
    try:
        fields = list(walk_fields(blob))
    except ValueError:
        return False
    return len(fields) > 0


def _is_text(blob: bytes) -> bool:
    if not blob:
        return True
    try:
        s = blob.decode("utf-8")
    except UnicodeDecodeError:
        return False
    printable = sum(1 for c in s if c.isprintable() or c in "\n\r\t ")
    return printable >= 0.9 * len(s)


def audit_message(data: bytes, max_depth: int = 8) -> dict:
    """Recursive field-tree summary: {field: {"wire", "count",
    "bytes", "kind", "children"?, "could_be_message"?}}.  Kind for
    length-delimited fields: "message" (re-parses AND is not valid
    text), "text" (valid mostly-printable UTF-8 — with
    could_be_message=True retained when it also re-parses), or
    "bytes"."""
    tree: dict[int, dict] = {}
    for field, wire, value in walk_fields(data):
        node = tree.setdefault(field, {
            "wire": wire, "count": 0, "bytes": 0})
        node["count"] += 1
        if wire == LEN:
            node["bytes"] += len(value)
            as_msg = max_depth > 0 and _parses_as_message(value)
            as_text = _is_text(value)
            if as_msg and not as_text:
                node["kind"] = "message"
                child = audit_message(value, max_depth - 1)
                _merge_children(node.setdefault("children", {}), child)
            elif as_text:
                node["kind"] = "text"
                if as_msg:
                    node["could_be_message"] = True
            else:
                node["kind"] = "bytes"
        else:
            node["bytes"] += 8 if wire == FIXED64 else (
                4 if wire == FIXED32 else 0)
            node["kind"] = {VARINT: "varint", FIXED64: "fixed64",
                            FIXED32: "fixed32"}[wire]
    return tree


def _merge_children(into: dict, child: dict) -> None:
    for f, node in child.items():
        tgt = into.setdefault(f, {"wire": node["wire"], "count": 0,
                                  "bytes": 0})
        tgt["count"] += node["count"]
        tgt["bytes"] += node["bytes"]
        tgt["kind"] = node.get("kind", tgt.get("kind"))
        if node.get("could_be_message"):
            tgt["could_be_message"] = True
        if "children" in node:
            _merge_children(tgt.setdefault("children", {}),
                            node["children"])


def field_paths(data: bytes, max_depth: int = 8) -> list[dict]:
    """Flat dotted-path rows for aggregation: [{"path": "1.2.1",
    "kind", "count", "bytes"}] sorted by path."""
    rows: list[dict] = []

    def rec(tree: dict, prefix: str) -> None:
        for f in sorted(tree):
            node = tree[f]
            path = f"{prefix}{f}"
            rows.append({"path": path,
                         "kind": node.get("kind", "varint"),
                         "count": node["count"],
                         "bytes": node["bytes"]})
            if "children" in node:
                rec(node["children"], path + ".")

    rec(audit_message(data, max_depth), "")
    return rows
