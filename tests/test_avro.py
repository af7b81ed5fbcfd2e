"""Avro object container codec (sources/avro.py): spec-pinned byte
encodings (the zigzag examples and record encoding published in the
Avro 1.11 spec), container round trips under both codecs, block_index
bounds, lenient scan damage semantics, the Spark shard write/read path,
and a hypothesis round-trip property."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.avro import (
    block_index, decode_value, encode_value, iter_container, read_header,
    read_long, scan_container, write_container, write_long,
)

REC = {"type": "record", "name": "doc", "fields": [
    {"name": "doc_id", "type": "long"},
    {"name": "text", "type": "string"},
    {"name": "lang", "type": ["null", "string"]},
    {"name": "score", "type": "double"},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "props", "type": {"type": "map", "values": "long"}},
    {"name": "kind", "type": {"type": "enum", "name": "k",
                              "symbols": ["A", "B"]}},
    {"name": "sig", "type": {"type": "fixed", "name": "s4", "size": 4}},
    {"name": "blob", "type": "bytes"},
    {"name": "flag", "type": "boolean"},
]}


def _recs(n=137):
    return [
        {"doc_id": i, "text": f"héllo {i}",
         "lang": None if i % 3 == 0 else "en",
         "score": i / 4.0, "tags": [f"t{j}" for j in range(i % 4)],
         "props": {"a": i, "b": -i}, "kind": "A" if i % 2 else "B",
         "sig": bytes([i % 256] * 4), "blob": bytes(range(i % 10)),
         "flag": i % 2 == 0}
        for i in range(n)
    ]


def test_zigzag_spec_vectors():
    # spec §binary encoding: 0->00 -1->01 1->02 -2->03 2->04 64->80 01
    for n, want in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                    (-2, b"\x03"), (2, b"\x04"), (64, b"\x80\x01"),
                    (-64, b"\x7f"), (63, b"\x7e")]:
        out = bytearray()
        write_long(out, n)
        assert bytes(out) == want, (n, bytes(out))
        v, pos = read_long(bytes(out), 0)
        assert (v, pos) == (n, len(want))
    for n in (2**63 - 1, -(2**63), 10**15, -(10**15)):
        out = bytearray()
        write_long(out, n)
        assert read_long(bytes(out), 0)[0] == n


def test_spec_record_example():
    # the spec's worked example: record {a: long, b: string} with
    # {a: 27, b: "foo"} encodes as 36 06 66 6f 6f
    sch = {"type": "record", "name": "test", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    out = bytearray()
    encode_value(sch, {"a": 27, "b": "foo"}, out)
    assert bytes(out) == b"\x36\x06\x66\x6f\x6f"
    v, pos = decode_value(sch, bytes(out), 0)
    assert v == {"a": 27, "b": "foo"} and pos == 5


def test_spec_array_example():
    # spec: array<long> [3, 27] -> 04 06 36 00
    sch = {"type": "array", "items": "long"}
    out = bytearray()
    encode_value(sch, [3, 27], out)
    assert bytes(out) == b"\x04\x06\x36\x00"
    # reader also accepts the negative-count (block-size-prefixed) form
    v, _ = decode_value(sch, b"\x03\x04\x06\x36\x00", 0)
    assert v == [3, 27]


def test_container_roundtrip_both_codecs():
    recs = _recs()
    for codec in ("null", "deflate"):
        blob = write_container(recs, REC, codec=codec,
                               objects_per_block=50)
        assert list(iter_container(blob)) == recs
        idx = block_index(blob)
        assert [c for _, _, c in idx] == [50, 50, 37]
        assert idx[-1][0] + idx[-1][1] == len(blob)
        got, c = scan_container(blob)
        assert got == recs
        assert c == {"n_records": 137, "bad_blocks": 0, "junk_bytes": 0}
        schema, meta, sync, _ = read_header(blob)
        assert meta["avro.codec"].decode() == codec
    # deterministic bytes: same records -> same shard bytes
    assert (write_container(recs, REC, codec="deflate")
            == write_container(recs, REC, codec="deflate"))


def test_scan_skips_damaged_block_only():
    recs = _recs()
    blob = write_container(recs, REC, codec="deflate",
                           objects_per_block=50)
    idx = block_index(blob)
    dam = bytearray(blob)
    dam[idx[1][0] + 5] ^= 0xFF
    got, c = scan_container(bytes(dam))
    assert got == recs[:50] + recs[100:]
    assert c["bad_blocks"] == 1 and c["n_records"] == 87
    assert c["junk_bytes"] == idx[1][1]
    with pytest.raises(ValueError):
        list(iter_container(bytes(dam)))
    # tail truncation mid-block
    got, c = scan_container(blob[:idx[2][0] + 7])
    assert got == recs[:100]
    assert c["bad_blocks"] == 1 and c["junk_bytes"] == 7
    # not a container at all
    got, c = scan_container(b"Obj\x02nope")
    assert got == [] and c["bad_blocks"] == 1


def test_hostile_inputs_raise_cleanly():
    recs = _recs(5)
    blob = write_container(recs, REC)
    for cut in (2, 10, len(blob) // 2, len(blob) - 3):
        with pytest.raises(ValueError):
            list(iter_container(blob[:cut]))
    with pytest.raises(ValueError, match="magic"):
        read_header(b"NOPE" + blob[4:])
    with pytest.raises(ValueError, match="codec"):
        write_container(recs, REC, codec="bzip2")
    with pytest.raises(ValueError, match="union"):
        out = bytearray()
        encode_value(["null", "string"], 3.5, out)


def test_damaged_schema_raises_value_error():
    """Seeded fuzz: one flipped bit anywhere in a container (the schema
    JSON included) either still decodes or raises ValueError from the
    strict reader, and never escapes the lenient scan."""
    import json
    import random

    from gfw_pixetl_spark.sources.avro import MAGIC, check_schema

    blob = write_container(_recs(20), REC, codec="null")
    rng = random.Random(20261019)
    raised = 0
    for _ in range(400):
        b = bytearray(blob)
        k = rng.randrange(len(b) * 8)
        b[k // 8] ^= 1 << (k % 8)
        try:
            list(iter_container(bytes(b)))
        except ValueError:
            raised += 1
        scan_container(bytes(b))
    assert raised
    for schema in ({"name": "r", "fields": []},
                   {"type": "record", "fields": []},
                   {"type": "record", "name": "r"},
                   {"type": "record", "name": "r",
                    "fields": [{"type": "int"}]},
                   {"type": "enum", "name": "e"},
                   {"type": "fixed", "name": "f", "size": "4"},
                   {"type": "array"}, {"type": "map", "values": [{}]}, 7):
        with pytest.raises(ValueError, match="malformed schema"):
            check_schema(schema)
    deep = "[" * 100 + '"int"' + "]" * 100
    with pytest.raises(ValueError, match="nests deeper"):
        check_schema(json.loads(deep))
    # a schema JSON past the parser's own recursion limit
    out = bytearray(MAGIC)
    write_long(out, 1)
    for v in (b"avro.schema", b"[" * 100000):
        write_long(out, len(v))
        out += v
    write_long(out, 0)
    out += bytes(16)
    with pytest.raises(ValueError):
        read_header(bytes(out))


def test_spark_shard_write_read(spark, tmp_path):
    from gfw_pixetl_spark.sources.avro import read_avro, write_avro_shards

    df = spark.createDataFrame(
        [(i, f"text {i}", None if i % 5 == 0 else f"s{i % 3}")
         for i in range(200)],
        "doc_id long, text string, src string")
    out = str(tmp_path / "shards")
    statuses = write_avro_shards(df, out, n_shards=4).collect()
    assert sum(r.n_records for r in statuses) == 200
    assert len({r.path for r in statuses}) >= 1
    back = read_avro(spark, out + "/*.avro",
                     "doc_id long, text string, src string")
    rows = {r.doc_id: (r.text, r.src) for r in back.collect()}
    assert len(rows) == 200
    assert rows[0] == ("text 0", None)
    assert rows[7] == ("text 7", "s1")


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.tuples(st.integers(-(2**63), 2**63 - 1),
              st.text(max_size=30),
              st.one_of(st.none(), st.floats(allow_nan=False,
                                             allow_infinity=False,
                                             width=64)),
              st.lists(st.integers(-1000, 1000), max_size=4)),
    max_size=40))
def test_property_container_roundtrip(rows):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"]},
        {"name": "d", "type": {"type": "array", "items": "long"}}]}
    recs = [{"a": a, "b": b, "c": c, "d": d} for a, b, c, d in rows]
    for codec in ("null", "deflate"):
        blob = write_container(recs, sch, codec=codec,
                               objects_per_block=7)
        assert list(iter_container(blob)) == recs


def test_schema_resolution_old_under_new():
    from gfw_pixetl_spark.sources.avro import (
        adapt_value, iter_container_resolved,
    )

    old = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "int"},
        {"name": "text", "type": "string"},
        {"name": "legacy", "type": "string"}]}
    new = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "text", "type": ["null", "string"]},
        {"name": "lang", "type": "string", "default": "und"},
        {"name": "score", "type": "double", "default": 0.5}]}
    blob = write_container([{"id": 1, "text": "a", "legacy": "x"}], old)
    assert list(iter_container_resolved(blob, new)) == [
        {"id": 1, "text": "a", "lang": "und", "score": 0.5}]
    # new containers under the same reader: identity
    blob2 = write_container(
        [{"id": 9, "text": None, "lang": "en", "score": 1.0}], new)
    assert list(iter_container_resolved(blob2, new)) == [
        {"id": 9, "text": None, "lang": "en", "score": 1.0}]
    # added field without default: clear refusal
    bad = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "must", "type": "string"}]}
    with pytest.raises(ValueError, match="no writer value"):
        list(iter_container_resolved(blob, bad))
    # primitive promotions both spec directions
    assert adapt_value(7, "int", "double") == 7.0
    assert adapt_value("é", "string", "bytes") == "é".encode()
    assert adapt_value(b"ok", "bytes", "string") == "ok"
    with pytest.raises(ValueError, match="cannot resolve"):
        adapt_value(1.5, "double", "long")  # narrowing never allowed


# ----------------------------------------------------- snappy / zstandard

def test_container_roundtrip_new_codecs():
    recs = _recs()
    for codec in ("snappy", "zstandard"):
        blob = write_container(recs, REC, codec=codec,
                               objects_per_block=50)
        assert list(iter_container(blob)) == recs
        got, c = scan_container(blob)
        assert got == recs and c["bad_blocks"] == 0
        schema, meta, sync, _ = read_header(blob)
        assert meta["avro.codec"].decode() == codec


def test_snappy_crc_detects_corruption():
    recs = _recs(60)
    blob = write_container(recs, REC, codec="snappy",
                           objects_per_block=60)
    idx = block_index(blob)
    dam = bytearray(blob)
    # flip a bit in the stored CRC suffix: body inflates fine but the
    # checksum gate must reject it
    dam[idx[0][0] + idx[0][1] - 17] ^= 0x01
    with pytest.raises(ValueError):
        list(iter_container(bytes(dam)))
    got, c = scan_container(bytes(dam))
    assert got == [] and c["bad_blocks"] == 1


# ------------------------------------------------------- java interop
# The Java Avro library bundled with Spark (avro-1.12 jar, via py4j)
# is an independent implementation of the same public spec — our
# writer's bytes must parse there, and its writer's bytes here.

JSCHEMA = {"type": "record", "name": "Doc", "fields": [
    {"name": "id", "type": "long"},
    {"name": "name", "type": ["null", "string"]},
    {"name": "score", "type": "double"},
    {"name": "ok", "type": "boolean"},
]}


def _jrows(n=2000):
    return [{"id": i, "name": None if i % 7 == 0 else f"n{i}",
             "score": i * 0.5, "ok": i % 3 == 0} for i in range(n)]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy",
                                   "zstandard"])
def test_java_reads_our_container(spark, tmp_path, codec):
    jvm = spark._jvm
    rows = _jrows()
    p = str(tmp_path / "ours.avro")
    with open(p, "wb") as fh:
        fh.write(write_container(rows, JSCHEMA, codec=codec,
                                 objects_per_block=700))
    dr = jvm.org.apache.avro.generic.GenericDatumReader()
    fr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(p), dr)
    got = []
    while fr.hasNext():
        rec = fr.next()
        nm = rec.get("name")
        got.append({"id": rec.get("id"),
                    "name": None if nm is None else nm.toString(),
                    "score": rec.get("score"), "ok": rec.get("ok")})
    fr.close()
    assert got == rows


def test_our_reader_reads_java_container(spark, tmp_path):
    import json as _json

    jvm = spark._jvm
    rows = _jrows(500)
    p = str(tmp_path / "java.avro")
    jschema = jvm.org.apache.avro.Schema.Parser().parse(
        _json.dumps(JSCHEMA))
    w = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    fw = jvm.org.apache.avro.file.DataFileWriter(w)
    fw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    fw.create(jschema, jvm.java.io.File(p))
    for r in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", jvm.java.lang.Long(str(r["id"])))
        rec.put("name", r["name"])
        rec.put("score", float(r["score"]))
        rec.put("ok", bool(r["ok"]))
        fw.append(rec)
    fw.close()
    with open(p, "rb") as fh:
        assert list(iter_container(fh.read())) == rows


def test_decimal_bytes_match_java_biginteger(spark):
    # the spec pins decimal bytes to BigInteger.toByteArray() of the
    # unscaled value — check ours byte-for-byte via the JVM
    from gfw_pixetl_spark.sources.avro import (
        bytes_to_decimal_int, decimal_to_bytes,
    )

    jvm = spark._jvm
    for n in (0, 1, -1, 127, 128, -128, -129, 255, 256, 10 ** 15,
              -(10 ** 15)):
        ours = decimal_to_bytes(n)
        theirs = bytes(jvm.java.math.BigInteger(str(n)).toByteArray())
        assert ours == theirs, (n, ours, theirs)
        assert bytes_to_decimal_int(ours) == n
