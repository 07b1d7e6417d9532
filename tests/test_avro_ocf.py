"""Avro Object Container File read/write (streaming/avro_ocf.py): spec
layout pinned byte-by-byte on a hand-decoded file, both codecs round-trip
exactly through the distributed write→binaryFile read path, schema drift
and corruption fail loudly, and multi-partition writes land one file per
partition. Spec: Avro 1.11 "Object Container Files" (public)."""
from __future__ import annotations

import io
import json
import struct
import zlib

import pytest

from kafka_avro_pipeline_java_spark.sources import load_table
from kafka_avro_pipeline_java_spark.streaming.avro_ocf import (
    OCF_MAGIC,
    decode_ocf,
    encode_ocf,
    read_ocf,
    write_ocf,
)

SCHEMA = {
    "type": "record",
    "name": "kv",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": "string"},
    ],
}
DOC_SCHEMA = {
    "type": "record",
    "name": "document",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string"},
        {"name": "source", "type": "string"},
        {"name": "n_chars", "type": "long"},
    ],
}


def _zz(buf):  # minimal independent zigzag-varint reader for the spec test
    shift = acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1)
        shift += 7


def test_ocf_layout_matches_spec():
    """Hand-decode an encoded file with an INDEPENDENT reader: magic,
    metadata map entries, sync marker placement, and the null-codec block
    body (zigzag long 7 = 0x0e, then len-prefixed 'x')."""
    sync = bytes(range(16))
    data = encode_ocf([[7, "x"]], SCHEMA, codec="null", sync=sync)
    buf = io.BytesIO(data)
    assert buf.read(4) == OCF_MAGIC
    n_meta = _zz(buf)
    meta = {}
    for _ in range(n_meta):
        k = buf.read(_zz(buf)).decode()
        meta[k] = buf.read(_zz(buf))
    assert _zz(buf) == 0  # map terminator
    assert json.loads(meta["avro.schema"]) == SCHEMA
    assert meta["avro.codec"] == b"null"
    assert buf.read(16) == sync
    assert _zz(buf) == 1  # record count
    size = _zz(buf)
    body = buf.read(size)
    assert body == b"\x0e" + b"\x02x"  # zigzag(7), len-1 string 'x'
    assert buf.read(16) == sync
    assert buf.read() == b""


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_encode_decode_roundtrip(codec):
    rows = [[i, f"value-{i}" * (i % 5)] for i in range(1000)]
    data = encode_ocf(rows, SCHEMA, codec=codec, records_per_block=128)
    schema, back = decode_ocf(data)
    assert schema == SCHEMA
    assert back == rows
    if codec == "deflate":
        assert len(data) < len(encode_ocf(rows, SCHEMA, codec="null"))


def test_decode_rejects_corruption():
    data = bytearray(encode_ocf([[1, "a"]], SCHEMA, sync=b"s" * 16))
    with pytest.raises(ValueError, match="bad magic"):
        decode_ocf(b"NOPE" + bytes(data[4:]))
    data[-1] ^= 0xFF  # flip a byte of the trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        decode_ocf(bytes(data))
    # a 3-object block whose count is rewritten to 2 must not drop 'c'
    data = bytearray(encode_ocf([[1, "a"], [2, "b"], [3, "c"]], SCHEMA, sync=b"s" * 16))
    count_at = data.index(b"s" * 16) + 16
    assert data[count_at] == 6  # zigzag(3)
    data[count_at] = 4  # zigzag(2)
    with pytest.raises(ValueError, match="2 objects left 3 bytes unread"):
        decode_ocf(bytes(data))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_distributed_roundtrip_exact(spark, sf_dir, tmp_path, codec):
    docs = load_table(spark, sf_dir, "documents").repartition(4)
    out = str(tmp_path / f"ocf_{codec}")
    write_ocf(docs, out, DOC_SCHEMA, codec=codec)
    back = read_ocf(spark, out, DOC_SCHEMA)
    cols = [f["name"] for f in DOC_SCHEMA["fields"]]
    want = sorted(tuple(r) for r in docs.select(*cols).collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want


def test_one_file_per_partition_and_overwrite(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "ocf_parts")
    write_ocf(docs.repartition(6), out, DOC_SCHEMA)
    import os

    files = sorted(f for f in os.listdir(out) if f.endswith(".avro"))
    assert len(files) == 6
    # rewrite with fewer partitions: stale tail files must disappear
    write_ocf(docs.repartition(2), out, DOC_SCHEMA)
    files = sorted(f for f in os.listdir(out) if f.endswith(".avro"))
    assert len(files) == 2
    back = read_ocf(spark, out, DOC_SCHEMA)
    assert back.count() == docs.count()


def test_read_rejects_schema_drift(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "ocf_drift")
    write_ocf(docs, out, DOC_SCHEMA)
    other = {
        "type": "record",
        "name": "document",
        "fields": [{"name": "doc_id", "type": "long"}],
    }
    with pytest.raises(Exception, match="schema drift"):
        read_ocf(spark, out, other).collect()
