"""Avro binary codec + Confluent Schema Registry wire framing.

The reference serializes every Kafka message with Confluent's
``KafkaAvroSerializer`` (reference AvroProducer.java:48-50) and reads it
back with ``KafkaAvroDeserializer`` (AvroConsumer.java:67-69). The wire
format is ``0x00 magic byte + 4-byte big-endian schema id + Avro binary
body``.

A from-scratch pure-Python encoder/decoder (no spark-avro jar or
avro/fastavro package is needed) for FLAT PRIMITIVE records — the only
shape the reference's data model allows (SURVEY.md §1.2: string/int/long/
float/double/boolean, no unions/nulls/nested). It runs inside
``mapInPandas`` so the work stays on executors, Arrow-batched; ~100
bytes/record of pure-Python work.

The binary encoding (Avro spec 1.11, "Binary encoding"):
- int/long: zigzag varint;  float/double: IEEE little-endian;
- string/bytes: varint length + bytes;  boolean: 1 byte.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..sources.schema_dsl import avro_to_struct

MAGIC_BYTE = b"\x00"


# --------------------------------------------------------------------------
# scalar encode/decode
# --------------------------------------------------------------------------
def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _need(buf: bytes, pos: int, n: int) -> None:
    # a short buffer is an error, as Java's BinaryDecoder raises EOFException
    if n < 0 or pos + n > len(buf):
        raise ValueError(
            f"truncated Avro data: {n} bytes needed at offset {pos}, "
            f"{max(len(buf) - pos, 0)} left"
        )


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``pos`` → (value, next offset)."""
    shift, acc = 0, 0
    while True:
        _need(buf, pos, 1)
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7
        if shift > 63:
            raise ValueError("invalid Avro varint: longer than 10 bytes")


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Length-prefixed bytes at ``pos`` → (bytes, next offset)."""
    n, pos = _read_long(buf, pos)
    _need(buf, pos, n)
    return buf[pos:pos + n], pos + n


def _read_string(buf: bytes, pos: int) -> tuple[str, int]:
    raw, pos = _read_bytes(buf, pos)
    return raw.decode("utf-8"), pos


def _read_float(buf: bytes, pos: int) -> tuple[float, int]:
    _need(buf, pos, 4)
    return struct.unpack_from("<f", buf, pos)[0], pos + 4


def _read_double(buf: bytes, pos: int) -> tuple[float, int]:
    _need(buf, pos, 8)
    return struct.unpack_from("<d", buf, pos)[0], pos + 8


def _read_boolean(buf: bytes, pos: int) -> tuple[bool, int]:
    _need(buf, pos, 1)
    return buf[pos] == 1, pos + 1


_ENCODERS = {
    "int": _zigzag_encode,
    "long": _zigzag_encode,
    "float": lambda v: struct.pack("<f", v),
    "double": lambda v: struct.pack("<d", v),
    "boolean": lambda v: b"\x01" if v else b"\x00",
    "string": lambda v: _zigzag_encode(len(v.encode("utf-8"))) + v.encode("utf-8"),
}

_READERS = {
    "int": _read_long,
    "long": _read_long,
    "float": _read_float,
    "double": _read_double,
    "boolean": _read_boolean,
    "string": _read_string,
}


def encode_record(field_types: list[tuple[str, str]], values: list[Any]) -> bytes:
    """Avro binary body of a flat record: field encodings concatenated in
    schema order (no headers — Avro binary carries no field names)."""
    out = bytearray()
    for (name, ftype), v in zip(field_types, values):
        if v is None:
            raise ValueError(f"null in non-nullable Avro field {name!r}")
        out += _ENCODERS[ftype](v)
    return bytes(out)


def read_fields(field_types: list[tuple[str, str]], buf: bytes,
                pos: int) -> tuple[list[Any], int]:
    """Decode one flat record starting at ``pos`` → (values, next offset).
    Raises ``ValueError`` when ``buf`` ends before the last field does."""
    out = []
    for _, ftype in field_types:
        read = _READERS.get(ftype)
        if read is None:
            raise ValueError(f"unsupported Avro type {ftype!r}")
        v, pos = read(buf, pos)
        out.append(v)
    return out, pos


def decode_record(field_types: list[tuple[str, str]], payload: bytes,
                  start: int = 0) -> list[Any]:
    """Decode the record body ``payload[start:]``, which must be consumed
    exactly: a short body or bytes left over after the last field raise
    ``ValueError`` (the body was written under another schema, or cut)."""
    values, end = read_fields(field_types, payload, start)
    if end != len(payload):
        raise ValueError(
            f"{len(payload) - end} bytes left over after the Avro record"
        )
    return values


# --------------------------------------------------------------------------
# Confluent wire framing
# --------------------------------------------------------------------------
def frame_confluent(body: bytes, schema_id: int) -> bytes:
    return MAGIC_BYTE + struct.pack(">I", schema_id) + body


def decode_confluent(field_types: list[tuple[str, str]], payload: bytes,
                     schema_id: int) -> list[Any]:
    """Decode one Confluent-framed record written under ``schema_id``.

    The 5-byte header is checked in place (magic byte, then the id), and
    the body is decoded from offset 5 without a copy. A record framed with
    another id raises ``ValueError`` naming both ids: its body was written
    under a schema this decoder does not hold."""
    if payload[0:1] != MAGIC_BYTE:
        raise ValueError("not a Confluent-framed payload (missing 0x00 magic byte)")
    _need(payload, 1, 4)
    (sid,) = struct.unpack_from(">I", payload, 1)
    if sid != schema_id:
        raise ValueError(
            f"record framed with schema id {sid}, decoder expects schema id {schema_id}"
        )
    return decode_record(field_types, payload, 5)


def _field_types(avro_schema: dict) -> list[tuple[str, str]]:
    return [(f["name"], f["type"]) for f in avro_schema["fields"]]


# --------------------------------------------------------------------------
# DataFrame-level codec (mapInPandas — executor-side, Arrow-batched)
# --------------------------------------------------------------------------
def encode_df(df: DataFrame, avro_schema: dict, schema_id: int = 1,
              key_field: str | None = None,
              passthrough_cols: list[str] | None = None) -> DataFrame:
    """Encode rows into Confluent-framed Avro → ``(key binary, value binary
    [, passthrough...])``.

    ``key_field`` defaults to field 0 of the Avro schema — the reference's
    keying rule (AvroProducer.java:81: key = message.get(0).toString()).
    The key is itself Confluent-framed Avro (string schema), as
    KafkaAvroSerializer writes both key and value. It is framed with the
    value's ``schema_id``: Confluent would use the id of a separate
    ``<topic>-key`` subject, but ``infra.register_schemas`` registers only
    ``<topic>-value``, and no decoder here reads the key's id.
    ``passthrough_cols`` (e.g. a precomputed ``partition`` column) are
    copied to the output unchanged.
    """
    ftypes = _field_types(avro_schema)
    key_field = key_field or ftypes[0][0]
    cols = [name for name, _ in ftypes]
    passthrough_cols = passthrough_cols or []
    by_name = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [StructField("key", BinaryType()), StructField("value", BinaryType())]
        + [StructField(c, by_name[c].dataType) for c in passthrough_cols]
    )
    # the key text is Spark's string cast, the rule partition_for_key hashes;
    # it matches Java's toString() where Python's str() does not (booleans,
    # floating point)
    key_col = key_field
    if not isinstance(by_name[key_field].dataType, StringType):
        key_col = "__avro_key_string"
        df = df.withColumn(key_col, F.col(key_field).cast("string"))

    def enc(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            keys, vals = [], []
            for row, key in zip(pdf[cols].itertuples(index=False), pdf[key_col]):
                vals.append(frame_confluent(encode_record(ftypes, list(row)), schema_id))
                keys.append(frame_confluent(_ENCODERS["string"](key), schema_id))
            out = {"key": keys, "value": vals}
            for c in passthrough_cols:
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    return df.mapInPandas(enc, schema=out_schema)


def decode_df(df: DataFrame, avro_schema: dict, *, schema_id: int = 1,
              passthrough_cols: list[str] | None = None) -> DataFrame:
    """Decode the Confluent-framed Avro ``value`` column (Kafka's) back
    into typed columns. Every record must carry ``schema_id`` in its header
    and a body that ``avro_schema`` consumes exactly; anything else raises
    (see ``decode_confluent``). A topic holds one writer schema, as in the
    reference, whose infra step recreates every topic
    (DataPipeline.java:80-126).

    ``passthrough_cols`` (e.g. Kafka's topic/partition/offset metadata)
    are copied to the output unchanged — the consumer needs them beside
    the decoded fields for the offset-mirroring sink (the reference
    stores offset+1 in the same transaction as the row,
    AvroConsumer.java:157-194)."""
    ftypes = _field_types(avro_schema)
    passthrough_cols = passthrough_cols or []
    avro_names = {n for n, _ in ftypes}
    clash = sorted(avro_names & set(passthrough_cols))
    if clash:
        # a passthrough named like a decoded field (say "offset" in both)
        # would produce duplicate StructFields and silently overwrite the
        # decoded values in the pandas assignment below (ADVICE r05)
        raise ValueError(
            f"passthrough_cols collide with Avro field names: {clash}; "
            "rename the metadata columns before decode_df"
        )
    by_name = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        avro_to_struct(avro_schema).fields
        + [StructField(c, by_name[c].dataType) for c in passthrough_cols]
    )

    def dec(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [decode_confluent(ftypes, bytes(p), schema_id) for p in pdf["value"]]
            out = pd.DataFrame(rows, columns=[n for n, _ in ftypes])
            for c in passthrough_cols:
                out[c] = pdf[c].tolist()
            yield out

    return df.mapInPandas(dec, schema=out_schema)
