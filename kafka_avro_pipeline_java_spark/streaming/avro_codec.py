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

import io
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


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


_ENCODERS = {
    "int": _zigzag_encode,
    "long": _zigzag_encode,
    "float": lambda v: struct.pack("<f", v),
    "double": lambda v: struct.pack("<d", v),
    "boolean": lambda v: b"\x01" if v else b"\x00",
    "string": lambda v: _zigzag_encode(len(v.encode("utf-8"))) + v.encode("utf-8"),
}


def _decode_value(buf: io.BytesIO, avro_type: str) -> Any:
    if avro_type in ("int", "long"):
        return _zigzag_decode(buf)
    if avro_type == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if avro_type == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if avro_type == "boolean":
        return buf.read(1) == b"\x01"
    if avro_type == "string":
        n = _zigzag_decode(buf)
        return buf.read(n).decode("utf-8")
    raise ValueError(f"unsupported Avro type {avro_type!r}")


def encode_record(field_types: list[tuple[str, str]], values: list[Any]) -> bytes:
    """Avro binary body of a flat record: field encodings concatenated in
    schema order (no headers — Avro binary carries no field names)."""
    out = bytearray()
    for (name, ftype), v in zip(field_types, values):
        if v is None:
            raise ValueError(f"null in non-nullable Avro field {name!r}")
        out += _ENCODERS[ftype](v)
    return bytes(out)


def decode_record(field_types: list[tuple[str, str]], payload: bytes) -> list[Any]:
    buf = io.BytesIO(payload)
    return [_decode_value(buf, ftype) for _, ftype in field_types]


# --------------------------------------------------------------------------
# Confluent wire framing
# --------------------------------------------------------------------------
def frame_confluent(body: bytes, schema_id: int) -> bytes:
    return MAGIC_BYTE + struct.pack(">I", schema_id) + body


def unframe_confluent(payload: bytes) -> tuple[int, bytes]:
    if not payload or payload[0:1] != MAGIC_BYTE:
        raise ValueError("not a Confluent-framed payload (missing 0x00 magic byte)")
    (schema_id,) = struct.unpack(">I", payload[1:5])
    return schema_id, payload[5:]


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
    The key is itself Confluent-framed Avro (string schema), matching
    KafkaAvroSerializer on both key and value. ``passthrough_cols`` (e.g. a
    precomputed ``partition`` column) are copied to the output unchanged.
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


def decode_df(df: DataFrame, avro_schema: dict, value_col: str = "value",
              passthrough_cols: list[str] | None = None) -> DataFrame:
    """Decode Confluent-framed Avro binary back into typed columns.

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
            rows = [
                decode_record(ftypes, unframe_confluent(bytes(p))[1])
                for p in pdf[value_col]
            ]
            out = pd.DataFrame(rows, columns=[n for n, _ in ftypes])
            for c in passthrough_cols:
                out[c] = pdf[c].tolist()
            yield out

    return df.mapInPandas(dec, schema=out_schema)


def decode_df_multi(
    df: DataFrame, schemas_by_id: dict[int, dict], value_col: str = "value"
) -> DataFrame:
    """Decode a topic carrying MULTIPLE schema versions (SURVEY §7.3 hard
    part 1: per-id dispatch on the Confluent header). All versions must
    share a common output shape — the output schema is the UNION of fields
    across versions (missing fields null), so v1 records surface alongside
    v2 after a schema evolution. Unknown schema ids raise (loud failure,
    per our no-silent-skips rule)."""
    per_id_fields = {sid: _field_types(s) for sid, s in schemas_by_id.items()}
    # union of fields, first-seen order, types must agree where shared
    union_fields: list[tuple[str, str]] = []
    for fts in per_id_fields.values():
        for name, ftype in fts:
            existing = dict(union_fields)
            if name in existing:
                if existing[name] != ftype:
                    raise ValueError(
                        f"field {name!r} has conflicting types across versions: "
                        f"{existing[name]} vs {ftype}"
                    )
            else:
                union_fields.append((name, ftype))
    out_schema = avro_to_struct(
        {"fields": [{"name": n, "type": t} for n, t in union_fields]}
    )
    cols = [n for n, _ in union_fields]

    def dec(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for p in pdf[value_col]:
                sid, body = unframe_confluent(bytes(p))
                if sid not in per_id_fields:
                    raise ValueError(f"unknown schema id {sid} in Confluent header")
                fts = per_id_fields[sid]
                vals = dict(zip([n for n, _ in fts], decode_record(fts, body)))
                rows.append([vals.get(c) for c in cols])
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(dec, schema=out_schema)
