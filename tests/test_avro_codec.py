"""Avro binary codec + Confluent framing tests.

Scalar encodings are checked against hand-computed Avro spec examples
(zigzag varints), then DataFrame-level round-trips via mapInPandas.
"""

import math

import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.sources import schema_dsl as S
from kafka_avro_pipeline_java_spark.streaming import avro_codec as C

SCHEMA = S.dsl_to_avro(
    [{"name": "dataset1", "fields": {"key_field1": "string", "timestamp_field1": "long",
                                     "double_field1": "double", "string_field1": "string"}}]
)[0]
FT = [(f["name"], f["type"]) for f in SCHEMA["fields"]]


def test_zigzag_spec_examples():
    # Avro spec: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f, 64→80 01
    assert C._zigzag_encode(0) == b"\x00"
    assert C._zigzag_encode(-1) == b"\x01"
    assert C._zigzag_encode(1) == b"\x02"
    assert C._zigzag_encode(-64) == b"\x7f"
    assert C._zigzag_encode(64) == b"\x80\x01"


def test_record_roundtrip_scalars():
    vals = ["k1", 1704067200123, 0.123456, "abcDEF"]
    body = C.encode_record(FT, vals)
    out = C.decode_record(FT, body)
    assert out == vals


def test_record_rejects_null():
    with pytest.raises(ValueError, match="null"):
        C.encode_record(FT, ["k1", None, 0.5, "x"])


def test_confluent_framing():
    vals = ["k", 1, 0.5, "v"]
    framed = C.frame_confluent(C.encode_record(FT, vals), schema_id=7)
    assert framed[0] == 0 and framed[1:5] == b"\x00\x00\x00\x07"
    assert C.decode_confluent(FT, framed, schema_id=7) == vals
    with pytest.raises(ValueError, match="schema id 7, decoder expects schema id 8"):
        C.decode_confluent(FT, framed, schema_id=8)
    with pytest.raises(ValueError, match="magic"):
        C.decode_confluent(FT, b"\x01junk", schema_id=7)
    with pytest.raises(ValueError, match="truncated"):
        C.decode_confluent(FT, b"\x00\x00\x07", schema_id=7)


def test_decode_record_rejects_leftover_and_truncated_bytes():
    """A body must be consumed exactly: bytes after the last field, or a
    body that ends inside a field, raise instead of decoding silently."""
    ft = [("s", "string")]
    body = C.encode_record(ft, ["hello"])
    with pytest.raises(ValueError, match="1 bytes left over"):
        C.decode_record(ft, body + b"\x00")
    with pytest.raises(ValueError, match="truncated"):
        C.decode_record(ft, body[:-1])  # not "hell"


def test_float_int_boolean_scalars():
    ft = [("a", "int"), ("b", "float"), ("c", "boolean")]
    body = C.encode_record(ft, [100, 0.25, True])
    a, b, c = C.decode_record(ft, body)
    assert a == 100 and math.isclose(b, 0.25) and c is True


def test_dataframe_roundtrip(spark):
    rows = [("k1", 10, 0.5, "aa"), ("k2", 20, 0.25, "bb"), ("k3", 30, 0.75, "cc")]
    df = spark.createDataFrame(
        rows, schema="key_field1 string, timestamp_field1 long, "
                     "double_field1 double, string_field1 string")
    framed = C.encode_df(df, SCHEMA, schema_id=3)
    assert framed.columns == ["key", "value"]
    decoded = C.decode_df(framed, SCHEMA, schema_id=3)
    assert sorted(map(tuple, decoded.collect())) == sorted(rows)
    # key is Confluent-framed Avro string of field 0, under the value's id
    first = framed.orderBy("key").first()
    (key,) = C.decode_confluent([("key", "string")], bytes(first["key"]), 3)
    assert key in ("k1", "k2", "k3")


def test_dataframe_passthrough_partition(spark):
    df = spark.createDataFrame(
        [("k1", 1, 0.5, "x")],
        schema="key_field1 string, timestamp_field1 long, "
               "double_field1 double, string_field1 string")
    from kafka_avro_pipeline_java_spark.streaming.kafka_io import prepare_kafka_batch

    out = prepare_kafka_batch(df, SCHEMA, explicit_partitions=3)
    row = out.first()
    assert set(out.columns) == {"key", "value", "partition"}
    assert 0 <= row["partition"] < 3


def test_multi_schema_version_decode(spark):
    """A record framed with another schema id raises, naming both ids: its
    body was written under a schema the decoder does not hold. Without the
    id check, the v2 record below reads under v1 as ['abc', 0]."""
    v1 = {"name": "d", "fields": [{"name": "k", "type": "string"},
                                  {"name": "qty", "type": "int"}]}
    v2 = {"name": "d", "fields": [{"name": "k", "type": "string"},
                                  {"name": "price", "type": "double"},
                                  {"name": "qty", "type": "int"}]}
    body = C.encode_record(C._field_types(v2), ["abc", 12.5, 7])
    df = spark.createDataFrame([(C.frame_confluent(body, 2),)], "value binary")
    with pytest.raises(Exception, match="schema id 2, decoder expects schema id 1"):
        C.decode_df(df, v1, schema_id=1).collect()
    assert [tuple(r) for r in C.decode_df(df, v2, schema_id=2).collect()] == [
        ("abc", 12.5, 7)
    ]


def test_decode_df_passthrough_collision_raises(spark):
    """ADVICE r05: a passthrough column named like a decoded Avro field
    would silently overwrite the decoded values — must raise instead."""
    df = spark.createDataFrame(
        [("k1", 1, 0.5, "x")],
        schema="key_field1 string, timestamp_field1 long, "
               "double_field1 double, string_field1 string")
    framed = C.encode_df(df, SCHEMA, schema_id=1).withColumn(
        "key_field1", F.lit("meta")
    )
    with pytest.raises(ValueError, match="collide.*key_field1"):
        C.decode_df(framed, SCHEMA, passthrough_cols=["key_field1"])


def test_non_string_key_is_java_tostring_and_matches_partition(spark):
    """The Kafka key of a non-string field 0 is Java's toString() of the
    value (reference AvroProducer.java:81), the same text whose hashCode
    chose the partition — not Python's str()."""
    from test_generate import java_hash, java_partition

    from kafka_avro_pipeline_java_spark.streaming.kafka_io import prepare_kafka_batch

    cases = [
        ("boolean", "flag boolean", [(True,), (False,)], {"true", "false"}),
        # "12345.678" has a negative hash code: Java places it at 2, pmod at 1
        ("double", "flag double", [(1e7,), (1e-5,), (12345.678,)],
         {"1.0E7", "1.0E-5", "12345.678"}),
        ("float", "flag float", [(0.1,)], {"0.1"}),
    ]
    for avro_type, ddl, rows, expected in cases:
        schema = {"name": "k", "fields": [{"name": "flag", "type": avro_type}]}
        out = prepare_kafka_batch(
            spark.createDataFrame(rows, ddl), schema, explicit_partitions=3
        ).collect()
        keys = set()
        for row in out:
            (key,) = C.decode_confluent([("key", "string")], bytes(row["key"]), 1)
            keys.add(key)
            assert row["partition"] == java_partition(java_hash(key), 3), key
        assert keys == expected
