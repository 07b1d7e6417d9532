"""Generator value-domain tests (reference AvroProducer.java:97-123)."""

import math

import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.generate import TS_ORIGIN_MILLIS, generate_dataset
from kafka_avro_pipeline_java_spark.functions.hashing import (
    java_string_hashcode,
    partition_for_key,
)

SCHEMA = {
    "type": "record", "namespace": "com.exam", "name": "dataset1",
    "fields": [
        {"name": "key_field1", "type": "string"},
        {"name": "timestamp_field1", "type": "long"},
        {"name": "double_field1", "type": "double"},
        {"name": "int_field1", "type": "int"},
        {"name": "float_field1", "type": "float"},
    ],
}


def test_domains(spark):
    df = generate_dataset(spark, SCHEMA, 500, seed=42).cache()
    stats = df.agg(
        F.min("int_field1").alias("imin"), F.max("int_field1").alias("imax"),
        F.min("double_field1").alias("dmin"), F.max("double_field1").alias("dmax"),
        F.min("float_field1").alias("fmin"), F.max("float_field1").alias("fmax"),
        F.min("timestamp_field1").alias("tmin"), F.max("timestamp_field1").alias("tmax"),
        F.min(F.length("key_field1")).alias("lmin"),
        F.max(F.length("key_field1")).alias("lmax"),
    ).first()
    assert 1 <= stats["imin"] and stats["imax"] <= 100          # nextInt(100)+1
    assert 0.0 <= stats["dmin"] and stats["dmax"] < 1.0          # [0,1) 6dp
    assert 0.0 <= stats["fmin"] and stats["fmax"] < 1.0          # [0,1) 3dp
    assert stats["tmin"] == TS_ORIGIN_MILLIS                     # monotone millis
    assert stats["tmax"] == TS_ORIGIN_MILLIS + 499
    assert stats["lmin"] == 6 and stats["lmax"] == 6             # 6-char strings
    ok = df.filter(~F.col("key_field1").rlike("^[A-Za-z]{6}$")).count()
    assert ok == 0                                               # charset [A-Za-z]


def test_deterministic_with_seed(spark):
    a = sorted(map(tuple, generate_dataset(spark, SCHEMA, 100, seed=7).collect()))
    b = sorted(map(tuple, generate_dataset(spark, SCHEMA, 100, seed=7).collect()))
    c = sorted(map(tuple, generate_dataset(spark, SCHEMA, 100, seed=8).collect()))
    assert a == b
    assert a != c


def test_unsupported_type_raises(spark):
    bad = {"name": "x", "fields": [{"name": "f", "type": "bytes"}]}
    with pytest.raises(ValueError, match="unsupported"):
        generate_dataset(spark, bad, 10)


def java_hash(s: str) -> int:
    """java.lang.String.hashCode: 31-polynomial over UTF-16 code units."""
    units = s.encode("utf-16-be")
    h = 0
    for i in range(0, len(units), 2):
        h = (h * 31 + int.from_bytes(units[i : i + 2], "big")) & 0xFFFFFFFF
    return h - 0x100000000 if h > 0x7FFFFFFF else h


def java_partition(hash_code: int, n: int) -> int:
    """``Math.abs(hashCode % n)`` (reference AvroProducer.java:82). Java's
    remainder takes the dividend's sign, as ``math.fmod`` does."""
    return abs(int(math.fmod(hash_code, n)))


def test_java_hashcode_parity(spark):
    """partition_for_key must reproduce java.lang.String.hashCode placement
    (reference AvroProducer.java:82) — checked against a Python
    reimplementation of the Java algorithm, which hashes UTF-16 code
    units (a code point above U+FFFF is a surrogate pair), and that
    reimplementation against the JVM's own String.hashCode."""

    keys = [
        "abc", "ABC123", "k", "", "zzzzzz", "Key42x", "aA0bB1",
        "\U0001F600x", "a\U0001F600b\U0001D11E", "\U0010FFFF\u00e9z",
        "polygenelubricants",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r["key"]: (r["hc"], r["part"])
        for r in df.select(
            "key",
            java_string_hashcode("key").alias("hc"),
            partition_for_key("key", 3).alias("part"),
        ).collect()
    }
    jvm_objects = spark._jvm.java.util.Objects
    big = spark._jvm.java.math.BigInteger
    for k in keys:
        hc, part = got[k]
        assert java_hash(k) == jvm_objects.hashCode(k), f"reference wrong for {k!r}"
        assert hc == java_hash(k), f"hashCode mismatch for {k!r}"
        # BigInteger.remainder is Java's truncating %
        assert java_partition(hc, 3) == big.valueOf(hc).remainder(big.valueOf(3)).abs().intValue()
        assert part == java_partition(hc, 3), f"partition mismatch for {k!r}"
    # its hashCode() is Integer.MIN_VALUE: Java's MIN_VALUE % 3 is -2
    assert got["polygenelubricants"] == (-(2**31), 2)


def test_same_key_same_partition(spark):
    df = generate_dataset(spark, SCHEMA, 300, seed=42)
    keyed = df.select(partition_for_key("key_field1", 3).alias("p"), "key_field1")
    bad = (
        keyed.groupBy("key_field1")
        .agg(F.countDistinct("p").alias("np"))
        .filter(F.col("np") > 1)
        .count()
    )
    assert bad == 0
