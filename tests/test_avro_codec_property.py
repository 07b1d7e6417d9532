"""Property-based Avro codec tests (hypothesis): round-trip over the full
value domains, including edge integers, unicode strings, and subnormals,
and strict decoding of cut or padded bodies."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_avro_pipeline_java_spark.streaming import avro_codec as C

FT = [
    ("s", "string"),
    ("i", "int"),
    ("l", "long"),
    ("d", "double"),
    ("f", "float"),
    ("b", "boolean"),
]

records = st.tuples(
    st.text(max_size=200),                                   # any unicode
    st.integers(min_value=-(2**31), max_value=2**31 - 1),    # int32 domain
    st.integers(min_value=-(2**63), max_value=2**63 - 1),    # int64 domain
    st.floats(allow_nan=False, width=64),
    st.floats(allow_nan=False, width=32),
    st.booleans(),
)


@settings(max_examples=300, deadline=None)
@given(records)
def test_roundtrip_any_record(vals):
    body = C.encode_record(FT, list(vals))
    out = C.decode_record(FT, body)
    assert out[0] == vals[0]
    assert out[1] == vals[1]
    assert out[2] == vals[2]
    assert out[3] == vals[3]
    assert math.isclose(out[4], vals[4], rel_tol=0, abs_tol=0) or out[4] == vals[4]
    assert out[5] is vals[5]


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_roundtrip_full_long_domain(n):
    enc = C._zigzag_encode(n)
    assert C._read_long(enc, 0) == (n, len(enc))


@settings(max_examples=100, deadline=None)
@given(records, st.integers(min_value=0, max_value=2**32 - 1))
def test_framing_roundtrip(vals, schema_id):
    body = C.encode_record(FT, list(vals))
    framed = C.frame_confluent(body, schema_id)
    assert framed[5:] == body
    assert C.decode_confluent(FT, framed, schema_id) == C.decode_record(FT, body)
    other = (schema_id + 1) % 2**32
    with pytest.raises(ValueError, match=f"schema id {schema_id}, decoder expects schema id {other}"):
        C.decode_confluent(FT, framed, other)


@settings(max_examples=100, deadline=None)
@given(records, st.binary(min_size=1, max_size=16))
def test_strict_prefix_and_trailing_bytes_raise(vals, extra):
    """The decoder consumes a body exactly: every strict prefix ends inside
    a field (a short read), and any bytes after the body are left over."""
    body = C.encode_record(FT, list(vals))
    for cut in range(len(body)):
        with pytest.raises(ValueError, match="truncated"):
            C.decode_record(FT, body[:cut])
    with pytest.raises(ValueError, match="left over"):
        C.decode_record(FT, body + extra)
