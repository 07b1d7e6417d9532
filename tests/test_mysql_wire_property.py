"""Property-based fuzzing of the MySQL wire layer: lenenc round-trips on
arbitrary ints, and arbitrary VALUES surviving the full client→server→
sqlite→resultset→client loop over real TCP (quote doubling, control
chars, unicode, NULLs, extreme ints, bytes)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_avro_pipeline_java_spark.streaming import mysql_wire
from kafka_avro_pipeline_java_spark.streaming.fake_mysql import FakeMySQLServer
from kafka_avro_pipeline_java_spark.streaming.mysql_wire import (
    lenenc_int,
    read_lenenc_int,
)


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_lenenc_int_round_trip_property(n):
    got, pos = read_lenenc_int(lenenc_int(n), 0)
    assert got == n and pos == len(lenenc_int(n))


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=2, max_size=5
    )
)
def test_lenenc_int_concatenated_stream(ns):
    buf = b"".join(lenenc_int(n) for n in ns)
    pos, out = 0, []
    for _ in ns:
        v, pos = read_lenenc_int(buf, pos)
        out.append(v)
    assert out == ns and pos == len(buf)


@pytest.fixture(scope="module")
def conn():
    srv = FakeMySQLServer(password="fuzz")
    c = mysql_wire.connect("127.0.0.1", srv.port, "root", "fuzz")
    c.cursor().execute(
        "CREATE TABLE fuzz (id BIGINT PRIMARY KEY, s VARCHAR(500), "
        "x BIGINT, d DOUBLE, b BLOB)"
    )
    c.commit()
    yield c
    c.close()
    srv.close()


# NUL is excluded: sqlite's C layer truncates embedded NULs in TEXT —
# a backend limit of the test double, not of the wire encoding (the
# length-prefixed packets carry NULs fine, covered by the BLOB column)
_texts = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x00"
    ),
    max_size=120,
)


@settings(max_examples=40, deadline=None)
@given(
    s=_texts,
    x=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    d=st.floats(allow_nan=False, allow_infinity=False, width=64),
    b=st.binary(max_size=120),
)
def test_values_survive_the_wire_round_trip(conn, s, x, d, b):
    cur = conn.cursor()
    cur.execute("DELETE FROM fuzz WHERE id = 1")
    cur.execute(
        "INSERT INTO fuzz (id, s, x, d, b) VALUES (1, %s, %s, %s, %s)",
        (s, x, d, b),
    )
    conn.commit()
    cur.execute("SELECT s, x, d, b FROM fuzz WHERE id = 1")
    got = cur.fetchone()
    assert got == (s, x, d, b)
