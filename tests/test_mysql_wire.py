"""MySQL wire protocol (streaming/mysql_wire.py + fake_mysql.py): auth,
text resultsets, client-side binding, transactions, dialect bridge, and
the ExactlyOnceDbSink running against the fake server over real TCP —
reference ops #24-25 (MySQLProcessData.java:94-156) executed end to end."""

from __future__ import annotations

import hashlib

import pytest

from kafka_avro_pipeline_java_spark.streaming import mysql_wire
from kafka_avro_pipeline_java_spark.streaming.fake_mysql import FakeMySQLServer
from kafka_avro_pipeline_java_spark.streaming.mysql_wire import (
    MySQLError,
    escape_literal,
    lenenc_int,
    native_password_scramble,
    read_lenenc_int,
)


# ------------------------------------------------------------ primitives
def test_lenenc_int_round_trip():
    for n in [0, 1, 0xFA, 0xFB, 0xFFFF, 0x10000, 0xFFFFFF, 0x1000000,
              2**40, 2**63]:
        enc = lenenc_int(n)
        got, pos = read_lenenc_int(enc, 0)
        assert got == n and pos == len(enc)


def test_native_password_scramble_spec():
    # definition check: SHA1(p) XOR SHA1(salt + SHA1(SHA1(p)))
    salt = bytes(range(20))
    h1 = hashlib.sha1(b"pw").digest()
    h2 = hashlib.sha1(h1).digest()
    expect = bytes(
        a ^ b for a, b in zip(h1, hashlib.sha1(salt + h2).digest())
    )
    assert native_password_scramble("pw", salt) == expect
    assert native_password_scramble("", salt) == b""


def test_escape_literal_injection_safe():
    assert escape_literal(None) == "NULL"
    assert escape_literal(42) == "42"
    assert escape_literal(1.5) == "1.5"
    assert escape_literal("a'b") == "'a''b'"
    assert escape_literal("x\\y") == "'x\\y'"  # raw: NO_BACKSLASH_ESCAPES
    assert escape_literal("nl\nrn\r") == "'nl\nrn\r'"
    assert escape_literal(b"\x00\xff") == "x'00ff'"


# ------------------------------------------------------------ connection
def test_auth_success_and_failure():
    with FakeMySQLServer(password="sekret") as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "sekret")
        conn.ping()
        conn.close()
        with pytest.raises(MySQLError) as e:
            mysql_wire.connect("127.0.0.1", srv.port, "root", "wrong")
        assert e.value.code == 1045


def test_query_round_trip_types_and_nulls():
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute(
            "CREATE TABLE t (id BIGINT PRIMARY KEY, name VARCHAR(50), "
            "score DOUBLE)"
        )
        cur.executemany(
            "INSERT INTO t (id, name, score) VALUES (%s, %s, %s)",
            [(1, "alice", 1.5), (2, "bo'b\\x", None), (3, None, -2.25)],
        )
        conn.commit()
        cur.execute("SELECT id, name, score FROM t ORDER BY id")
        rows = cur.fetchall()
        assert rows == [
            (1, "alice", 1.5),
            (2, "bo'b\\x", None),
            (3, None, -2.25),
        ]
        assert [d[0] for d in cur.description] == ["id", "name", "score"]
        assert isinstance(rows[0][0], int) and isinstance(rows[0][2], float)
        # extreme long, last-bit double, quote/backslash/newline text, a
        # BLOB (bytes back, not decoded text), a boolean, a NULL
        cur.execute(
            "CREATE TABLE typed (i BIGINT, d DOUBLE, s VARCHAR(255), "
            "b BLOB, t BOOLEAN, n VARCHAR(10))"
        )
        cur.execute(
            "INSERT INTO typed (i, d, s, b, t, n) "
            "VALUES (%s, %s, %s, %s, %s, %s)",
            (-(2**62), 1.0000000000000002, "quo'te\\raw\nnl",
             b"\x00\xff\xfe", True, None),
        )
        conn.commit()
        cur.execute("SELECT i, d, s, b, t, n FROM typed")
        assert [d[0] for d in cur.description] == ["i", "d", "s", "b", "t", "n"]
        i, d, s, b, t, n = cur.fetchone()
        assert i == -(2**62)
        assert d == 1.0000000000000002
        assert s == "quo'te\\raw\nnl"
        assert b == b"\x00\xff\xfe"
        assert t == 1
        assert n is None
        conn.close()


def test_mixed_type_column_reads_back_and_connection_survives():
    # sqlite types values, not columns: an untyped column can hold an int,
    # a string and a double. The resultset must carry ONE column type that
    # every row fits, so the read neither fails mid-resultset nor leaves
    # unread packets that break the next statement.
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute("CREATE TABLE mixed (id BIGINT, v)")
        cur.executemany(
            "INSERT INTO mixed (id, v) VALUES (%s, %s)",
            [(1, 1), (2, "abc"), (3, 2.5), (4, None)],
        )
        cur.execute("SELECT v FROM mixed ORDER BY id")
        assert cur.fetchall() == [("1",), ("abc",), ("2.5",), (None,)]
        cur.execute("SELECT v FROM mixed WHERE id IN (1, 3) ORDER BY id")
        assert cur.fetchall() == [(1.0,), (2.5,)]  # int + double -> DOUBLE
        cur.execute("SELECT 1")
        assert cur.fetchone() == (1,)
        conn.close()


def test_prepare_command_is_refused_and_connection_keeps_serving():
    # rows travel only as text-protocol COM_QUERY; a server-side prepare
    # (command byte 0x16) gets "unsupported command" like any other
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        conn._io.reset_seq()
        conn._io.write_packet(b"\x16SELECT 1")
        payload = conn._io.read_packet()
        assert payload[:1] == b"\xff"
        assert mysql_wire._parse_err(payload).code == 1047
        cur = conn.cursor()
        cur.execute("SELECT 1")
        assert cur.fetchone() == (1,)
        conn.close()


def test_transaction_rollback_and_commit():
    with FakeMySQLServer() as srv:
        a = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        ca = a.cursor()
        ca.execute("CREATE TABLE tx (v BIGINT)")
        a.commit()
        ca.execute("INSERT INTO tx (v) VALUES (%s)", (1,))
        a.rollback()
        ca.execute("SELECT COUNT(*) FROM tx")
        assert ca.fetchone() == (0,)
        ca.execute("INSERT INTO tx (v) VALUES (%s)", (2,))
        a.commit()
        ca.execute("SELECT COUNT(*) FROM tx")
        assert ca.fetchone() == (1,)
        a.close()


def test_disconnect_mid_transaction_rolls_back():
    with FakeMySQLServer() as srv:
        a = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        a.cursor().execute("CREATE TABLE d (v BIGINT)")
        a.commit()
        a.cursor().execute("INSERT INTO d (v) VALUES (1)")
        a._io.sock.close()  # die without COMMIT
        b = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cb = b.cursor()
        cb.execute("SELECT COUNT(*) FROM d")
        assert cb.fetchone() == (0,)
        b.close()


def test_on_duplicate_key_update_greatest_semantics():
    # the exact upsert ExactlyOnceDbSink emits for the offsets mirror
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute(
            "CREATE TABLE IF NOT EXISTS kafka_offsets ("
            "topic VARCHAR(50) NOT NULL, partition INT NOT NULL, "
            "consumer_group VARCHAR(50), offset BIGINT, "
            "PRIMARY KEY (topic, partition, consumer_group))"
        )
        up = (
            "INSERT INTO kafka_offsets (topic, partition, consumer_group, "
            "offset) VALUES (%s, %s, %s, %s) ON DUPLICATE KEY UPDATE "
            "offset = GREATEST(offset, VALUES(offset))"
        )
        cur.execute(up, ("t", 0, "g", 10))
        cur.execute(up, ("t", 0, "g", 7))   # lower: must NOT regress
        cur.execute(up, ("t", 0, "g", 15))  # higher: advances
        conn.commit()
        cur.execute("SELECT offset FROM kafka_offsets")
        assert cur.fetchone() == (15,)
        conn.close()


def test_executemany_with_values_col_upsert_form():
    # MySQL's canonical upsert tail "col = VALUES(col)" ends with
    # "VALUES(...)", so the greedy multi-row rewrite regex matches THAT
    # group (0 placeholders) instead of the real VALUES list; executemany
    # must detect the mismatch and fall back to per-row execute. The
    # sink's GREATEST(offset, VALUES(offset)) tail (streaming/sink.py)
    # ends the same way.
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute(
            "CREATE TABLE IF NOT EXISTS kafka_offsets ("
            "topic VARCHAR(50) NOT NULL, partition INT NOT NULL, "
            "consumer_group VARCHAR(50), offset BIGINT, "
            "PRIMARY KEY (topic, partition, consumer_group))"
        )
        up = (
            "INSERT INTO kafka_offsets (topic, partition, consumer_group, "
            "offset) VALUES (%s, %s, %s, %s) ON DUPLICATE KEY UPDATE "
            "offset = VALUES(offset)"
        )
        cur.executemany(up, [("t", p, "g", 5) for p in range(3)])
        cur.executemany(up, [("t", p, "g", 9) for p in range(3)])  # overwrite
        conn.commit()
        cur.execute(
            "SELECT COUNT(*), MIN(offset), MAX(offset) FROM kafka_offsets"
        )
        assert cur.fetchone() == (3, 9, 9)
        conn.close()


def test_escape_literal_rejects_non_finite_floats():
    # repr(inf/nan) are not SQL literals; fail client-side, loudly
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            escape_literal(bad)


def test_multi_row_insert_single_statement():
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute("CREATE TABLE m (a BIGINT, b VARCHAR(10))")
        cur.executemany(
            "INSERT INTO m (a, b) VALUES (%s, %s)",
            [(i, f"v{i}") for i in range(100)],
        )
        assert cur.rowcount == 100  # one statement, 100 affected rows
        conn.commit()
        cur.execute("SELECT COUNT(*), MIN(a), MAX(a) FROM m")
        assert cur.fetchone() == (100, 0, 99)
        conn.close()


# --------------------------------------------- the sink over real TCP
def test_exactly_once_sink_against_wire_mysql(spark, tmp_path):
    from kafka_avro_pipeline_java_spark.streaming.sink import (
        ExactlyOnceDbSink,
    )

    srv = FakeMySQLServer(password="pw")
    host, port = "127.0.0.1", srv.port
    try:
        setup = mysql_wire.connect(host, port, "root", "pw")
        setup.cursor().execute(
            "CREATE TABLE dataset1 (k VARCHAR(20), ts BIGINT, "
            "payload VARCHAR(50), num BIGINT, score DOUBLE, "
            "topic VARCHAR(20), partition INT, offset BIGINT)"
        )
        setup.commit()
        setup.close()

        def factory(host=host, port=port):
            from kafka_avro_pipeline_java_spark.streaming import mysql_wire

            # generous socket timeout: under full-suite load (32 threads,
            # GC pauses) a 10 s handshake deadline can flake
            return mysql_wire.connect(host, port, "root", "pw",
                                      timeout_s=120.0)

        sink = ExactlyOnceDbSink(
            factory,
            "dataset1",
            ["k", "ts", "payload", "num", "score"],
            paramstyle="format",
            offsets_cols=("topic", "partition", "offset"),
            consumer_group="g1",
        )
        rows = [
            (f"k{i}", 1000 + i, f"p{i}", i, i + 0.25, "dataset1", i % 3, i)
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "k string, ts long, payload string, num long, "
                  "score double, topic string, partition int, offset long"
        ).repartition(4)
        sink(df, batch_id=7)
        sink(df, batch_id=7)  # replay: ledger rows must make this a no-op

        check = mysql_wire.connect(host, port, "root", "pw")
        cur = check.cursor()
        cur.execute("SELECT COUNT(*) FROM dataset1")
        assert cur.fetchone() == (30,)  # no duplicates after replay
        cur.execute("SELECT score FROM dataset1 WHERE k = 'k3'")
        assert cur.fetchone() == (3.25,)  # DOUBLE column round trip
        cur.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE consumer_group = 'g1' ORDER BY partition"
        )
        # next-offset convention: max(offset)+1 per partition
        expect = {}
        for *_, p, o in rows:
            expect[p] = max(expect.get(p, -1), o + 1)
        assert dict(cur.fetchall()) == expect
        cur.execute("SELECT COUNT(*) FROM stream_commits")
        assert cur.fetchone()[0] == df.rdd.getNumPartitions()
        check.close()
    finally:
        srv.close()
