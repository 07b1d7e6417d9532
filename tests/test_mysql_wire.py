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
            "payload VARCHAR(50), num BIGINT, topic VARCHAR(20), "
            "partition INT, offset BIGINT)"
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
            ["k", "ts", "payload", "num"],
            paramstyle="format",
            offsets_cols=("topic", "partition", "offset"),
            consumer_group="g1",
        )
        rows = [
            (f"k{i}", 1000 + i, f"p{i}", i, "dataset1", i % 3, i)
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "k string, ts long, payload string, num long, "
                  "topic string, partition int, offset long"
        ).repartition(4)
        sink(df, batch_id=7)
        sink(df, batch_id=7)  # replay: ledger rows must make this a no-op

        check = mysql_wire.connect(host, port, "root", "pw")
        cur = check.cursor()
        cur.execute("SELECT COUNT(*) FROM dataset1")
        assert cur.fetchone() == (30,)  # no duplicates after replay
        cur.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE consumer_group = 'g1' ORDER BY partition"
        )
        # next-offset convention: max(offset)+1 per partition
        expect = {}
        for _, _, _, _, _, p, o in rows:
            expect[p] = max(expect.get(p, -1), o + 1)
        assert dict(cur.fetchall()) == expect
        cur.execute("SELECT COUNT(*) FROM stream_commits")
        assert cur.fetchone()[0] == df.rdd.getNumPartitions()
        check.close()
    finally:
        srv.close()


# --------------------------------------------- binary (prepared) protocol
def test_prepared_statement_typed_round_trip():
    # COM_STMT_PREPARE/EXECUTE with typed binary binding — the reference's
    # actual PreparedStatement mechanism (MySQLProcessData.java:110-156):
    # longs as 8B LE, doubles as IEEE-754, strings length-encoded, NULLs
    # in the null bitmap. Values must survive bit-exact, no text escaping
    # anywhere on the path.
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute(
            "CREATE TABLE typed (i BIGINT, d DOUBLE, s VARCHAR(255), "
            "b BLOB, t BOOLEAN, n VARCHAR(10))"
        )
        ps = conn.prepare(
            "INSERT INTO typed (i, d, s, b, t, n) VALUES (?, ?, ?, ?, ?, ?)"
        )
        assert ps.num_params == 6
        affected, _ = ps.execute(
            (-(2**62), 1.0000000000000002, "quo'te\\raw\nnl",
             b"\x00\xff\xfe", True, None)
        )
        assert affected == 1
        ps.close()
        conn.commit()
        sel = conn.prepare("SELECT i, d, s, b, t, n FROM typed")
        cols, rows = sel.execute(())
        assert cols == ["i", "d", "s", "b", "t", "n"]
        i, d, s, b, t, n = rows[0]
        assert i == -(2**62)
        assert d == 1.0000000000000002  # bit-exact through IEEE binary
        assert s == "quo'te\\raw\nnl"
        assert b == b"\x00\xff\xfe"
        assert t == 1
        assert n is None
        sel.close()
        conn.close()


def test_prepared_statement_replay_idempotent_upsert():
    # re-executing the SAME prepared upsert (the consumer-restart replay
    # shape) must not regress offsets or duplicate rows
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        cur = conn.cursor()
        cur.execute(
            "CREATE TABLE IF NOT EXISTS kafka_offsets ("
            "topic VARCHAR(50) NOT NULL, partition INT NOT NULL, "
            "consumer_group VARCHAR(50), offset BIGINT, "
            "PRIMARY KEY (topic, partition, consumer_group))"
        )
        ps = conn.prepare(
            "INSERT INTO kafka_offsets (topic, partition, consumer_group, "
            "offset) VALUES (?, ?, ?, ?) ON DUPLICATE KEY UPDATE "
            "offset = GREATEST(offset, VALUES(offset))"
        )
        for _ in range(3):  # replay: identical executes are idempotent
            ps.execute(("t", 0, "g", 10))
        ps.execute(("t", 0, "g", 7))  # lower: must NOT regress
        conn.commit()
        cur.execute("SELECT COUNT(*), MAX(offset) FROM kafka_offsets")
        assert cur.fetchone() == (1, 10)
        ps.close()
        conn.close()


def test_prepared_statement_param_count_and_close_errors():
    with FakeMySQLServer() as srv:
        conn = mysql_wire.connect("127.0.0.1", srv.port, "root", "")
        conn.cursor().execute("CREATE TABLE p2 (a BIGINT)")
        ps = conn.prepare("INSERT INTO p2 (a) VALUES (?)")
        with pytest.raises(ValueError, match="1 parameters expected"):
            ps.execute((1, 2))
        ps.close()
        with pytest.raises(MySQLError, match="closed"):
            ps.execute((1,))
        # non-finite floats rejected client-side on the binary path too
        ps2 = conn.prepare("INSERT INTO p2 (a) VALUES (?)")
        with pytest.raises(ValueError, match="non-finite"):
            ps2.execute((float("nan"),))
        conn.close()


def test_exactly_once_sink_prepared_binary_path(spark):
    # the same exactly-once contract, but rows and offset upserts bind
    # through COM_STMT_PREPARE/EXECUTE (use_prepared=True) — the
    # reference's PreparedStatement mechanism executing inside the sink
    from kafka_avro_pipeline_java_spark.streaming.sink import (
        ExactlyOnceDbSink,
    )

    srv = FakeMySQLServer(password="pw")
    host, port = "127.0.0.1", srv.port
    try:
        setup = mysql_wire.connect(host, port, "root", "pw")
        setup.cursor().execute(
            "CREATE TABLE dataset2 (k VARCHAR(20), num BIGINT, "
            "score DOUBLE, topic VARCHAR(20), partition INT, offset BIGINT)"
        )
        setup.commit()
        setup.close()

        def factory(host=host, port=port):
            from kafka_avro_pipeline_java_spark.streaming import mysql_wire

            return mysql_wire.connect(host, port, "root", "pw",
                                      timeout_s=120.0)

        sink = ExactlyOnceDbSink(
            factory,
            "dataset2",
            ["k", "num", "score"],
            paramstyle="format",
            offsets_cols=("topic", "partition", "offset"),
            consumer_group="g2",
            use_prepared=True,
        )
        rows = [
            (f"k{i}", i, i + 0.25, "dataset2", i % 2, i) for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, "k string, num long, score double, "
                  "topic string, partition int, offset long"
        ).repartition(3)
        sink(df, batch_id=3)
        sink(df, batch_id=3)  # replay must be a no-op

        check = mysql_wire.connect(host, port, "root", "pw")
        cur = check.cursor()
        cur.execute("SELECT COUNT(*), SUM(num) FROM dataset2")
        assert cur.fetchone() == (20, sum(range(20)))
        cur.execute("SELECT score FROM dataset2 WHERE k = 'k3'")
        assert cur.fetchone() == (3.25,)  # typed double through binary bind
        cur.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE consumer_group = 'g2' ORDER BY partition"
        )
        assert dict(cur.fetchall()) == {0: 19, 1: 20}
        check.close()
    finally:
        srv.close()
