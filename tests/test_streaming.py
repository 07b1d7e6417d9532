"""End-to-end tests of the streaming ETL: generate → Avro frames → Kafka
(the in-process broker, real protocol bytes over TCP) → ``kafka_py``
stream → decode → exactly-once DB sink, including the reference's
kill/restart exactly-once check (SURVEY.md §5.3) at micro-batch
granularity, and the sink's own ledger/offsets/rollback contract.
"""

import sqlite3
import time

import pytest

from kafka_avro_pipeline_java_spark.generate import generate_dataset
from kafka_avro_pipeline_java_spark.sources import schema_dsl as S
from kafka_avro_pipeline_java_spark.streaming.avro_codec import decode_df
from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
    prepare_kafka_batch,
    read_kafka_stream_py,
    write_kafka_batch_py,
)
from kafka_avro_pipeline_java_spark.streaming.sink import ExactlyOnceDbSink

SCHEMA = S.dsl_to_avro(
    [{"name": "dataset1", "fields": {"key_field1": "string", "timestamp_field1": "long",
                                     "double_field1": "double", "string_field1": "string"}}]
)[0]
N_PARTITIONS = 3


def produce(spark, bootstrap, schema, n_rows, *, seed):
    """One producer run: generate → Avro frame → the reference's explicit
    partition → wire-protocol Produce into the schema's topic."""
    rows = generate_dataset(spark, schema, n_rows, seed=seed)
    framed = prepare_kafka_batch(rows, schema, explicit_partitions=N_PARTITIONS)
    write_kafka_batch_py(framed, bootstrap, schema["name"])


def drain_to_db(spark, bootstrap, schema, db_path, ckpt, columns, expect_rows):
    """One consumer lifetime: stream the schema's topic (``kafka_py``),
    decode the Avro values (Kafka's ``partition`` passed through) and
    commit ``columns`` through ExactlyOnceDbSink into the sqlite table of
    the same name until it holds ``expect_rows`` rows, then stop."""
    table = schema["name"]
    raw = read_kafka_stream_py(spark, bootstrap, table)
    typed = decode_df(raw.select("value", "partition"), schema,
                      passthrough_cols=["partition"])
    sink = ExactlyOnceDbSink(
        lambda: sqlite3.connect(db_path, timeout=60), table, columns
    )
    q = (
        typed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline and n < expect_rows:
            q.processAllAvailable()
            con = sqlite3.connect(db_path)
            n = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
            con.close()
    finally:
        q.stop()


def test_restart_no_duplicates_no_loss(spark, tmp_path):
    """Reference kill test (README.md:242-276): process, 'kill', produce
    more, restart with the same checkpoint → every record exactly once."""
    db, ckpt = str(tmp_path / "sink.db"), str(tmp_path / "ckpt")
    con = sqlite3.connect(db)
    con.execute(S.avro_to_create_table(SCHEMA))
    con.commit(); con.close()
    cols = [f["name"] for f in SCHEMA["fields"]]
    with FakeKafkaBroker({"dataset1": N_PARTITIONS}) as broker:
        produce(spark, broker.bootstrap, SCHEMA, 150, seed=1)
        # first consumer run drains what is there, then is "killed"
        drain_to_db(spark, broker.bootstrap, SCHEMA, db, ckpt, cols, 150)

        # second producer run while consumer is "down"
        produce(spark, broker.bootstrap, SCHEMA, 150, seed=2)
        drain_to_db(spark, broker.bootstrap, SCHEMA, db, ckpt, cols, 300)

    con = sqlite3.connect(db)
    n = con.execute("SELECT COUNT(*) FROM dataset1").fetchone()[0]
    n_distinct = con.execute(
        f"SELECT COUNT(*) FROM (SELECT DISTINCT {', '.join(cols)} FROM dataset1)"
    ).fetchone()[0]
    con.close()
    assert n == 300  # no loss
    # no duplicates: both producer runs are distinct by (seed→values, rid)
    assert n_distinct == n


def test_db_sink_exactly_once_with_sqlite(spark, tmp_path):
    """ExactlyOnceDbSink: rows + ledger commit atomically; replaying the
    same batch_id writes nothing. sqlite stands in for MySQL (same DB-API
    contract the MySQL driver exposes)."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE dataset1 (key_field1 TEXT, timestamp_field1 INT, "
                "double_field1 REAL, string_field1 TEXT)")
    con.commit(); con.close()

    def factory(path=db):
        import sqlite3 as sq
        c = sq.connect(path, timeout=60)
        return c

    sink = ExactlyOnceDbSink(
        factory, "dataset1",
        ["key_field1", "timestamp_field1", "double_field1", "string_field1"],
    )
    from kafka_avro_pipeline_java_spark.generate import generate_dataset

    batch = generate_dataset(spark, SCHEMA, 80, seed=5).coalesce(1)
    sink(batch, batch_id=0)
    sink(batch, batch_id=0)  # replay → must be a no-op
    sink(batch, batch_id=1)  # new batch → applies

    con = sqlite3.connect(db)
    n = con.execute("SELECT count(*) FROM dataset1").fetchone()[0]
    ledger = con.execute(
        "SELECT batch_id, n_rows FROM stream_commits ORDER BY batch_id").fetchall()
    con.close()
    assert n == 160
    assert ledger == [(0, 80), (1, 80)]


def test_db_sink_atomic_offsets(spark, tmp_path):
    """Data + kafka_offsets in ONE transaction (the reference's
    AvroConsumer.java:157-194 guarantee at partition granularity)."""
    import sqlite3

    db = str(tmp_path / "sink3.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE dataset1 (key_field1 TEXT, timestamp_field1 INT)")
    con.commit(); con.close()

    def factory(path=db):
        import sqlite3 as sq
        return sq.connect(path, timeout=60)

    sink = ExactlyOnceDbSink(
        factory, "dataset1", ["key_field1", "timestamp_field1"],
        offsets_cols=("topic", "partition", "offset"),
        consumer_group="group-dataset1",
    )
    batch = spark.createDataFrame(
        [("a", 1, "dataset1", 0, 10), ("b", 2, "dataset1", 0, 11),
         ("c", 3, "dataset1", 1, 5)],
        "key_field1 string, timestamp_field1 long, topic string, "
        "partition int, offset long",
    ).coalesce(1)
    sink(batch, batch_id=0)
    sink(batch, batch_id=0)  # replay → no-op for BOTH data and offsets
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM dataset1").fetchone()[0] == 3
    offs = dict(((t, p), o) for t, p, g, o in
                con.execute("SELECT * FROM kafka_offsets").fetchall())
    con.close()
    assert offs == {("dataset1", 0): 12, ("dataset1", 1): 6}


def test_db_sink_runs_no_ddl_inside_a_partition_transaction(spark, tmp_path):
    """MySQL commits implicitly before any CREATE TABLE, so DDL inside a
    partition transaction would commit the rows ahead of their ledger
    row. The connection below commits before every CREATE, as MySQL
    does, and fails the first ledger insert: the failed batch must leave
    no rows, and its retry must write each row exactly once."""
    db = str(tmp_path / "sink4.db")
    armed = str(tmp_path / "fail-first-ledger-insert")
    open(armed, "w").close()
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE dataset1 (key_field1 TEXT, timestamp_field1 INT)")
    con.commit(); con.close()

    def factory(path=db, armed=armed):
        import os
        import sqlite3 as sq

        class MySQLLikeCursor:
            def __init__(self, conn):
                self._conn, self._cur = conn, conn.cursor()

            def execute(self, sql, params=()):
                if sql.lstrip().upper().startswith("CREATE"):
                    self._conn.commit()  # MySQL's implicit commit
                if sql.startswith("INSERT INTO stream_commits") and os.path.exists(armed):
                    os.remove(armed)
                    raise sq.OperationalError("crash before the ledger insert")
                return self._cur.execute(sql, params)

            def __getattr__(self, name):
                return getattr(self._cur, name)

        class MySQLLikeConnection:
            def __init__(self):
                self._conn = sq.connect(path, timeout=60)

            def cursor(self):
                return MySQLLikeCursor(self._conn)

            def __getattr__(self, name):
                return getattr(self._conn, name)

        return MySQLLikeConnection()

    sink = ExactlyOnceDbSink(
        factory, "dataset1", ["key_field1", "timestamp_field1"],
        offsets_cols=("topic", "partition", "offset"),
        consumer_group="group-dataset1",
    )
    batch = spark.createDataFrame(
        [("a", 1, "dataset1", 0, 10), ("b", 2, "dataset1", 0, 11),
         ("c", 3, "dataset1", 1, 5)],
        "key_field1 string, timestamp_field1 long, topic string, "
        "partition int, offset long",
    ).coalesce(1)

    def n_rows():
        con = sqlite3.connect(db)
        try:
            return con.execute("SELECT count(*) FROM dataset1").fetchone()[0]
        finally:
            con.close()

    with pytest.raises(Exception):
        sink(batch, batch_id=0)
    assert n_rows() == 0
    sink(batch, batch_id=0)  # the replay after the crash
    assert n_rows() == 3


def test_db_sink_rolls_back_on_failure(spark, tmp_path):
    """A failing partition write must leave neither rows nor ledger entry."""
    import sqlite3

    db = str(tmp_path / "sink2.db")
    con = sqlite3.connect(db)
    # missing column -> INSERT fails after ledger DDL
    con.execute("CREATE TABLE dataset1 (key_field1 TEXT)")
    con.commit(); con.close()

    def factory(path=db):
        import sqlite3 as sq
        return sq.connect(path, timeout=60)

    sink = ExactlyOnceDbSink(
        factory, "dataset1",
        ["key_field1", "timestamp_field1", "double_field1", "string_field1"],
    )
    from kafka_avro_pipeline_java_spark.generate import generate_dataset

    batch = generate_dataset(spark, SCHEMA, 10, seed=5).coalesce(1)
    with pytest.raises(Exception):
        sink(batch, batch_id=0)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM dataset1").fetchone()[0] == 0
    try:
        ledger_rows = con.execute("SELECT count(*) FROM stream_commits").fetchone()[0]
    except sqlite3.OperationalError:
        ledger_rows = 0  # ledger table never created — also fine
    con.close()
    assert ledger_rows == 0
