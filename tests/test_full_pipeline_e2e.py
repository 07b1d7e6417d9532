"""The reference's ENTIRE topology executed end-to-end over real protocol
bytes, jar-free: generate (02-producer value domains) → Avro encode +
Confluent framing + explicit hashCode placement → wire-protocol Produce
from the executors → `kafka_py` streaming read with bounded admission →
Avro decode → exactly-once DB sink with atomic kafka_offsets upsert
(03-consumer semantics). A user of
dkwkehgud77/kafka-avro-pipeline-java runs exactly this pipeline; every
stage here is the Spark-first re-expression, executed, not mocked —
only the broker is the in-process protocol fake.
"""

from __future__ import annotations

import sqlite3
import time

import pytest
from pyspark.errors import PythonException

from kafka_avro_pipeline_java_spark.generate import generate_dataset
from kafka_avro_pipeline_java_spark.streaming.avro_codec import decode_df
from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
    prepare_kafka_batch,
    read_kafka_stream_py,
    write_kafka_batch_py,
)
from kafka_avro_pipeline_java_spark.streaming.sink import ExactlyOnceDbSink

SCHEMA = {
    "type": "record",
    "name": "orders_avro",
    "fields": [
        {"name": "order_id", "type": "string"},
        {"name": "qty", "type": "int"},
        {"name": "price", "type": "double"},
    ],
}
N_PARTS = 3


@pytest.fixture()
def broker():
    with FakeKafkaBroker({"orders_avro": N_PARTS}) as b:
        yield b


def _provision_db(db_path: str) -> None:
    """01-infra parity: the reference creates the destination table FROM
    the schema DSL before the pipeline runs (schema→DDL mapping)."""
    from kafka_avro_pipeline_java_spark.sources.schema_dsl import (
        avro_to_create_table,
    )

    with sqlite3.connect(db_path) as conn:
        conn.execute(avro_to_create_table(SCHEMA, if_not_exists=True))


def _drain(spark, broker, db_path, ckpt, expect_rows: int) -> None:
    raw = read_kafka_stream_py(
        spark, broker.bootstrap, "orders_avro", max_records_per_batch=7
    )
    typed = decode_df(
        raw.select("value", "topic", "partition", "offset"),
        SCHEMA,
        passthrough_cols=["topic", "partition", "offset"],
    )
    sink = ExactlyOnceDbSink(
        connection_factory=lambda: sqlite3.connect(db_path),
        table="orders_avro",
        columns=["order_id", "qty", "price"],
        paramstyle="qmark",
        offsets_cols=("topic", "partition", "offset"),
        consumer_group="group-orders_avro",
    )
    q = (
        typed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            q.processAllAvailable()
            with sqlite3.connect(db_path) as conn:
                try:
                    n = conn.execute("SELECT COUNT(*) FROM orders_avro").fetchone()[0]
                except sqlite3.OperationalError:
                    n = 0
            if n >= expect_rows:
                break
    finally:
        q.stop()


def test_full_topology_generate_produce_consume_sink(spark, broker, tmp_path):
    db_path = str(tmp_path / "warehouse.db")
    ckpt = str(tmp_path / "ckpt")
    _provision_db(db_path)

    # -- producer side: generate + encode + explicit placement + produce --
    records = generate_dataset(spark, SCHEMA, n_rows=25, seed=7, num_partitions=4)
    expected = {r.order_id: (r.qty, r.price) for r in records.collect()}
    batch = prepare_kafka_batch(records, SCHEMA, explicit_partitions=N_PARTS)
    write_kafka_batch_py(batch, broker.bootstrap, "orders_avro")

    # all 25 records landed on the broker, spread by the explicit
    # abs(java_hashCode(order_id)) % 3 placement
    per_part = [len(broker.records("orders_avro", pid)) for pid in range(N_PARTS)]
    assert sum(per_part) == 25

    # -- consumer side: stream, decode, exactly-once sink + offsets --
    _drain(spark, broker, db_path, ckpt, expect_rows=25)
    with sqlite3.connect(db_path) as conn:
        rows = conn.execute("SELECT order_id, qty, price FROM orders_avro").fetchall()
        offsets = conn.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE topic='orders_avro' AND consumer_group='group-orders_avro'"
        ).fetchall()
    assert len(rows) == 25
    assert {r[0]: (r[1], r[2]) for r in rows} == expected
    # mirrored offsets equal each partition's high watermark (next offset)
    hw = {pid: len(broker.records("orders_avro", pid)) for pid in range(N_PARTS)}
    assert {p: o for p, o in offsets} == {p: n for p, n in hw.items() if n > 0}

    # -- second producer batch + stream RESTART from the same checkpoint --
    more = generate_dataset(spark, SCHEMA, n_rows=10, seed=99, num_partitions=2)
    expected.update({r.order_id: (r.qty, r.price) for r in more.collect()})
    write_kafka_batch_py(
        prepare_kafka_batch(more, SCHEMA, explicit_partitions=N_PARTS),
        broker.bootstrap,
        "orders_avro",
    )
    _drain(spark, broker, db_path, ckpt, expect_rows=35)
    with sqlite3.connect(db_path) as conn:
        rows = conn.execute("SELECT order_id, qty, price FROM orders_avro").fetchall()
    # exactly-once across restart: 35 rows, no duplicates, no loss
    assert len(rows) == 35
    assert {r[0]: (r[1], r[2]) for r in rows} == expected


def test_write_batch_stamps_send_time(spark, broker):
    """Each record carries the wall-clock milliseconds of its Produce
    request, as the Java producer stamps a ProducerRecord sent without a
    timestamp (AvroProducer.java:82-83)."""
    records = generate_dataset(spark, SCHEMA, n_rows=12, seed=5,
                               num_partitions=2)
    batch = prepare_kafka_batch(records, SCHEMA, explicit_partitions=N_PARTS)
    t0 = int(time.time() * 1000)
    write_kafka_batch_py(batch, broker.bootstrap, "orders_avro")
    t1 = int(time.time() * 1000)
    stamps = [ts for pid in range(N_PARTS)
              for _, _, ts in broker.records("orders_avro", pid)]
    assert len(stamps) == 12
    assert all(t0 <= ts <= t1 for ts in stamps), (t0, stamps, t1)


def test_prepare_batch_raises_naming_a_null_key_field(spark):
    """Field 0 is the record key and the placement input; a null one
    raises naming the field, where the reference's toString() throws."""
    df = spark.createDataFrame(
        [("a", 1, 1.0), (None, 2, 2.0)], "order_id string, qty int, price double")
    with pytest.raises(PythonException,
                       match="null in non-nullable Avro field 'order_id'"):
        prepare_kafka_batch(df, SCHEMA, explicit_partitions=N_PARTS).collect()


def test_full_topology_wire_kafka_to_wire_mysql(spark, broker, tmp_path):
    """The reference's WHOLE topology with BOTH external systems on real
    TCP sockets: wire-protocol Produce into the fake broker → `kafka_py`
    streaming read → Avro decode → ExactlyOnceDbSink speaking the MySQL
    wire protocol (format paramstyle, ON DUPLICATE KEY offsets upsert)
    into the fake MySQL server. No sqlite shortcut on the sink side —
    the DB conversation is packets, exactly like MySQLProcessData.java's."""
    from kafka_avro_pipeline_java_spark.sources.schema_dsl import (
        avro_to_create_table,
    )
    from kafka_avro_pipeline_java_spark.streaming import mysql_wire
    from kafka_avro_pipeline_java_spark.streaming.fake_mysql import (
        FakeMySQLServer,
    )

    ckpt = str(tmp_path / "ckpt_wire")
    srv = FakeMySQLServer(password="exam")
    host, port = "127.0.0.1", srv.port
    try:
        setup = mysql_wire.connect(host, port, "root", "exam")
        setup.cursor().execute(avro_to_create_table(SCHEMA, if_not_exists=True))
        setup.commit()
        setup.close()

        records = generate_dataset(spark, SCHEMA, n_rows=20, seed=3,
                                   num_partitions=3)
        expected = {r.order_id: (r.qty, r.price) for r in records.collect()}
        write_kafka_batch_py(
            prepare_kafka_batch(records, SCHEMA, explicit_partitions=N_PARTS),
            broker.bootstrap,
            "orders_avro",
        )

        def factory(host=host, port=port):
            from kafka_avro_pipeline_java_spark.streaming import mysql_wire

            return mysql_wire.connect(host, port, "root", "exam",
                                      timeout_s=120.0)

        raw = read_kafka_stream_py(
            spark, broker.bootstrap, "orders_avro", max_records_per_batch=7
        )
        typed = decode_df(
            raw.select("value", "topic", "partition", "offset"),
            SCHEMA,
            passthrough_cols=["topic", "partition", "offset"],
        )
        sink = ExactlyOnceDbSink(
            connection_factory=factory,
            table="orders_avro",
            columns=["order_id", "qty", "price"],
            paramstyle="format",
            offsets_cols=("topic", "partition", "offset"),
            consumer_group="group-orders_avro",
        )
        q = (
            typed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            n = 0
            while time.time() < deadline and n < 20:
                q.processAllAvailable()
                probe = mysql_wire.connect(host, port, "root", "exam")
                cur = probe.cursor()
                try:
                    cur.execute("SELECT COUNT(*) FROM orders_avro")
                    n = cur.fetchone()[0]
                except mysql_wire.MySQLError:
                    n = 0
                probe.close()
        finally:
            q.stop()

        check = mysql_wire.connect(host, port, "root", "exam")
        cur = check.cursor()
        cur.execute("SELECT order_id, qty, price FROM orders_avro")
        rows = cur.fetchall()
        assert len(rows) == 20
        assert {r[0]: (r[1], r[2]) for r in rows} == expected
        cur.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE topic='orders_avro' AND consumer_group='group-orders_avro'"
        )
        hw = {pid: len(broker.records("orders_avro", pid))
              for pid in range(N_PARTS)}
        assert dict(cur.fetchall()) == {p: n for p, n in hw.items() if n > 0}
        check.close()
    finally:
        srv.close()
