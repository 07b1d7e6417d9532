"""Kafka source/sink wrappers over the pure-Python wire protocol.

Maps the reference's hand-rolled consumer/producer topology onto Spark
(SURVEY.md §3.4) without the spark-sql-kafka jar:

- partition discovery + thread-per-partition (reference
  ``03-consumer/src/main/java/Main.java:28-64``) → ``read_kafka_stream_py``
  (``format("kafka_py")``, ``sources/kafka_pyds.py``) fetches every
  partition in the driver's Python source runner and plans one input
  partition per micro-batch;
- poll loop with ``max.poll.records`` bound (``AvroConsumer.java:116-138``)
  → micro-batches bounded by ``max_records_per_batch``;
- blocking-queue backpressure (``AvroConsumer.java:142-155``) → pull-based
  micro-batch admission (rate bounded by the same option);
- DB-stored offsets + seek (``MySQLProcessData.java:42-63``) → checkpoint
  recovery, from the earliest offset on a cold start
  (``AvroConsumer.java:66``);
- key = field 0 and ``abs(hashCode % n)`` placement
  (``AvroProducer.java:81-82``) → ``prepare_kafka_batch``;
- the producer pool (``02-producer``) → ``write_kafka_batch_py``, one
  leader-routed Produce per Kafka partition from each Spark partition,
  its records stamped with the request's send time.

Both directions go through one wire client, ``kafka_wire.py`` (Produce
v3 / Fetch v4, magic-2 record batches); tests run it against the
in-process broker (tests/test_kafka_wire.py).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import partition_for_key
from .avro_codec import encode_df


def read_kafka_stream_py(
    spark: SparkSession,
    brokers: str,
    topic: str,
    *,
    max_records_per_batch: int | None = None,
) -> DataFrame:
    """Raw Kafka micro-batch stream through the pure-Python protocol
    DataSource (``format("kafka_py")``), with the output schema of Spark's
    Kafka source and its bounded-admission knob (``max_records_per_batch``
    ↔ maxOffsetsPerTrigger). Registration is idempotent per session."""
    from ..sources.kafka_pyds import KafkaPyDataSource

    try:
        spark.dataSource.register(KafkaPyDataSource)
    except Exception:
        pass  # already registered in this session
    reader = (
        spark.readStream.format("kafka_py")
        .option("bootstrap", brokers)
        .option("topic", topic)
    )
    if max_records_per_batch is not None:
        reader = reader.option("maxRecordsPerBatch", str(max_records_per_batch))
    return reader.load()


def prepare_kafka_batch(
    df: DataFrame,
    avro_schema: dict[str, Any],
    *,
    schema_id: int = 1,
    explicit_partitions: int,
) -> DataFrame:
    """Rows → (key, value, partition) columns ready for
    ``write_kafka_batch_py``. Key = Avro field 0 (reference
    AvroProducer.java:81); partition = the reference's placement
    ``abs(java_hashCode(key) % explicit_partitions)``
    (AvroProducer.java:82). Every Avro field here is non-nullable, so
    a null field 0 raises in the encoder, naming the field, where the
    reference's ``toString()`` would throw."""
    key_field = avro_schema["fields"][0]["name"]
    with_part = df.withColumn(
        "partition",
        partition_for_key(F.col(key_field).cast("string"), explicit_partitions),
    )
    return encode_df(
        with_part, avro_schema, schema_id=schema_id, passthrough_cols=["partition"]
    )


def write_kafka_batch_py(df: DataFrame, brokers: str, topic: str) -> None:
    """(key, value, partition) binary DataFrame from ``prepare_kafka_batch``
    → Kafka topic through the pure-Python wire protocol (Produce v3, one
    magic-2 record batch per request), executed ON THE EXECUTORS: each
    Spark partition opens one leader-routed client and sends one Produce
    request per Kafka partition it holds rows for, so the send path fans
    out with the cluster exactly like the JVM producer pool (reference
    02-producer Main.java:45-49). Each record carries the wall-clock
    milliseconds of its Produce request, as the Java producer stamps a
    ``ProducerRecord`` sent without a timestamp (AvroProducer.java:82-83)."""

    def send_partition(rows) -> None:
        # leader-routing producer (round 6): each Kafka partition's batch
        # goes to that partition's leader broker, like the Java client
        from ..streaming.kafka_wire import KafkaClusterClient

        by_kafka_partition: dict[int, list] = {}
        for r in rows:
            by_kafka_partition.setdefault(int(r["partition"]), []).append(
                (bytes(r["key"]) if r["key"] is not None else None,
                 bytes(r["value"]) if r["value"] is not None else None)
            )
        if not by_kafka_partition:
            return
        with KafkaClusterClient(brokers) as c:
            for pid, records in sorted(by_kafka_partition.items()):
                sent_ms = int(time.time() * 1000)
                c.produce(topic, pid, [(k, v, sent_ms) for k, v in records])

    df.select("key", "value", "partition").foreachPartition(send_partition)
