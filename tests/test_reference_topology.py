"""The reference's full workload shape, end-to-end (SURVEY.md §3, §5):
3 schemas × 1,500 keyed Avro messages → framed (key,value) pairs with
explicit partition parity → wire-protocol Produce into the in-process
broker → ``kafka_py`` streamed consumption → exactly-once DB sink — then
the reference's own manual verification queries, automated:

1. per-topic message count == 1,500 (README.md:218-231 invariant);
2. all rows land typed and intact (SELECT * sanity, README.md:204-214);
3. same key → same partition, read from the partition each record was
   consumed from (AvroConsumer.java:123-124).
"""

import sqlite3

from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.generate import generate_dataset
from kafka_avro_pipeline_java_spark.sources import schema_dsl as S
from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
    prepare_kafka_batch,
    write_kafka_batch_py,
)
from test_streaming import drain_to_db

DSL = [
    {"name": "dataset1", "fields": {"key_field1": "string", "timestamp_field1": "long",
                                    "double_field1": "double", "string_field1": "string"}},
    {"name": "dataset2", "fields": {"key_field2": "string", "timestamp_field2": "long",
                                    "string_field2": "string", "integer_field2": "integer"}},
    {"name": "dataset3", "fields": {"key_field3": "string", "timestamp_field3": "long",
                                    "string_field3": "string", "long_field3": "long"}},
]
N_PER_TOPIC = 1500  # 5 threads × 300 in the reference producer
N_PARTITIONS = 3
SQLITE_TYPE = {"string": "text", "long": "integer", "int": "integer",
               "double": "real"}


def test_full_reference_topology(spark, tmp_path):
    schemas = S.dsl_to_avro(DSL)
    db = str(tmp_path / "bank.db")
    con = sqlite3.connect(db)
    for schema in schemas:
        # the destination table from the schema, plus the Kafka partition
        # each row was consumed from
        con.execute(S.avro_to_create_table(schema))
        con.execute(f"ALTER TABLE {schema['name']} ADD COLUMN partition INT")
    con.commit(); con.close()

    with FakeKafkaBroker({s["name"]: N_PARTITIONS for s in schemas}) as broker:
        for i, schema in enumerate(schemas):
            topic = schema["name"]
            # produce: generate → frame → explicit reference partition column
            rows = generate_dataset(spark, schema, N_PER_TOPIC, seed=42 + i)
            framed = prepare_kafka_batch(rows, schema, explicit_partitions=N_PARTITIONS)

            # partition column exists and is in range (Kafka routes on it)
            assert framed.filter(
                (F.col("partition") < 0) | (F.col("partition") >= N_PARTITIONS)
            ).count() == 0
            write_kafka_batch_py(framed, broker.bootstrap, topic)

            # consume: stream → decode → exactly-once sink
            cols = [f["name"] for f in schema["fields"]] + ["partition"]
            drain_to_db(spark, broker.bootstrap, schema, db,
                        str(tmp_path / f"ckpt_{topic}"), cols, N_PER_TOPIC)

    con = sqlite3.connect(db)
    for schema in schemas:
        topic = schema["name"]
        # 1. count invariant: Σ messages per topic == 1,500
        n = con.execute(f"SELECT COUNT(*) FROM {topic}").fetchone()[0]
        assert n == N_PER_TOPIC, topic
        # 2. typed landing: every declared field present, non-null, typed
        for f in schema["fields"]:
            nulls = con.execute(
                f"SELECT COUNT(*) FROM {topic} WHERE {f['name']} IS NULL"
            ).fetchone()[0]
            assert nulls == 0, (topic, f)
            types = con.execute(
                f"SELECT DISTINCT typeof({f['name']}) FROM {topic}").fetchall()
            assert types == [(SQLITE_TYPE[f["type"]],)], (topic, f, types)
        # 3. keyed-partition invariant on the partition Kafka served
        key = schema["fields"][0]["name"]
        bad = con.execute(
            f"SELECT COUNT(*) FROM (SELECT {key} FROM {topic} GROUP BY {key} "
            "HAVING COUNT(DISTINCT partition) > 1)"
        ).fetchone()[0]
        assert bad == 0, topic
    con.close()
