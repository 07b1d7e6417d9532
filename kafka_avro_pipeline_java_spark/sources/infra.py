"""Infra setup: schema pipeline + topic/table DDL (reference module 01).

Reference flow (``01-infra/src/main/java/Main.java:19-45``):
DSL json → Avro schemas → dump → Kafka topics (delete-if-exists, create,
verify) → MySQL database/tables. Here the same steps are plain driver-side
Python around the schema_dsl translators; Kafka admin operations speak the
wire protocol (``streaming/kafka_wire.py``, no admin library) and DDL
strings are produced for any DB-API executor to run.
"""

from __future__ import annotations

import json
import time
from typing import Any

from ..streaming.kafka_wire import (
    ERR_NONE,
    ERR_UNKNOWN_TOPIC_OR_PARTITION,
    KafkaWireClient,
)
from .schema_dsl import (
    OFFSETS_TABLE_DDL,
    avro_to_create_table,
    dsl_to_avro,
)


def build_setup_plan(dsl: list[dict[str, Any]] | str, *, database: str = "bank") -> dict:
    """Everything the reference's infra module produces, as data:
    Avro schemas, topic names, and the full DDL script (database +
    kafka_offsets + one table per schema, reference DataPipeline.java:
    141-208). Callers feed `ddl` to a DB connection and `topics` to
    `recreate_topics`."""
    schemas = dsl_to_avro(dsl)
    ddl = [
        f"DROP DATABASE IF EXISTS {database}",
        f"CREATE DATABASE {database}",
        f"USE {database}",
        OFFSETS_TABLE_DDL,
    ] + [avro_to_create_table(s) for s in schemas]
    return {
        "avro_schemas": schemas,
        "avro_schemas_json": json.dumps(schemas),
        "topics": [s["name"] for s in schemas],
        "ddl": ddl,
    }


def recreate_topics(
    brokers: str,
    topics: list[str],
    *,
    partitions: int = 3,
    replication_factor: int = 3,
    poll_interval_s: float = 3.0,
    timeout_s: float = 60.0,
) -> None:
    """Delete-if-exists → poll until gone → create → verify (reference
    DataPipeline.java:80-126, including the 3s existence-poll loop),
    spoken on the wire with the repo's own admin client (Metadata v0,
    DeleteTopics v0, CreateTopics v0; streaming/kafka_wire.py), so op #4
    EXECUTES against any broker that speaks those APIs — no admin library
    required."""
    with KafkaWireClient(brokers) as c:
        _, existing = c.metadata(None)
        doomed = [t for t in topics if t in existing]
        if doomed:
            res = c.delete_topics(doomed, timeout_ms=int(timeout_s * 1000))
            bad = {t: e for t, e in res.items()
                   if e not in (ERR_NONE, ERR_UNKNOWN_TOPIC_OR_PARTITION)}
            if bad:
                raise RuntimeError(f"DeleteTopics failed: {bad}")
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                _, now = c.metadata(None)
                if not set(now) & set(doomed):
                    break
                time.sleep(poll_interval_s)
        res = c.create_topics(
            {t: partitions for t in topics},
            replication_factor=replication_factor,
            timeout_ms=int(timeout_s * 1000),
        )
        bad = {t: e for t, e in res.items() if e != ERR_NONE}
        if bad:
            raise RuntimeError(f"CreateTopics failed: {bad}")
        # verify, like the reference's post-create existence check
        _, now = c.metadata(None)
        missing = [t for t in topics if t not in now]
        if missing:
            raise RuntimeError(f"topics not visible after create: {missing}")


def partition_count(brokers: str, topic: str, *, timeout: float = 10) -> int:
    """Number of partitions of ``topic`` — the producer-side lookup the
    reference does with ``adminClient.describeTopics(...).partitions()
    .size()`` (AvroProducer.java:63-66) before computing its explicit
    hashCode-mod-partitions placement (AvroProducer.java:82), here one
    wire-protocol Metadata round-trip. Raises ``KeyError`` when the
    topic does not exist."""
    with KafkaWireClient(brokers, timeout_s=timeout) as c:
        _, topic_map = c.metadata([topic])  # raises KeyError if absent
        return len(topic_map[topic])


def register_schemas(registry_url: str, schemas: list[dict], *, timeout: int = 10) -> dict[str, int]:
    """Register value schemas with a Confluent Schema Registry over its
    REST API (subject = ``<topic>-value``). Pure stdlib HTTP.

    The registry enforces the subject's compatibility mode server-side
    (409 on violation). Only ``<topic>-value`` subjects are registered;
    the Kafka key is framed with the value's id (``avro_codec.encode_df``)."""
    import urllib.request

    ids = {}
    for schema in schemas:
        subject = f"{schema['name']}-value"
        body = json.dumps({"schema": json.dumps(schema)}).encode()
        req = urllib.request.Request(
            f"{registry_url}/subjects/{subject}/versions",
            data=body,
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            ids[subject] = json.load(resp)["id"]
    return ids
