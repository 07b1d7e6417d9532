"""Contract tests for the topic-admin path — the reference's
orchestration protocol (delete-if-exists → poll-until-gone → create →
verify; reference 01-infra DataPipeline.java:80-126) spoken on the wire
to the in-process broker — plus the Kafka source option contract and the
Schema Registry REST registration against a fake HTTP endpoint.
"""

from __future__ import annotations

import json

import pytest

from kafka_avro_pipeline_java_spark.sources import infra
from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_wire import KafkaWireClient


class _RecordingClient(KafkaWireClient):
    """KafkaWireClient that logs each admin call in order. A deleted
    topic stays listed for one more Metadata poll, as on a cluster where
    deletion propagates asynchronously, so the poll-until-gone loop must
    actually loop."""

    log: list = []

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self._lagging: list[str] = []

    def metadata(self, topics=None):
        brokers, now = super().metadata(topics)
        now = {**now, **{t: [0] for t in self._lagging}}
        self._lagging = []
        self.log.append(("metadata", frozenset(now)))
        return brokers, now

    def delete_topics(self, topics, **kw):
        self.log.append(("delete_topics", tuple(topics)))
        self._lagging = list(topics)
        return super().delete_topics(topics, **kw)

    def create_topics(self, topics, *, replication_factor=1, **kw):
        self.log.append(
            ("create_topics",
             tuple((t, n, replication_factor) for t, n in topics.items()))
        )
        return super().create_topics(
            topics, replication_factor=replication_factor, **kw)


def test_recreate_topics_protocol(monkeypatch):
    """Existing topic is deleted, polled until gone, then both topics are
    created with the requested partition/replication settings and their
    existence verified — the reference's exact sequencing."""
    monkeypatch.setattr(_RecordingClient, "log", [])
    monkeypatch.setattr(infra, "KafkaWireClient", _RecordingClient)
    with FakeKafkaBroker({"orders_avro": 1, "unrelated_topic": 1}) as b:
        infra.recreate_topics(
            b.bootstrap,
            ["orders_avro", "customers_avro"],
            partitions=3,
            replication_factor=3,
            poll_interval_s=0.001,
            timeout_s=1.0,
        )
        with KafkaWireClient(b.bootstrap) as c:
            _, topics = c.metadata(None)
    log = _RecordingClient.log
    ops = [op for op, _ in log]

    # only the EXISTING topic is deleted (customers_avro isn't)
    deletes = [args for op, args in log if op == "delete_topics"]
    assert deletes == [("orders_avro",)]
    # delete happens before create; polls in between until it is gone
    i_del, i_create = ops.index("delete_topics"), ops.index("create_topics")
    polls = [seen for op, seen in log[i_del:i_create] if op == "metadata"]
    assert len(polls) >= 2
    assert "orders_avro" in polls[0] and "orders_avro" not in polls[-1]
    # both topics created with the requested settings
    creates = [args for op, args in log if op == "create_topics"]
    assert len(creates) == 1
    assert sorted(creates[0]) == [("customers_avro", 3, 3), ("orders_avro", 3, 3)]
    # verified after create: one more Metadata round-trip sees both
    assert ops[i_create + 1:] == ["metadata"]
    assert {"orders_avro", "customers_avro"} <= log[-1][1]
    assert topics["orders_avro"] == topics["customers_avro"] == [0, 1, 2]
    assert topics["unrelated_topic"] == [0]


def test_kafka_source_subscribe_contract():
    """Ops #16-17 (discovery side): subscribe mode carries the topic list,
    cold-start offsets, bounded admission, and the reference's
    group-per-topic naming (AvroConsumer.java:50,66,116-138)."""
    from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
        kafka_source_options,
    )

    opts = kafka_source_options(
        "b1:9092,b2:9092",
        "orders_avro",
        max_offsets_per_trigger=500,
        group_id="group-orders_avro",
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "orders_avro",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "500",
        "kafka.group.id": "group-orders_avro",
    }


def test_kafka_source_assign_contract():
    """Ops #16-17 (assignment side): explicit {topic: partitions} placement
    serializes to the connector's JSON assign format (the reference's
    consumer.assign path, Main.java:28-64), deterministically ordered; and
    subscribe/assign are mutually exclusive."""
    from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
        kafka_source_options,
    )

    opts = kafka_source_options(
        "b:9092", assign={"orders_avro": [2, 0, 1], "customers_avro": [0]}
    )
    assert json.loads(opts["assign"]) == {
        "orders_avro": [0, 1, 2],
        "customers_avro": [0],
    }
    # deterministic serialization (topics sorted, partitions sorted)
    assert opts["assign"] == (
        '{"customers_avro": [0], "orders_avro": [0, 1, 2]}'
    )
    assert "subscribe" not in opts
    with pytest.raises(ValueError, match="exactly one"):
        kafka_source_options("b:9092", "t", assign={"t": [0]})
    with pytest.raises(ValueError, match="exactly one"):
        kafka_source_options("b:9092")


def test_register_schemas_rest_contract(monkeypatch):
    """Subjects are named <topic>-value, payload wraps the schema as a JSON
    string, and returned ids are mapped back (Confluent REST protocol)."""
    calls = []

    class _Resp:
        def __init__(self, body):
            self._body = body

        def read(self):
            return self._body

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_urlopen(req, timeout=None):
        body = json.loads(req.data)
        calls.append((req.full_url, body, dict(req.headers)))
        return _Resp(json.dumps({"id": 100 + len(calls)}).encode())

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    schemas = [
        {"type": "record", "name": "orders_avro", "fields": []},
        {"type": "record", "name": "customers_avro", "fields": []},
    ]
    ids = infra.register_schemas("http://registry:8081", schemas)
    assert ids == {"orders_avro-value": 101, "customers_avro-value": 102}
    assert calls[0][0] == "http://registry:8081/subjects/orders_avro-value/versions"
    # schema is embedded as a JSON STRING (registry protocol), not an object
    assert json.loads(calls[0][1]["schema"])["name"] == "orders_avro"


# ---------------------------------------------------------------------------
# Avro schema compatibility (the Schema Registry gate the reference
# delegates to — AvroProducer.java:50 / AvroConsumer.java:69)
# ---------------------------------------------------------------------------
def _rec(name, *fields):
    return {"type": "record", "name": name, "fields": list(fields)}


def _f(name, type_, **kw):
    d = {"name": name, "type": type_}
    d.update(kw)
    return d


def test_can_read_identity_and_ignored_writer_fields():
    from kafka_avro_pipeline_java_spark.sources.schema_compat import can_read

    v1 = _rec("d1", _f("k", "string"), _f("v", "long"))
    assert can_read(v1, v1) == []
    # writer has an extra field: reader skips it — compatible
    v2 = _rec("d1", _f("k", "string"), _f("v", "long"), _f("extra", "int"))
    assert can_read(v1, v2) == []


def test_added_reader_field_needs_default():
    from kafka_avro_pipeline_java_spark.sources.schema_compat import can_read

    v1 = _rec("d1", _f("k", "string"))
    with_default = _rec("d1", _f("k", "string"), _f("n", "long", default=0))
    without = _rec("d1", _f("k", "string"), _f("n", "long"))
    assert can_read(with_default, v1) == []
    probs = can_read(without, v1)
    assert len(probs) == 1 and "no default" in probs[0]


def test_numeric_promotions_and_union_nullability():
    from kafka_avro_pipeline_java_spark.sources.schema_compat import can_read

    # int→long/double are readable; the reverse is not
    assert can_read(_rec("r", _f("x", "long")), _rec("r", _f("x", "int"))) == []
    assert can_read(_rec("r", _f("x", "double")), _rec("r", _f("x", "int"))) == []
    assert can_read(_rec("r", _f("x", "int")), _rec("r", _f("x", "long"))) != []
    # widening to nullable is readable; narrowing from nullable is not
    assert can_read(
        _rec("r", _f("x", ["null", "long"])), _rec("r", _f("x", "long"))
    ) == []
    assert can_read(
        _rec("r", _f("x", "long")), _rec("r", _f("x", ["null", "long"]))
    ) != []
    # string↔bytes both ways per spec
    assert can_read(_rec("r", _f("x", "bytes")), _rec("r", _f("x", "string"))) == []
    assert can_read(_rec("r", _f("x", "string")), _rec("r", _f("x", "bytes"))) == []


def test_compat_modes_direction_and_transitivity():
    from kafka_avro_pipeline_java_spark.sources.schema_compat import (
        check_compatibility,
    )

    v1 = _rec("d1", _f("k", "string"))
    v2 = _rec("d1", _f("k", "string"), _f("n", "long", default=0))
    # dropping a defaulted field: BACKWARD-ok (new reader reads old data;
    # old data has no n anyway)... but FORWARD against v2 requires v2
    # reading v3 data: n has a default in v2 → also ok. Removing the
    # DEFAULT-less k breaks both.
    v3_drop_n = _rec("d1", _f("k", "string"))
    assert check_compatibility(v2, [v1], "BACKWARD") == []
    assert check_compatibility(v3_drop_n, [v1, v2], "FULL") == []
    bad = _rec("d1", _f("renamed_key", "string"))
    assert check_compatibility(bad, [v1], "BACKWARD") != []
    # transitive catches what latest-only misses: v_new is compatible
    # with v2 (n defaulted there) in FORWARD only via the default; against
    # v1 BACKWARD_TRANSITIVE still passes, but a new schema adding a
    # default-less field fails BACKWARD against every version
    no_default = _rec("d1", _f("k", "string"), _f("m", "long"))
    assert check_compatibility(no_default, [v1, v2], "BACKWARD") != []
    assert check_compatibility(no_default, [v1, v2], "NONE") == []


def test_reference_schema_evolution_scenario():
    # the engine's own DSL schemas (schema_before.json shape): verify the
    # realistic evolution path a dataset1 topic would take
    from kafka_avro_pipeline_java_spark.sources.schema_compat import (
        check_compatibility,
    )
    from kafka_avro_pipeline_java_spark.sources.schema_dsl import dsl_to_avro

    v1 = dsl_to_avro(
        [{"name": "dataset1", "fields": {"key_field1": "string",
                                         "value_field1": "double"}}]
    )[0]
    v2 = dsl_to_avro(
        [{"name": "dataset1", "fields": {"key_field1": "string",
                                         "value_field1": "double",
                                         "ts_field1": "long"}}]
    )[0]
    # raw DSL translation has no defaults → BACKWARD rejects (consumers
    # on v2 could not read v1 history) — the exact 409 the registry throws
    assert check_compatibility(v2, [v1], "BACKWARD") != []
    # defaulting the added field is the documented fix
    v2_fixed = dict(v2)
    v2_fixed["fields"] = [
        dict(f, default=0) if f["name"] == "ts_field1" else f
        for f in v2["fields"]
    ]
    assert check_compatibility(v2_fixed, [v1], "FULL") == []
