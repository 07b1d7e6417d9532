"""Contract tests for the topic-admin path — the reference's
orchestration protocol (delete-if-exists → poll-until-gone → create →
verify; reference 01-infra DataPipeline.java:80-126) spoken on the wire
to the in-process broker — plus the Schema Registry REST registration
against a fake HTTP endpoint.
"""

from __future__ import annotations

import json

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
