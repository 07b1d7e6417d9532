"""Round-6 wire-protocol surface (VERDICT r05 items 4/5/7): magic-2
record batches (zigzag varints + CRC32C) with the ApiVersions check,
CreateTopics/DeleteTopics over the wire, and leader routing across a
multi-listener broker — every test exchanges real protocol bytes over
real TCP sockets, both directions.
"""

from __future__ import annotations

import contextlib
import socket
import struct
import threading

import pytest

from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_wire import (
    API_FETCH,
    API_PRODUCE,
    API_VERSIONS,
    SUPPORTED_APIS,
    KafkaCodecError,
    EARLIEST,
    ERR_NONE,
    ERR_NOT_LEADER_FOR_PARTITION,
    ERR_TOPIC_ALREADY_EXISTS,
    ERR_UNKNOWN_TOPIC_OR_PARTITION,
    ERR_UNSUPPORTED_VERSION,
    KafkaClusterClient,
    KafkaProtocolError,
    KafkaWireClient,
    crc32c,
    decode_record_batches,
    decode_varint,
    decode_request,
    decode_response,
    encode_record_batch,
    encode_request,
    encode_varint,
    read_frame,
)


@pytest.fixture()
def broker():
    with FakeKafkaBroker({"orders_avro": 3}) as b:
        yield b


@pytest.fixture()
def cluster():
    with FakeKafkaBroker({"orders_avro": 4}, listeners=2) as b:
        yield b


# ---------------------------------------------------------------------------
# codec: varints, CRC32C, record batches
# ---------------------------------------------------------------------------


def test_varint_zigzag_round_trip():
    for v in [0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31),
              2**62, -(2**62)]:
        buf = encode_varint(v)
        got, pos = decode_varint(buf, 0)
        assert got == v
        assert pos == len(buf)
    # -1 is the null marker: single byte 0x01 under zigzag
    assert encode_varint(-1) == b"\x01"


def test_crc32c_known_vectors():
    # published CRC32C check values (the Castagnoli polynomial, as used
    # by iSCSI and Kafka's magic-2 batches)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_record_batch_round_trip_nulls_and_offsets():
    recs = [(b"k1", b"v1", 1000), (None, b"v2", 2000), (b"k3", None, 3000)]
    buf = encode_record_batch(recs, base_offset=7)
    out = decode_record_batches(buf)
    assert [(r.offset, r.timestamp, r.key, r.value) for r in out] == [
        (7, 1000, b"k1", b"v1"),
        (8, 2000, None, b"v2"),
        (9, 3000, b"k3", None),
    ]


def test_crc32c_lane_kernel_matches_table_loop():
    """Buffers of 8 KiB and up take the numpy lane kernel; chaining the
    CRC over 4 KiB chunks keeps every call on the byte-table loop, so the
    two must agree bit for bit, from any seed CRC."""
    import random

    from kafka_avro_pipeline_java_spark.streaming import kafka_wire as kw

    def table_loop(data, crc):
        for i in range(0, len(data), 4096):
            crc = crc32c(data[i: i + 4096], crc)
        return crc

    threshold = kw._CRC_LANE_BYTES * kw._CRC_MIN_LANES
    assert threshold > 4096
    rng = random.Random(7)
    for n in (0, 1, threshold - 1, threshold, threshold + 1,
              threshold + kw._CRC_LANE_BYTES + 3, 100_003, (1 << 20) + 7):
        data = rng.randbytes(n)
        for seed in (0, 1, 0xE3069283, rng.getrandbits(32)):
            assert crc32c(data, seed) == table_loop(data, seed), (n, seed)
    # a power-of-two lane count and one just past it fold the same way
    for lanes in (64, 65):
        data = rng.randbytes(lanes * kw._CRC_LANE_BYTES)
        assert crc32c(data, 5) == table_loop(data, 5)


def test_record_batch_crc32c_tamper_detected():
    buf = bytearray(encode_record_batch([(b"k", b"v", 1)]))
    buf[-1] ^= 0xFF  # flip a bit inside the CRC-covered record data
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(buf))
    # a batch big enough for the lane kernel: flips in a lane and in the
    # tail after the last whole lane are both caught
    big = encode_record_batch(
        [(b"k%d" % i, bytes([i % 251]) * 200, i) for i in range(500)])
    assert len(big) > 64 * 1024
    assert len(decode_record_batches(big)) == 500
    for pos in (len(big) // 2, len(big) - 1):
        tampered = bytearray(big)
        tampered[pos] ^= 0x01
        with pytest.raises(ValueError, match="CRC32C"):
            decode_record_batches(bytes(tampered))


def test_record_batch_partial_trailing_batch_dropped():
    b1 = encode_record_batch([(b"a", b"1", 1), (b"b", b"2", 2)], base_offset=0)
    b2 = encode_record_batch([(b"c", b"3", 3)], base_offset=2)
    out = decode_record_batches(b1 + b2[:-4])  # cut mid-batch, like max_bytes
    assert [r.offset for r in out] == [0, 1]


# ---------------------------------------------------------------------------
# golden bytes: each frame assembled here with struct.pack from the
# protocol guide (kafka.apache.org/protocol), independently of the layout
# table, and checked against both ends — the client over a socket that
# replays canned responses, and the in-process broker
# ---------------------------------------------------------------------------


def _string(text: str) -> bytes:
    data = text.encode("utf-8")
    return struct.pack(">h", len(data)) + data


def _frame(*parts: bytes) -> bytes:
    payload = b"".join(parts)
    return struct.pack(">i", len(payload)) + payload


def _request_header(api_key: int, version: int, corr: int,
                    client_id: str | None = None) -> bytes:
    return (struct.pack(">hhi", api_key, version, corr)
            + (_string(client_id) if client_id else struct.pack(">h", -1)))


_RECORDS = encode_record_batch([(b"k", b"v", 9)])  # its codec tested above


def _api_versions_exchange() -> tuple[bytes, bytes]:
    """ApiVersions v0: empty request body; response error_code INT16,
    api_keys [api_key INT16, min_version INT16, max_version INT16]."""
    versions = [(0, 3), (1, 4), (2, 1), (3, 0), (18, 0), (19, 0), (20, 0)]
    return (
        _frame(_request_header(18, 0, 1, "c1")),
        _frame(struct.pack(">ihi", 1, 0, len(versions)),
               *(struct.pack(">hhh", k, v, v) for k, v in versions)),
    )


@contextlib.contextmanager
def _replay(exchanges: list[tuple[bytes, bytes]]):
    """A one-connection server that answers the i-th request frame with
    the i-th canned response; → (bootstrap, request frames received)."""
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(10)
    got: list[bytes] = []

    def serve() -> None:
        conn, _ = srv.accept()
        with conn:
            conn.settimeout(10)
            for _, response in exchanges:
                got.append(_frame(read_frame(conn)))
                conn.sendall(response)

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        yield "127.0.0.1:%d" % srv.getsockname()[1], got
    finally:
        t.join(timeout=10)
        srv.close()
    assert not t.is_alive()
    assert got == [request for request, _ in exchanges]


def test_golden_api_versions_v0(broker):
    request, response = _api_versions_exchange()
    with _replay([(request, response)]) as (bootstrap, _):
        with KafkaWireClient(bootstrap, client_id="c1") as c:
            assert c.api_versions() == {
                0: (3, 3), 1: (4, 4), 2: (1, 1), 3: (0, 0), 18: (0, 0),
                19: (0, 0), 20: (0, 0)}
    assert broker._respond(request[4:], 0) == response


def test_golden_fetch_v4(broker):
    """Fetch v4 request: replica_id INT32, max_wait_ms INT32, min_bytes
    INT32, max_bytes INT32, isolation_level INT8, topics [topic STRING,
    partitions [partition INT32, fetch_offset INT64, partition_max_bytes
    INT32]]. Response: throttle_time_ms INT32, responses [topic STRING,
    partitions [partition_index INT32, error_code INT16, high_watermark
    INT64, last_stable_offset INT64, aborted_transactions [producer_id
    INT64, first_offset INT64], records BYTES]]."""
    request = _frame(
        _request_header(1, 4, 2, "c1"),
        struct.pack(">iiiib", -1, 100, 1, 1 << 20, 0),
        struct.pack(">i", 1), _string("orders_avro"),
        struct.pack(">iiqi", 1, 2, 0, 1 << 20),
    )
    response = _frame(
        struct.pack(">iii", 2, 0, 1), _string("orders_avro"),
        struct.pack(">iihqqi", 1, 2, 0, 1, 1, 0),
        struct.pack(">i", len(_RECORDS)), _RECORDS,
    )
    with _replay([_api_versions_exchange(), (request, response)]) as (b, _):
        with KafkaWireClient(b, client_id="c1") as c:
            hw, records = c.fetch("orders_avro", 2, 0)
    assert hw == 1
    assert [(r.offset, r.key, r.value, r.timestamp) for r in records] == [
        (0, b"k", b"v", 9)]
    broker.append("orders_avro", 2, [(b"k", b"v", 9)])
    assert broker._respond(request[4:], 0) == response


def test_golden_produce_v3(broker):
    """Produce v3 request: transactional_id NULLABLE_STRING, acks INT16,
    timeout_ms INT32, topic_data [name STRING, partition_data [index
    INT32, records BYTES]]. Response: responses [name STRING,
    partition_responses [index INT32, error_code INT16, base_offset
    INT64, log_append_time_ms INT64]], throttle_time_ms INT32."""
    request = _frame(
        _request_header(0, 3, 2, "c1"),
        struct.pack(">hhi", -1, -1, 10_000),
        struct.pack(">i", 1), _string("orders_avro"),
        struct.pack(">iii", 1, 1, len(_RECORDS)), _RECORDS,
    )
    response = _frame(
        struct.pack(">ii", 2, 1), _string("orders_avro"),
        struct.pack(">iihqqi", 1, 1, 0, 0, -1, 0),
    )
    with _replay([_api_versions_exchange(), (request, response)]) as (b, _):
        with KafkaWireClient(b, client_id="c1") as c:
            assert c.produce("orders_avro", 1, [(b"k", b"v", 9)]) == 0
    assert broker._respond(request[4:], 0) == response
    assert broker.records("orders_avro", 1) == [(b"k", b"v", 9)]


def _list_offsets_exchange() -> tuple[bytes, bytes]:
    """ListOffsets v1 request: replica_id INT32, topics [name STRING,
    partitions [partition_index INT32, timestamp INT64]]. Response:
    topics [name STRING, partitions [partition_index INT32, error_code
    INT16, timestamp INT64, offset INT64]]."""
    return (
        _frame(_request_header(2, 1, 1, "c1"),
               struct.pack(">ii", -1, 1), _string("orders_avro"),
               struct.pack(">iiq", 1, 0, EARLIEST)),
        _frame(struct.pack(">ii", 1, 1), _string("orders_avro"),
               struct.pack(">iihqq", 1, 0, 0, -1, 0)),
    )


def test_golden_list_offsets_v1(broker):
    request, response = _list_offsets_exchange()
    with _replay([(request, response)]) as (bootstrap, _):
        with KafkaWireClient(bootstrap, client_id="c1") as c:
            assert c.list_offsets("orders_avro", 0, EARLIEST) == 0
    assert broker._respond(request[4:], 0) == response


def test_golden_metadata_v0():
    """Metadata v0 request: topics [name STRING]. Response: brokers
    [node_id INT32, host STRING, port INT32], topics [error_code INT16,
    name STRING, partitions [error_code INT16, partition_index INT32,
    leader_id INT32, replica_nodes [INT32], isr_nodes [INT32]]]."""
    with FakeKafkaBroker({"t": 2}, listeners=2) as b:
        request = _frame(_request_header(3, 0, 1, "c1"),
                         struct.pack(">i", 1), _string("t"))
        response = _frame(
            struct.pack(">ii", 1, 2),
            *(struct.pack(">i", node) + _string(host) + struct.pack(">i", port)
              for node, (host, port) in enumerate(b.addresses)),
            struct.pack(">ih", 1, 0), _string("t"), struct.pack(">i", 2),
            *(struct.pack(">hiiiiii", 0, p, p, 1, p, 1, p) for p in (0, 1)),
        )
        assert b._respond(request[4:], 0) == response
    with _replay([(request, response)]) as (bootstrap, _):
        with KafkaWireClient(bootstrap, client_id="c1") as c:
            brokers, leaders = c.metadata_leaders(["t"])
    assert brokers == dict(enumerate(b.addresses))
    assert leaders == {"t": {0: 0, 1: 1}}


def test_request_frames_round_trip_through_the_table():
    """The frame functions read back what they write, header included."""
    header = (API_FETCH, 4, 9, None)
    body = (-1, 5, 1, 64, 0, [("a", [(0, 3, 64), (2, 7, 64)]), ("b", [])])
    frame = encode_request(header, body)
    assert decode_request(frame[4:]) == (header, body)
    # an api version the table has no layout for: the header only
    assert decode_request(_request_header(API_FETCH, 2, 1)) == (
        (API_FETCH, 2, 1, None), None)


def test_short_or_trailing_frame_raises_on_both_ends(broker):
    """At these non-flexible versions every layout is exact: a frame
    that ends early or has bytes left over means the two ends disagree,
    so neither end reads it. The broker closes the connection."""
    request, response = _list_offsets_exchange()
    for bad in (request[4:] + b"\x00", request[4:-1]):
        with pytest.raises(ValueError, match="left over|ends inside"):
            broker._respond(bad, 0)
    with socket.create_connection((broker.host, broker.port)) as s:
        s.sendall(_frame(request[4:] + b"\x00"))
        with pytest.raises(ConnectionError):
            read_frame(s)
    for bad in (_frame(response[4:] + b"\x00"), _frame(response[4:-1])):
        with _replay([(request, bad)]) as (bootstrap, _):
            with KafkaWireClient(bootstrap, client_id="c1") as c:
                with pytest.raises(ValueError, match="left over|ends inside"):
                    c.list_offsets("orders_avro", 0, EARLIEST)


# ---------------------------------------------------------------------------
# version check: Produce v3 / Fetch v4 (magic-2 batches) or refusal
# ---------------------------------------------------------------------------


def test_negotiated_produce_fetch_use_v2_batches(broker):
    with KafkaWireClient(broker.bootstrap) as c:
        assert c._version_for(API_PRODUCE) == 3
        assert c._version_for(API_FETCH) == 4
        base = c.produce("orders_avro", 0, [(b"k", b"v", 9)])
        assert base == 0
        hw, recs = c.fetch("orders_avro", 0, 0)
        assert hw == 1
        assert [(r.key, r.value, r.timestamp) for r in recs] == [(b"k", b"v", 9)]


class _PreBatchBroker(FakeKafkaBroker):
    """Advertises Produce only up to v2 and Fetch only up to v3, the
    versions before magic-2 record batches."""

    def _api_versions(self, *_):
        caps = {API_PRODUCE: (0, 2), API_FETCH: (0, 3)}
        return ERR_NONE, [(k, *caps.get(k, (lo, hi)))
                          for k, lo, hi in SUPPORTED_APIS]


def test_broker_below_produce_v3_or_fetch_v4_is_refused():
    """A broker that caps Produce below v3 or Fetch below v4 cannot carry
    magic-2 record batches: the client refuses it with the named
    ApiVersions error instead of speaking an older format, and sends
    nothing. The broker in turn refuses any request version other than
    the one it advertises."""
    with _PreBatchBroker({"t": 1}) as b, KafkaWireClient(b.bootstrap) as c:
        with pytest.raises(RuntimeError,
                           match="no common version for api_key 0"):
            c.produce("t", 0, [(b"k", b"v", 1)])
        with pytest.raises(RuntimeError,
                           match="no common version for api_key 1"):
            c.fetch("t", 0, 0)
        assert b.records("t", 0) == []
    with FakeKafkaBroker({"t": 1}) as b:
        frame = _request_header(API_FETCH, 2, 1)
        with pytest.raises(ValueError, match="unsupported version 2"):
            b._respond(frame, 0)


def test_unadvertised_api_versions_request_gets_unsupported_version(broker):
    """An ApiVersions request of a version the broker does not speak gets
    error 35 (UNSUPPORTED_VERSION) with the v0 body listing what it does
    speak, as a real broker answers it."""
    with socket.create_connection((broker.host, broker.port)) as s:
        s.sendall(_frame(_request_header(API_VERSIONS, 3, 1)))
        corr, (err, rows) = decode_response(API_VERSIONS, read_frame(s))
    assert corr == 1
    assert err == ERR_UNSUPPORTED_VERSION
    assert rows == SUPPORTED_APIS


def test_refused_request_closes_connection_quietly(broker, capfd):
    """Any other refused request (here Fetch v2) closes the connection;
    the broker prints no traceback."""
    with socket.create_connection((broker.host, broker.port)) as s:
        s.sendall(_frame(_request_header(API_FETCH, 2, 1)))
        with pytest.raises(ConnectionError):
            read_frame(s)
    assert capfd.readouterr().err == ""


def test_fetch_max_bytes_exact_for_both_formats(broker):
    """ADVICE r05: the record set the broker returns must itself fit in
    max_bytes. Verified by re-encoding each returned record batch and
    checking its size."""
    rows = [(b"k%02d" % i, b"x" * 100, i) for i in range(50)]
    broker.append("orders_avro", 0, rows)
    max_bytes = 500
    with KafkaWireClient(broker.bootstrap) as c:
        got, offset = [], 0
        while offset < 50:
            _, batch = c.fetch("orders_avro", 0, offset, max_bytes=max_bytes)
            assert batch, "progress stalled"
            wire = encode_record_batch(
                [(r.key, r.value, r.timestamp) for r in batch],
                base_offset=offset)
            assert len(wire) <= max_bytes
            got.extend(batch)
            offset = batch[-1].offset + 1
        assert [r.key for r in got] == [k for k, _, _ in rows]


# ---------------------------------------------------------------------------
# admin: CreateTopics / DeleteTopics over the wire (op #4's protocol legs)
# ---------------------------------------------------------------------------


def test_create_produce_delete_topic_over_the_wire(broker):
    with KafkaWireClient(broker.bootstrap) as c:
        assert c.create_topics({"events_avro": 2}) == {"events_avro": ERR_NONE}
        _, topics = c.metadata(["events_avro"])
        assert topics == {"events_avro": [0, 1]}
        c.produce("events_avro", 1, [(b"e", b"1", 4)])
        _, recs = c.fetch("events_avro", 1, 0)
        assert [r.value for r in recs] == [b"1"]
        # duplicate create -> TOPIC_ALREADY_EXISTS, log untouched
        assert c.create_topics({"events_avro": 2}) == {
            "events_avro": ERR_TOPIC_ALREADY_EXISTS
        }
        assert c.list_offsets("events_avro", 1, EARLIEST) == 0
        assert c.delete_topics(["events_avro"]) == {"events_avro": ERR_NONE}
        with pytest.raises(KeyError):
            c.metadata(["events_avro"])
        assert c.delete_topics(["events_avro"]) == {
            "events_avro": ERR_UNKNOWN_TOPIC_OR_PARTITION
        }


def test_recreate_resets_offsets(broker):
    """The reference's delete->create cycle (DataPipeline.java:80-126)
    must leave a fresh, empty log."""
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topics({"tmp_avro": 1})
        c.produce("tmp_avro", 0, [(b"a", b"1", 1)])
        c.delete_topics(["tmp_avro"])
        c.create_topics({"tmp_avro": 1})
        assert c.list_offsets("tmp_avro", 0, EARLIEST) == 0
        hw, recs = c.fetch("tmp_avro", 0, 0)
        assert hw == 0 and recs == []


# ---------------------------------------------------------------------------
# leader routing across listeners (missing-item 2 at contract level)
# ---------------------------------------------------------------------------


def test_follower_rejects_data_requests(cluster):
    # partition 1's leader is node 1; the bootstrap socket is node 0
    with KafkaWireClient(cluster.bootstrap) as c:
        with pytest.raises(KafkaProtocolError) as ei:
            c.fetch("orders_avro", 1, 0)
        assert ei.value.code == ERR_NOT_LEADER_FOR_PARTITION
        with pytest.raises(KafkaProtocolError) as ei:
            c.produce("orders_avro", 1, [(b"k", b"v", 1)])
        assert ei.value.code == ERR_NOT_LEADER_FOR_PARTITION


def test_cluster_client_routes_to_leaders(cluster):
    with KafkaClusterClient(cluster.bootstrap) as c:
        for pid in range(4):
            c.produce("orders_avro", pid, [(b"k%d" % pid, b"v", pid)])
        for pid in range(4):
            assert c.list_offsets("orders_avro", pid, EARLIEST) == 0
            _, recs = c.fetch("orders_avro", pid, 0)
            assert [r.key for r in recs] == [b"k%d" % pid]
    # every data-path request landed on the partition's leader listener
    for node, served in cluster.served.items():
        for _, _, pid in served:
            assert pid % 2 == node
    produced = {pid for n in cluster.served.values()
                for api, _, pid in n if api == API_PRODUCE}
    assert produced == {0, 1, 2, 3}


def test_cluster_client_survives_leader_move(cluster):
    with KafkaClusterClient(cluster.bootstrap) as c:
        c.produce("orders_avro", 0, [(b"k", b"v", 1)])
        # simulate a leader election: every leader moves one listener over
        cluster.leader_shift = 1
        # the cached route now hits a follower; the client must refresh
        # metadata once and retry at the new leader
        hw, recs = c.fetch("orders_avro", 0, 0)
        assert hw == 1
        assert [r.value for r in recs] == [b"v"]
        base = c.produce("orders_avro", 0, [(b"k2", b"v2", 2)])
        assert base == 1


# ---------------------------------------------------------------------------
# op #4 executed: recreate_topics over the wire
# ---------------------------------------------------------------------------


def test_recreate_topics_wire_end_to_end(broker):
    """Reference DataPipeline.java:80-126 delete->poll->create->verify,
    executed against the in-process broker over real TCP through the
    wire-protocol admin requests."""
    from kafka_avro_pipeline_java_spark.sources import infra

    # seed one of the topics with data so the delete leg is observable
    with KafkaWireClient(broker.bootstrap) as c:
        c.produce("orders_avro", 0, [(b"old", b"x", 1)])
    infra.recreate_topics(
        broker.bootstrap, ["orders_avro", "accounts_avro"],
        partitions=2, poll_interval_s=0.01, timeout_s=5.0,
    )
    with KafkaWireClient(broker.bootstrap) as c:
        _, topics = c.metadata(None)
        assert topics["orders_avro"] == [0, 1]      # recreated, 2 partitions
        assert topics["accounts_avro"] == [0, 1]    # created fresh
        assert c.list_offsets("orders_avro", 0, EARLIEST) == 0
        hw, recs = c.fetch("orders_avro", 0, 0)
        assert hw == 0 and recs == []               # old data gone


def test_partition_count_wire_fallback(broker):
    """Op #10: producer-side partitionsFor(topic).size() parity
    (AvroProducer.java:82) via one Metadata round-trip; an unknown topic
    raises a KeyError that names it."""
    from kafka_avro_pipeline_java_spark.sources import infra

    assert infra.partition_count(broker.bootstrap, "orders_avro") == 3
    with pytest.raises(KeyError, match="nope_avro"):
        infra.partition_count(broker.bootstrap, "nope_avro")


def test_datasource_load_routes_across_two_listeners(spark, cluster):
    """The executed .load() path against a TWO-listener broker: the
    per-partition readers must route each fetch to the partition's
    leader (follower listeners bounce data requests), so this only
    passes if KafkaClusterClient routing works inside Spark workers."""
    from kafka_avro_pipeline_java_spark.sources.kafka_pyds import KafkaPyDataSource

    for pid in range(4):
        cluster.append("orders_avro", pid, [(b"k%d" % pid, b"v%d" % pid, pid)])
    try:
        spark.dataSource.register(KafkaPyDataSource)
    except Exception:
        pass  # per-session singleton
    df = (
        spark.read.format("kafka_py")
        .option("bootstrap", cluster.bootstrap)
        .option("topic", "orders_avro")
        .load()
    )
    rows = sorted((r.partition, bytes(r.value)) for r in df.collect())
    assert rows == [(0, b"v0"), (1, b"v1"), (2, b"v2"), (3, b"v3")]


# ---------------------------------------------------------------------------
# compression (gzip stdlib; snappy/lz4/zstd gated on third-party packages)
# ---------------------------------------------------------------------------


def test_gzip_batch_codec_round_trip():
    recs = [(b"k%d" % i, b"payload-%d" % i * 20, 1_000 + i) for i in range(50)]
    wire = encode_record_batch(recs, base_offset=7, codec="gzip")
    # smaller on the wire than the uncompressed encoding of the same data
    assert len(wire) < len(encode_record_batch(recs, base_offset=7))
    got = decode_record_batches(wire)
    assert [(r.key, r.value, r.timestamp) for r in got] == recs
    assert [r.offset for r in got] == list(range(7, 57))


def test_gzip_batch_crc_covers_compressed_bytes():
    wire = bytearray(encode_record_batch([(b"k", b"v", 1)], codec="gzip"))
    wire[-1] ^= 0xFF  # corrupt inside the compressed section
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(wire))


def test_unavailable_codec_raises_named_error():
    # the sandbox ships no snappy/lz4/zstd packages; both directions must
    # fail with the codec named, never a silent misparse
    for codec, pkg in [("snappy", "python-snappy"), ("lz4", "lz4"),
                       ("zstd", "zstandard")]:
        try:
            __import__({"snappy": "snappy", "lz4": "lz4.frame",
                        "zstd": "zstandard"}[codec])
        except ImportError:
            with pytest.raises(KafkaCodecError, match=pkg):
                encode_record_batch([(b"k", b"v", 1)], codec=codec)


def test_produce_gzip_fetch_round_trip_over_tcp(broker):
    c = KafkaWireClient(broker.bootstrap)
    recs = [(b"key-%d" % i, b"value-%d" % i * 10, 5_000 + i)
            for i in range(40)]
    base = c.produce("orders_avro", 1, recs, compression="gzip")
    assert base == 0
    hw, got = c.fetch("orders_avro", 1, 0)
    assert hw == 40
    assert [(r.key, r.value, r.timestamp) for r in got] == recs
    c.close()


def test_fetch_gzip_compressed_batches_from_broker():
    # broker serves gzip batches (as a real broker does when the producer
    # compressed them); client decompresses transparently
    with FakeKafkaBroker({"t": 1}, fetch_codec="gzip") as b:
        b.append("t", 0, [(b"k%d" % i, b"v%d" % i * 50, 9_000 + i)
                          for i in range(30)])
        c = KafkaWireClient(b.bootstrap)
        hw, got = c.fetch("t", 0, 0)
        assert hw == 30
        assert [(r.key, r.value) for r in got] == [
            (b"k%d" % i, b"v%d" % i * 50) for i in range(30)
        ]
        c.close()


def test_fetch_gzip_honors_max_bytes_on_encoded_size():
    with FakeKafkaBroker({"t": 1}, fetch_codec="gzip") as b:
        import os
        b.append("t", 0, [(b"k%d" % i, os.urandom(400), 1_000 + i)
                          for i in range(20)])
        c = KafkaWireClient(b.bootstrap)
        collected, offset = [], 0
        while True:
            hw, got = c.fetch("t", 0, offset, max_bytes=900)
            if not got:
                break
            # incompressible payloads: the encoded set must still honor
            # max_bytes (the broker re-checks AFTER compression), while
            # always making progress
            assert len(got) >= 1
            collected.extend(got)
            offset = got[-1].offset + 1
            if offset >= hw:
                break
        assert [r.key for r in collected] == [b"k%d" % i for i in range(20)]
        c.close()


def test_leader_migration_mid_stream_no_dup_no_loss():
    """Reference deployment is 3 brokers / RF=3 (docker-compose.yml:29-82);
    the public-protocol failover behavior is NOT_LEADER_FOR_PARTITION on
    the stale route followed by a metadata refresh. Three listeners stand
    in for the 3 brokers; leadership of EVERY partition migrates twice
    MID-STREAM (between produce/consume rounds, stale routes cached), and
    the consumer's offset-tracked poll loop must deliver each partition's
    records exactly once — no duplicate, no gap, no reordering — while
    post-refresh data requests land on the NEW leader only."""
    with FakeKafkaBroker({"orders_avro": 3}, listeners=3) as cluster:
        with KafkaClusterClient(cluster.bootstrap) as c:
            next_offset = {pid: 0 for pid in range(3)}
            consumed: dict[int, list[bytes]] = {pid: [] for pid in range(3)}
            produced: dict[int, list[bytes]] = {pid: [] for pid in range(3)}
            seq = 0
            for round_no, shift in enumerate((0, 1, 2)):
                cluster.leader_shift = shift  # leader election mid-stream
                for pid in range(3):
                    keys = [b"k%d" % (seq + i) for i in range(4)]
                    seq += 4
                    c.produce(
                        "orders_avro", pid,
                        [(k, b"v-" + k, 1000 + round_no) for k in keys],
                    )
                    produced[pid].extend(keys)
                for pid in range(3):  # drain with the tracked offset
                    while True:
                        hw, recs = c.fetch(
                            "orders_avro", pid, next_offset[pid]
                        )
                        if not recs:
                            assert hw == next_offset[pid]  # caught up
                            break
                        for r in recs:
                            assert r.offset == next_offset[pid]  # no gap
                            next_offset[pid] += 1
                            consumed[pid].append(r.key)
            assert consumed == produced  # exactly-once, in order
        # after the final refresh, every data request for a partition hit
        # the CURRENT leader listener of the shift active at that time —
        # the fake broker bounces follower-addressed data requests, so a
        # single successfully-served duplicate-free stream proves routing
        served_data = {
            node: [pid for api, _, pid in served
                   if api in (API_PRODUCE, API_FETCH)]
            for node, served in cluster.served.items()
        }
        assert sum(len(v) for v in served_data.values()) >= 3 * 3 * 2
