"""In-process Kafka broker for tests and local development.

Speaks the REAL wire format over TCP: it reads genuine client requests
and writes genuine responses through the message table and record-batch
codec of ``kafka_wire.py``, so its handlers hold only broker logic
(routing checks, log append, the ``max_bytes`` cut, topic DDL) and
return response tuples. It is backed by an in-memory append-only log
per (topic, partition). This is what lets the Python DataSource's
``.load()`` path EXECUTE in the sandbox: the reader in a Spark worker
process opens a socket to this broker and consumes protocol frames
exactly as it would against a real deployment.

What it serves:

- One version per API, the ones it advertises in ApiVersions (Produce v3
  and Fetch v4 carry magic-2 record batches, what a modern broker
  natively stores and serves). An ApiVersions request at another
  version gets UNSUPPORTED_VERSION with the v0 body; any other request
  at a version it does not advertise, or that does not match its
  layout exactly, closes the connection.
- CreateTopics/DeleteTopics v0, so the reference's delete→poll→create
  topic-DDL (DataPipeline.java:80-126) executes over the wire without
  an admin library.
- Multi-listener mode: ``listeners=N`` opens N TCP servers advertised as
  N broker nodes; partition p of every topic is led by node p % N, and
  data-path requests (Produce/Fetch/ListOffsets) arriving at a follower
  return NOT_LEADER_FOR_PARTITION — forcing clients to actually route,
  which is what the KafkaClusterClient tests assert.

Not a broker re-implementation: no replication, no consumer groups, no
log retention — one process, the seven API subsets the client supports,
and correct error codes for the unhappy paths the tests exercise
(UNKNOWN_TOPIC_OR_PARTITION, OFFSET_OUT_OF_RANGE, NOT_LEADER_FOR_PARTITION,
TOPIC_ALREADY_EXISTS, INVALID_PARTITIONS).
"""

from __future__ import annotations

import socketserver
import threading

from .kafka_wire import (
    API_CREATE_TOPICS,
    API_DELETE_TOPICS,
    API_FETCH,
    API_LIST_OFFSETS,
    API_METADATA,
    API_PRODUCE,
    API_VERSIONS,
    BATCH_HEADER_LEN,
    EARLIEST,
    ERR_INVALID_PARTITIONS,
    ERR_NONE,
    ERR_NOT_LEADER_FOR_PARTITION,
    ERR_OFFSET_OUT_OF_RANGE,
    ERR_TOPIC_ALREADY_EXISTS,
    ERR_UNKNOWN_TOPIC_OR_PARTITION,
    ERR_UNSUPPORTED_VERSION,
    SUPPORTED_APIS,
    KafkaFrameError,
    decode_record_batches,
    decode_request,
    encode_record_batch,
    encode_record_body,
    encode_response,
    encode_varint,
    read_frame,
)


class FakeKafkaBroker:
    """``with FakeKafkaBroker({"orders": 3}) as b: ... b.bootstrap`` —
    topics are declared up front with a partition count, or created over
    the wire via CreateTopics (the reference provisions topics through
    its 01-infra AdminClient step, DataPipeline.java:80-126)."""

    def __init__(self, topics: dict[str, int], *, host: str = "127.0.0.1",
                 listeners: int = 1, fetch_codec: str = "none") -> None:
        # fetch_codec compresses magic-2 fetch responses (a real 3.x broker
        # serves batches in whatever codec the producer used; this knob
        # lets tests exercise the client's decompression path end to end).
        self._fetch_codec = fetch_codec
        # log[(topic, partition)] = list[(key, value, timestamp_ms)]
        self._log: dict[tuple[str, int], list[tuple[bytes, bytes, int]]] = {}
        self._topics = dict(topics)
        for t, n in topics.items():
            for p in range(n):
                self._log[(t, p)] = []
        self._lock = threading.Lock()
        self._n_listeners = max(1, listeners)
        # data-path requests served per node, for routing assertions:
        # served[node_id] = [(api_key, topic, partition)]
        self.served: dict[int, list[tuple[int, str, int]]] = {
            i: [] for i in range(self._n_listeners)
        }
        broker = self
        self._servers: list[socketserver.ThreadingTCPServer] = []
        self._threads: list[threading.Thread] = []
        for node_id in range(self._n_listeners):
            class _Handler(socketserver.BaseRequestHandler):
                _node = node_id

                def handle(self) -> None:
                    try:
                        while True:
                            frame = read_frame(self.request)
                            self.request.sendall(
                                broker._respond(frame, self._node)
                            )
                    except (ConnectionError, OSError, KafkaFrameError):
                        # a closed socket, or a request the broker
                        # cannot read, which closes the connection
                        return

            srv = socketserver.ThreadingTCPServer((host, 0), _Handler)
            srv.daemon_threads = True
            self._servers.append(srv)
            self._threads.append(
                threading.Thread(target=srv.serve_forever, daemon=True)
            )
        self.addresses = [s.server_address for s in self._servers]
        self.host, self.port = self.addresses[0]
        self.bootstrap = f"{self.host}:{self.port}"
        self.node_id = 0
        self._handlers = {
            API_VERSIONS: self._api_versions,
            API_METADATA: self._metadata,
            API_LIST_OFFSETS: self._list_offsets,
            API_FETCH: self._fetch,
            API_PRODUCE: self._produce,
            API_CREATE_TOPICS: self._create_topics,
            API_DELETE_TOPICS: self._delete_topics,
        }

    def start(self) -> "FakeKafkaBroker":
        for t in self._threads:
            t.start()
        return self

    def stop(self) -> None:
        for s in self._servers:
            s.shutdown()
            s.server_close()

    def __enter__(self) -> "FakeKafkaBroker":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # tests can bump this to simulate a leader election: every partition's
    # leader moves to the next listener, so routed clients see
    # NOT_LEADER_FOR_PARTITION until they refresh metadata
    leader_shift = 0

    def _leader(self, partition: int) -> int:
        return (partition + self.leader_shift) % self._n_listeners

    # -- direct log access for test setup/assertions ----------------------

    def append(self, topic: str, partition: int,
               records: list[tuple[bytes, bytes, int]]) -> int:
        """Seed records without the protocol; → base offset."""
        with self._lock:
            log = self._log[(topic, partition)]
            base = len(log)
            log.extend(records)
            return base

    def records(self, topic: str, partition: int) -> list[tuple[bytes, bytes, int]]:
        with self._lock:
            return list(self._log[(topic, partition)])

    def topic_names(self) -> list[str]:
        with self._lock:
            return sorted(self._topics)

    # -- protocol ----------------------------------------------------------

    def _respond(self, frame: bytes, node_id: int) -> bytes:
        (api_key, version, corr, _), request = decode_request(frame)
        if request is not None:
            response = self._handlers[api_key](request, node_id)
        elif api_key == API_VERSIONS:
            # a real broker answers any ApiVersions version it does not
            # speak with UNSUPPORTED_VERSION and its v0 body, so the
            # client can pick a version from the list
            response = self._api_versions((), node_id, ERR_UNSUPPORTED_VERSION)
        else:
            raise KafkaFrameError(
                f"unsupported version {version} of api_key {api_key}")
        return encode_response(api_key, corr, response)

    def _api_versions(self, request: tuple, node: int,
                      error: int = ERR_NONE) -> tuple:
        return error, SUPPORTED_APIS

    def _metadata(self, request: tuple, node: int) -> tuple:
        (asked,) = request
        with self._lock:
            names = asked or sorted(self._topics)
            topics = dict(self._topics)

        def topic(name: str) -> tuple:
            if name not in topics:
                return ERR_UNKNOWN_TOPIC_OR_PARTITION, name, []
            return ERR_NONE, name, [
                # one replica, the leader, which is also the whole ISR
                (ERR_NONE, pid, self._leader(pid),
                 [self._leader(pid)], [self._leader(pid)])
                for pid in range(topics[name])
            ]

        brokers = [(i, h, p) for i, (h, p) in enumerate(self.addresses)]
        return brokers, [topic(name) for name in names]

    def _partitions(self, api_key: int, node: int, topics: list,
                    serve, unserved: tuple) -> list:
        """[(topic, [(partition, *args)])] → [(topic, [row])]: the data-path
        request loop. ``serve(topic, partition, *args)`` makes the row of a
        partition this node leads; any other partition gets
        ``(partition, error_code, *unserved)``."""
        out = []
        for name, parts in topics:
            rows = []
            for pid, *args in parts:
                if (name, pid) not in self._log:
                    rows.append(
                        (pid, ERR_UNKNOWN_TOPIC_OR_PARTITION, *unserved))
                elif self._leader(pid) != node:
                    rows.append((pid, ERR_NOT_LEADER_FOR_PARTITION, *unserved))
                else:
                    self.served[node].append((api_key, name, pid))
                    rows.append(serve(name, pid, *args))
            out.append((name, rows))
        return out

    def _list_offsets(self, request: tuple, node: int) -> tuple:
        _, topics = request  # replica_id

        def serve(name: str, pid: int, ts: int) -> tuple:
            with self._lock:
                hw = len(self._log[(name, pid)])
            return pid, ERR_NONE, -1, 0 if ts == EARLIEST else hw

        return (self._partitions(API_LIST_OFFSETS, node, topics, serve,
                                 (-1, -1)),)

    def _cut_at_max_bytes(self, log: list[tuple[bytes, bytes, int]],
                          offset: int, max_bytes: int
                          ) -> list[tuple[bytes, bytes, int]]:
        """Greedy prefix of log[offset:] whose ENCODED record batch honors
        max_bytes exactly. At least one record is always returned when
        any exists, matching broker behavior of never starving a consumer
        whose max_bytes is smaller than one message."""
        batch: list[tuple[bytes, bytes, int]] = []
        size = BATCH_HEADER_LEN
        base_ts = log[offset][2] if offset < len(log) else 0
        for i, (k, v, ts) in enumerate(log[offset:]):
            body = encode_record_body(k, v, ts - base_ts, i)
            size += len(encode_varint(len(body))) + len(body)
            if batch and size > max_bytes:
                break
            batch.append((k, v, ts))
        return batch

    def _fetch(self, request: tuple, node: int) -> tuple:
        # replica_id, max_wait_ms, min_bytes, max_bytes, isolation_level
        *_, topics = request

        def serve(name: str, pid: int, offset: int, max_bytes: int) -> tuple:
            with self._lock:
                log = list(self._log[(name, pid)])
            hw = len(log)
            # last_stable_offset is the high watermark: no transactions
            if offset < 0 or offset > hw:
                return pid, ERR_OFFSET_OUT_OF_RANGE, hw, hw, [], b""
            batch = self._cut_at_max_bytes(log, offset, max_bytes)
            record_set = (
                encode_record_batch(
                    batch, base_offset=offset, codec=self._fetch_codec,
                )
                if batch else b""
            )
            # compression changes the wire size after the cut
            # (usually smaller; pathologically a few bytes larger),
            # so re-check against max_bytes on the ENCODED bytes
            # and shed records until it fits — always keeping one,
            # matching the never-starve contract of the cut.
            while (self._fetch_codec != "none" and len(batch) > 1
                   and len(record_set) > max_bytes):
                batch = batch[:-1]
                record_set = encode_record_batch(
                    batch, base_offset=offset, codec=self._fetch_codec,
                )
            return pid, ERR_NONE, hw, hw, [], record_set

        return 0, self._partitions(API_FETCH, node, topics, serve,
                                   (-1, -1, [], b""))  # throttle_time_ms 0

    def _produce(self, request: tuple, node: int) -> tuple:
        *_, topics = request  # transactional_id, acks, timeout_ms

        def serve(name: str, pid: int, record_set: bytes | None) -> tuple:
            records = decode_record_batches(record_set or b"")
            base = self.append(
                name, pid, [(r.key, r.value, r.timestamp) for r in records]
            )
            return pid, ERR_NONE, base, -1

        return (self._partitions(API_PRODUCE, node, topics, serve, (-1, -1)),
                0)  # throttle_time_ms

    def _create_topics(self, request: tuple, node: int) -> tuple:
        topics, _ = request  # timeout_ms
        results: list[tuple[str, int]] = []
        with self._lock:
            # replication factor, assignments and configs are ignored
            for name, n, *_ in topics:
                if name in self._topics:
                    results.append((name, ERR_TOPIC_ALREADY_EXISTS))
                elif n < 1:
                    results.append((name, ERR_INVALID_PARTITIONS))
                else:
                    self._topics[name] = n
                    for p in range(n):
                        self._log[(name, p)] = []
                    results.append((name, ERR_NONE))
        return (results,)

    def _delete_topics(self, request: tuple, node: int) -> tuple:
        topics, _ = request  # timeout_ms
        results: list[tuple[str, int]] = []
        with self._lock:
            for name in topics:
                if name not in self._topics:
                    results.append((name, ERR_UNKNOWN_TOPIC_OR_PARTITION))
                else:
                    n = self._topics.pop(name)
                    for p in range(n):
                        self._log.pop((name, p), None)
                    results.append((name, ERR_NONE))
        return (results,)
