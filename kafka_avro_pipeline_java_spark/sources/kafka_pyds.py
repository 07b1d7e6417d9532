"""Kafka as a Python DataSource (Spark 4) over the pure-Python wire client.

The JVM `format("kafka")` connector needs the spark-sql-kafka jar, which
this container lacks — so ops #15-17 (Kafka scan, partition discovery,
partition assignment) previously had only option-contract tests. This
module gives them an EXECUTED ``.load()`` path: a `pyspark.sql.datasource`
connector speaking real protocol bytes through ``streaming/kafka_wire.py``.

Batch (``spark.read``):

- ``partitions()`` asks the broker for Metadata and returns ONE input
  partition per Kafka topic-partition — the reference's
  thread-per-partition consumer fan-out (03-consumer Main.java:28-64)
  expressed as engine-planned splits.
- each ``read()`` runs in a Spark worker process, opens its own socket
  and drives the bounded fetch loop (AvroConsumer.java:116-138) from the
  earliest offset to the high watermark observed at planning — a
  consistent snapshot per partition.

Streaming (``spark.readStream``) is a ``SimpleDataSourceStreamReader``.
Its ``read()`` does NOT run on executors: Spark calls it from the
driver's Python source runner (inside ``latestOffset``), which fetches
every partition over one client, and plans the result as ONE input
partition per micro-batch
(``pyspark/sql/datasource_internal.py::_SimpleStreamReaderWrapper``).

- offsets are {"offsets": {partition(str): next_offset}} dicts,
  JSON-checkpointed by the engine; per-batch admission is bounded by
  ``maxRecordsPerBatch`` — the backpressure contract of
  maxOffsetsPerTrigger.
- the fetch buffer: a Fetch answers with up to ``maxBytes`` of records,
  usually more than the batch admits. The reader keeps, per partition,
  the records of the last Fetch past the batch's end offset, and the
  next ``read()`` serves them first when it starts at that offset (any
  other start drops them). That is the fetch buffer of a Java
  ``KafkaConsumer`` and of the JVM source's cached consumer; it holds at
  most one Fetch response per partition, so it is bounded by
  ``maxBytes`` × partitions. Each record is fetched, CRC-checked and
  decoded once on the live path.
- ``readBetweenOffsets`` (the replay after a restart, run in a worker)
  re-fetches the exact offset range without the buffer — exactly-once
  recovery needs source determinism, and a Kafka offset range IS
  deterministic.

Every read returns columnar ``pyarrow.RecordBatch``es, which PySpark
passes to the JVM without a per-row conversion. A Fetch that comes back
empty below a read's end offset raises ``KafkaDataLossError`` instead of
skipping the missing records — the JVM connector's default
``failOnDataLoss=true``.

Output schema mirrors the JVM connector: (key binary, value binary,
topic string, partition int, offset bigint, timestamp bigint).

Options: ``bootstrap`` (host:port), ``topic``, ``maxBytes`` per fetch
(default 1 MiB), streaming ``maxRecordsPerBatch`` (default 1000).
"""

from __future__ import annotations

from bisect import bisect_left

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp bigint"
)
_COLUMNS = [c.split()[0] for c in SCHEMA.split(", ")]


class KafkaDataLossError(RuntimeError):
    """Records below a read's end offset were not delivered."""


class _TopicPartition(InputPartition):
    def __init__(self, topic: str, partition: int, start: int, end: int):
        self.topic, self.partition = topic, partition
        self.start, self.end = start, end


def _client(options):
    # leader-routing client: on a single-node broker it degrades to one
    # extra Metadata round-trip; on a multi-broker cluster each
    # list_offsets/fetch goes to the partition leader and survives one
    # leader move per call (round 6 — was the single-socket
    # KafkaWireClient, which a follower would bounce with
    # NOT_LEADER_FOR_PARTITION)
    from ..streaming.kafka_wire import KafkaClusterClient

    return KafkaClusterClient(options["bootstrap"])


def _poll(c, topic: str, pid: int, lo: int, hi: int, max_bytes: int,
          fetched=()):
    """The bounded poll loop (AvroConsumer.java:116-138) over offsets
    [lo, hi) of one partition. Yields the records of each Fetch that fall
    in the range, in offset order, and returns the fetched records at or
    past ``hi``. ``fetched`` are records fetched earlier, from ``lo`` on.

    A log truncated below ``lo`` makes the broker answer
    OFFSET_OUT_OF_RANGE, which ``fetch`` raises; an empty answer below
    ``hi`` raises ``KafkaDataLossError``. Both fail the read, matching the
    JVM connector's default failOnDataLoss=true."""
    offset = lo
    while offset < hi:
        if not fetched:
            _, fetched = c.fetch(topic, pid, offset, max_bytes=max_bytes)
            if not fetched:
                raise KafkaDataLossError(
                    f"Fetch {topic}[{pid}] at offset {offset} returned no "
                    f"records below the end offset {hi}")
        n = bisect_left(fetched, hi, key=lambda r: r.offset)
        if n:
            yield fetched[:n]
        if n < len(fetched):
            return fetched[n:]
        offset, fetched = fetched[-1].offset + 1, ()
    return fetched


def _poll_range(c, topic, pid, lo, hi, max_bytes, fetched=()):
    """``_poll`` drained → (records in [lo, hi), records past hi)."""
    got = []
    polled = _poll(c, topic, pid, lo, hi, max_bytes, fetched)
    while True:
        try:
            got += next(polled)
        except StopIteration as done:
            return got, done.value


def _record_batch(topic: str, parts):
    """[(partition, records)] → one Arrow RecordBatch of SCHEMA, built
    column by column."""
    import pyarrow as pa

    records = [r for _, recs in parts for r in recs]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r.key for r in records], pa.binary()),
            pa.array([r.value for r in records], pa.binary()),
            pa.array([topic] * len(records), pa.string()),
            pa.array([pid for pid, recs in parts for _ in recs], pa.int32()),
            pa.array([r.offset for r in records], pa.int64()),
            pa.array([r.timestamp for r in records], pa.int64()),
        ],
        names=_COLUMNS,
    )


class KafkaPyBatchReader(DataSourceReader):
    def __init__(self, options):
        self.options = options
        self.topic = options["topic"]
        self.max_bytes = int(options.get("maxBytes", str(1 << 20)))

    def partitions(self):
        """Partition discovery + snapshot bounds, one Metadata +
        2×ListOffsets round-trips per partition at PLAN time; the data
        fetches all happen inside the per-partition readers."""
        from ..streaming.kafka_wire import EARLIEST, LATEST

        with _client(self.options) as c:
            _, topics = c.metadata([self.topic])
            out = []
            for pid in topics[self.topic]:
                lo = c.list_offsets(self.topic, pid, EARLIEST)
                hi = c.list_offsets(self.topic, pid, LATEST)
                if hi > lo:
                    out.append(_TopicPartition(self.topic, pid, lo, hi))
            return out

    def read(self, part: _TopicPartition):
        """Bounded poll loop to the snapshot end — runs in the worker and
        yields one RecordBatch per Fetch."""
        with _client(self.options) as c:
            for records in _poll(c, part.topic, part.partition, part.start,
                                 part.end, self.max_bytes):
                yield _record_batch(part.topic, [(part.partition, records)])


class KafkaPyStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: offsets are {"offsets": {partition(str): next}}
    (string keys — the engine JSON-serializes offsets into the checkpoint
    log). ``read`` advances at most maxRecordsPerBatch records per batch
    across partitions, round-robin by partition id, so one hot partition
    cannot starve the others."""

    def __init__(self, options):
        self.options = options
        self.topic = options["topic"]
        self.max_records = int(options.get("maxRecordsPerBatch", "1000"))
        self.max_bytes = int(options.get("maxBytes", str(1 << 20)))
        # the fetch buffer: {partition: (offset, records fetched from it)}
        self._fetched: dict[str, tuple[int, list]] = {}

    def initialOffset(self):
        from ..streaming.kafka_wire import EARLIEST

        with _client(self.options) as c:
            _, topics = c.metadata([self.topic])
            return {
                "offsets": {
                    str(pid): c.list_offsets(self.topic, pid, EARLIEST)
                    for pid in topics[self.topic]
                }
            }

    def _read_range(self, c, start: dict, end: dict, buffer: dict):
        """Records between two offset dicts as an iterator over at most one
        RecordBatch. ``buffer`` serves records fetched earlier and keeps
        what the last Fetch of each partition returned past its end."""
        parts = []
        for pid in sorted(start, key=int):
            lo, hi = start[pid], end[pid]
            if hi > lo:
                at, fetched = buffer.pop(pid, (lo, ()))
                got, rest = _poll_range(c, self.topic, int(pid), lo, hi,
                                        self.max_bytes,
                                        fetched if at == lo else ())
                if rest:
                    buffer[pid] = (hi, rest)
                parts.append((int(pid), got))
        return iter([_record_batch(self.topic, parts)] if parts else [])

    def read(self, start):
        from ..streaming.kafka_wire import LATEST

        cur = start["offsets"]
        with _client(self.options) as c:
            hw = {
                pid: c.list_offsets(self.topic, int(pid), LATEST) for pid in cur
            }
            # round-robin admission: one record per partition per pass
            # until the budget or every watermark is reached
            ends, budget = dict(cur), self.max_records
            while budget > 0:
                admitted = [pid for pid in sorted(ends, key=int)
                            if ends[pid] < hw[pid]][:budget]
                if not admitted:
                    break
                for pid in admitted:
                    ends[pid] += 1
                budget -= len(admitted)
            rows = self._read_range(c, cur, ends, self._fetched)
        return (rows, {"offsets": ends})

    def readBetweenOffsets(self, start, end):
        """Replay path after restart: re-fetch the exact offset range —
        Kafka offsets make the replay byte-identical."""
        with _client(self.options) as c:
            return self._read_range(c, start["offsets"], end["offsets"], {})


class KafkaPyDataSource(DataSource):
    """``spark.dataSource.register(KafkaPyDataSource)`` then
    ``spark.read.format("kafka_py").option("bootstrap", ...)
    .option("topic", ...).load()`` (batch) or the same through
    ``spark.readStream`` (micro-batch streaming)."""

    @classmethod
    def name(cls) -> str:
        return "kafka_py"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> KafkaPyBatchReader:
        return KafkaPyBatchReader(self.options)

    def simpleStreamReader(self, schema) -> KafkaPyStreamReader:
        return KafkaPyStreamReader(self.options)
