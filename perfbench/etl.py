"""The paper's ETL, driven through the package's public functions:
generate → Avro encode → keyed Kafka produce → bounded fetch → decode →
exactly-once DB sink, against the in-process 3-listener broker and a
sqlite warehouse file.

``etl_backlog`` is closed-loop: each iteration produces a whole backlog
into a fresh topic, then drains it with large micro-batches.
``etl_live`` is open-loop: a generator thread produces pre-encoded
records on a fixed schedule while a streaming query with a 500 ms
processing-time trigger drains them.
"""

from __future__ import annotations

import collections
import functools
import json
import math
import os
import sqlite3
import threading
import time

from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.generate import generate_dataset
from kafka_avro_pipeline_java_spark.sources.schema_dsl import avro_to_create_table
from kafka_avro_pipeline_java_spark.streaming.avro_codec import decode_df
from kafka_avro_pipeline_java_spark.streaming.fake_broker import FakeKafkaBroker
from kafka_avro_pipeline_java_spark.streaming.kafka_io import (
    prepare_kafka_batch,
    read_kafka_stream_py,
    write_kafka_batch_py,
)
from kafka_avro_pipeline_java_spark.streaming.kafka_wire import KafkaClusterClient
from kafka_avro_pipeline_java_spark.streaming.sink import ExactlyOnceDbSink

from helpers import batch_ranges, median, percentile, record_latencies, tree_cpu_s
from sparkstats import job_stats

# One flat schema covering every generatable type, string key first.
SCHEMA = {
    "type": "record",
    "name": "bench_rec",
    "fields": [
        {"name": "rec_key", "type": "string"},
        {"name": "qty", "type": "int"},
        {"name": "seq_ms", "type": "long"},
        {"name": "ratio", "type": "float"},
        {"name": "price", "type": "double"},
        {"name": "label", "type": "string"},
    ],
}
COLUMNS = [f["name"] for f in SCHEMA["fields"]]
N_PARTITIONS = 3          # the reference runs 3 brokers; one leader each
GROUP = "group-bench_rec"

# records per backlog iteration: enough that one iteration outlasts a
# 10 s run even on a quiet host, because the first measured iteration
# costs more CPU per record than later ones, and a run that fits a second
# one would read cheaper than one that does not
BACKLOG_RECORDS = 30_000
BACKLOG_WARMUP_RECORDS = 2_000
BACKLOG_BATCH = 5_000     # maxRecordsPerBatch while draining a backlog
MIN_ITERATIONS = 1        # measured backlogs per run, however short --seconds

LIVE_RATE = 1_000         # records per second, open loop
LIVE_TICK_S = 0.1
# The first micro-batch is cold (seconds of Python-worker and codegen
# start-up); its records are produced and drained before the schedule
# starts, so its catch-up does not land in the measured window.
LIVE_COLD_RECORDS = 1_000
LIVE_WARMUP_S = 1.0       # scheduled but excluded from latency statistics
LIVE_TRIGGER = "500 milliseconds"
LIVE_BATCH = 5_000
LIVE_LATE_LIMIT_MS = 250.0  # generator lateness that invalidates a run

DRAIN_TIMEOUT_S = 90.0


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _connect(path: str) -> sqlite3.Connection:
    return sqlite3.connect(path, timeout=30.0)


def _provision_db(path: str) -> functools.partial:
    with _connect(path) as conn:
        conn.execute(avro_to_create_table(SCHEMA, if_not_exists=True))
    conn.close()
    # picklable factory for the executors; busy timeout for concurrent tasks
    return functools.partial(sqlite3.connect, path, timeout=30.0)


def _row_count(path: str) -> int:
    conn = _connect(path)
    try:
        return conn.execute("SELECT COUNT(*) FROM bench_rec").fetchone()[0]
    finally:
        conn.close()


def _expected(spark, n: int, seed: int, slots: int) -> collections.Counter:
    rows = generate_dataset(spark, SCHEMA, n_rows=n, seed=seed, num_partitions=slots).collect()
    return collections.Counter(tuple(r) for r in rows)


def verify(db: str, topic: str, broker: FakeKafkaBroker,
           expected: collections.Counter) -> tuple[int, int, list[str]]:
    """Sink rows against the generated records, the offsets mirror against
    the broker's high watermarks, and the commit ledger for repeats.
    → (lost records, duplicated records, problems)."""
    conn = _connect(db)
    try:
        got = collections.Counter(
            conn.execute(f"SELECT {', '.join(COLUMNS)} FROM bench_rec").fetchall()
        )
        offsets = dict(conn.execute(
            "SELECT partition, offset FROM kafka_offsets "
            "WHERE topic = ? AND consumer_group = ?", (topic, GROUP)).fetchall())
        repeats = conn.execute(
            "SELECT batch_id, partition_id FROM stream_commits "
            "GROUP BY sink_table, batch_id, partition_id HAVING COUNT(*) > 1").fetchall()
    finally:
        conn.close()
    lost = sum((expected - got).values())
    dup = sum((got - expected).values())
    problems = []
    if lost or dup:
        problems.append(f"{lost} records lost, {dup} duplicated or altered")
    hw = {p: len(broker.records(topic, p)) for p in range(N_PARTITIONS)}
    if offsets != {p: n for p, n in hw.items() if n}:
        problems.append(f"kafka_offsets {offsets} != high watermarks {hw}")
    if repeats:
        problems.append(f"stream_commits repeats {repeats}")
    return lost, dup, problems


def _ledger_rows(db: str) -> int:
    conn = _connect(db)
    try:
        return conn.execute("SELECT COUNT(*) FROM stream_commits").fetchone()[0]
    finally:
        conn.close()


def _partition_skew(broker: FakeKafkaBroker, topic: str) -> float:
    sizes = [len(broker.records(topic, p)) for p in range(N_PARTITIONS)]
    mean = sum(sizes) / len(sizes)
    return max(sizes) / mean if mean else 0.0


class _Stream:
    """One streaming drain: kafka_py source → decode → foreachBatch sink."""

    def __init__(self, ctx, bootstrap: str, topic: str, db: str, factory,
                 checkpoint: str, trigger: str, max_batch: int, layers: dict) -> None:
        self.ctx, self.db, self.layers = ctx, db, layers
        self.sink = ExactlyOnceDbSink(
            connection_factory=factory, table="bench_rec", columns=COLUMNS,
            paramstyle="qmark", offsets_cols=("topic", "partition", "offset"),
            consumer_group=GROUP)
        self.partitions_attempted = 0
        self.parent_span = ctx.tracer.current()  # batches run on a callback thread
        with ctx.tracer.span("plans.build"):
            raw = read_kafka_stream_py(ctx.spark, bootstrap, topic,
                                       max_records_per_batch=max_batch)
            typed = decode_df(raw.select("value", "topic", "partition", "offset"),
                              SCHEMA, passthrough_cols=["topic", "partition", "offset"])
        fn = self._traced if ctx.trace else self.sink
        self.query = (typed.writeStream.foreachBatch(fn)
                      .option("checkpointLocation", checkpoint)
                      .trigger(processingTime=trigger).start())

    def _traced(self, batch_df, batch_id: int) -> None:
        """Persist the batch and time its decode, then time the sink call."""
        tr = self.ctx.tracer
        with tr.span("sink.batch", trace=f"batch{batch_id}", parent=self.parent_span):
            with tr.span("avro_codec.decode"):
                batch_df.persist()
                batch_df.count()
            self.partitions_attempted += batch_df.rdd.getNumPartitions()
            with tr.span("sink.commit"):
                self.sink(batch_df, batch_id)
            batch_df.unpersist()

    def drain(self, n_expected: int) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while _row_count(self.db) < n_expected:
            if time.monotonic() > deadline:
                raise TimeoutError(f"sink holds {_row_count(self.db)} of {n_expected} rows")
            self.query.processAllAvailable()

    def stop(self) -> list[dict]:
        """Stop the query; → its progress records as dicts."""
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        run_id = str(self.query.runId)
        self.query.stop()
        self.query.awaitTermination(30)
        for k, v in job_stats(self.ctx.sc, run_id).items():
            self.layers[f"exec.{k}"] = self.layers.get(f"exec.{k}", 0) + v
        dur = collections.Counter()
        for p in progress:
            dur.update(p.get("durationMs", {}))
        L = self.layers
        L["kafka_pyds.latest_offset_ms"] = L.get("kafka_pyds.latest_offset_ms", 0) + dur["latestOffset"]
        L["sink.add_batch_ms"] = L.get("sink.add_batch_ms", 0) + dur["addBatch"]
        L["engine.wal_commit_ms"] = L.get("engine.wal_commit_ms", 0) + dur["walCommit"]
        L["engine.commit_offsets_ms"] = L.get("engine.commit_offsets_ms", 0) + dur["commitOffsets"]
        L["engine.query_planning_ms"] = L.get("engine.query_planning_ms", 0) + dur["queryPlanning"]
        L["engine.trigger_ms"] = L.get("engine.trigger_ms", 0) + dur["triggerExecution"]
        sizes = [p["numInputRows"] for p in progress if p.get("numInputRows")]
        L.setdefault("_batch_sizes", []).extend(sizes)
        ledger = _ledger_rows(self.db)
        L["sink.partition_txns"] = L.get("sink.partition_txns", 0) + ledger
        if self.ctx.trace:
            L["sink.replayed_partitions"] = (
                L.get("sink.replayed_partitions", 0) + self.partitions_attempted - ledger)
        return progress


def _batch_log(progress: list[dict]) -> list[dict]:
    """One record per non-empty micro-batch: rows and phase durations."""
    return [{"batch": p["batchId"], "rows": p["numInputRows"], **p["durationMs"]}
            for p in progress if p.get("numInputRows")]


def _finish_layers(ctx, layers: dict) -> dict:
    """Fold span totals and collected lists into the per-layer numbers."""
    sizes = layers.pop("_batch_sizes", [])
    layers["kafka_pyds.batches"] = len(sizes)
    layers["kafka_pyds.records_per_batch_p50"] = median(sizes) if sizes else 0
    return layers


def _encode_bytes(batch) -> int:
    return batch.select(F.sum(F.length("key") + F.length("value"))).first()[0] or 0


def _produce_backlog(ctx, broker, topic: str, n: int, seed: int, layers: dict) -> None:
    """generate → prepare (encode + explicit placement) → wire produce.

    Traced runs materialize each stage's output before calling the next
    public function, so every stage is timed on its own."""
    tr, slots = ctx.tracer, ctx.slots
    with tr.span("plans.build"):
        recs = generate_dataset(ctx.spark, SCHEMA, n_rows=n, seed=seed, num_partitions=slots)
    if ctx.trace:
        with tr.span("generate"):
            recs = recs.localCheckpoint(eager=True)
    with tr.span("plans.build"):
        batch = prepare_kafka_batch(recs, SCHEMA, explicit_partitions=N_PARTITIONS)
    if ctx.trace:
        with tr.span("avro_codec.encode"):
            batch = batch.localCheckpoint(eager=True)
        layers["avro_codec.encode_bytes"] = layers.get("avro_codec.encode_bytes", 0) + _encode_bytes(batch)
    group = f"produce:{topic}:{seed}"
    ctx.sc.setJobGroup(group, "produce")
    with tr.span("kafka_io.produce"):
        write_kafka_batch_py(batch, broker.bootstrap, topic)
    ctx.sc.setJobGroup("bench", "bench")
    for k, v in job_stats(ctx.sc, group).items():
        layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v


# ---------------------------------------------------------------------------
# etl_backlog
# ---------------------------------------------------------------------------


def _backlog_iteration(ctx, it: int, n: int, layers: dict) -> dict:
    seed = ctx.seed * 1000 + it
    topic = "bench_rec"
    base = os.path.join(ctx.work, f"backlog{it}")
    os.makedirs(base)
    db = os.path.join(base, "warehouse.db")
    factory = _provision_db(db)
    with FakeKafkaBroker({topic: N_PARTITIONS}, listeners=N_PARTITIONS) as broker:
        with ctx.tracer.span("etl.iteration", trace=f"iter{it}"):
            cpu0 = tree_cpu_s()
            t0 = time.time()
            with ctx.tracer.span("etl.produce"):
                _produce_backlog(ctx, broker, topic, n, seed, layers)
            produce_s = time.time() - t0
            with ctx.tracer.span("etl.consume"):
                t1 = time.time()
                stream = _Stream(ctx, broker.bootstrap, topic, db, factory,
                                 os.path.join(base, "ckpt"), "100 milliseconds",
                                 BACKLOG_BATCH, layers)
                try:
                    stream.drain(n)
                finally:
                    progress = stream.stop()
            cpu_s = tree_cpu_s() - cpu0
        batches = batch_ranges(progress)
        consume_s = max(end for end, _ in batches) - t1
        # every backlog record is due when the drain starts
        lat, committed = record_latencies(
            {p: [t1] * len(broker.records(topic, p)) for p in range(N_PARTITIONS)}, batches)
        layers["fake_broker.partition_skew"] = _partition_skew(broker, topic)
        lost, dup, problems = verify(db, topic, broker, _expected(ctx.spark, n, seed, ctx.slots))
    return {"n": n, "produce_s": produce_s, "consume_s": consume_s, "cpu_s": cpu_s, "latencies": lat,
            "committed": committed, "lost": lost, "dup": dup, "problems": problems}


def prepare_backlog(ctx) -> dict:
    """Warm the whole path once (Python workers, codegen, sockets)."""
    with ctx.tracer.paused():
        warm = _backlog_iteration(ctx, 0, BACKLOG_WARMUP_RECORDS, {})
    return {"warmup": warm}


def measure_backlog(ctx, state: dict) -> dict:
    layers: dict = {}
    iters = []
    start = time.monotonic()
    while len(iters) < MIN_ITERATIONS or time.monotonic() - start < ctx.seconds:
        iters.append(_backlog_iteration(ctx, len(iters) + 1, BACKLOG_RECORDS, layers))
    n = sum(i["n"] for i in iters)
    produce_s = sum(i["produce_s"] for i in iters)
    consume_s = sum(i["consume_s"] for i in iters)
    lat = [x * 1000 for i in iters for x in i["latencies"]]
    p50, n_lat, _ = percentile(lat, 0.5)
    p90, _, beyond = percentile(lat, 0.9)
    problems = [p for i in iters + [state["warmup"]] for p in i["problems"]]
    failed = sum(i["lost"] + i["dup"] for i in iters + [state["warmup"]])
    layers = _finish_layers(ctx, layers)
    return {
        "correct": not problems,
        "attempted": n + state["warmup"]["n"],
        "failed": failed,
        "problems": problems,
        "e2e": {
            "throughput_per_s": n / (produce_s + consume_s),
            "latency_p50_ms": p50,
            "cpu_ms_per_op": sum(i["cpu_s"] for i in iters) * 1000 / n,
        },
        "named": {
            "latency_p90_ms": (p90, "ms"),
            "produce_records_per_s": (n / produce_s, "1/s"),
            "consume_records_per_s": (n / consume_s, "1/s"),
            "iterations": (len(iters), "count"),
            "records_per_iteration": (BACKLOG_RECORDS, "count"),
            "latency_samples": (n_lat, "count"),
            "latency_p90_samples_beyond": (beyond, "count"),
        },
        "layers": layers,
        "per_iteration": [{k: i[k] for k in ("n", "produce_s", "consume_s", "cpu_s")} for i in iters],
    }


# ---------------------------------------------------------------------------
# etl_live
# ---------------------------------------------------------------------------


class _Generator(threading.Thread):
    """Open-loop producer: every tick sends the records due at that tick,
    whatever the consumer is doing; records carry the tick as their Kafka
    timestamp. Tracks how late each tick started."""

    def __init__(self, ctx, bootstrap: str, topic: str, rows: list, t0: float) -> None:
        super().__init__(daemon=True)
        self.ctx, self.bootstrap, self.topic, self.rows, self.t0 = ctx, bootstrap, topic, rows, t0
        self.per_tick = int(LIVE_RATE * LIVE_TICK_S)
        self.late_ms_max = 0.0
        self.last_due = t0
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + (i // self.per_tick) * LIVE_TICK_S

    def run(self) -> None:
        try:
            with KafkaClusterClient(self.bootstrap) as client:
                for lo in range(0, len(self.rows), self.per_tick):
                    due = self.due(lo)
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    self.late_ms_max = max(self.late_ms_max, (time.time() - due) * 1000)
                    by_part: dict[int, list] = {}
                    ts = int(due * 1000)
                    for key, value, pid in self.rows[lo:lo + self.per_tick]:
                        by_part.setdefault(pid, []).append((key, value, ts))
                    with self.ctx.tracer.span("kafka_io.produce", trace=f"tick{lo}"):
                        for pid in sorted(by_part):
                            client.produce(self.topic, pid, by_part[pid])
                    self.last_due = due
        except BaseException as e:  # surfaced by the driver thread after join
            self.error = e


def _pregenerate_live(ctx, n: int, layers: dict) -> tuple[list, collections.Counter]:
    """Generate and encode the whole schedule up front: (key, value,
    partition) rows in schedule order, plus the expected decoded records."""
    tr = ctx.tracer
    with tr.span("plans.build"):
        recs = generate_dataset(ctx.spark, SCHEMA, n_rows=n, seed=ctx.seed, num_partitions=ctx.slots)
    with tr.span("generate"):
        expected = collections.Counter(tuple(r) for r in recs.collect())
    with tr.span("plans.build"):
        batch = prepare_kafka_batch(recs, SCHEMA, explicit_partitions=N_PARTITIONS)
    with tr.span("avro_codec.encode"):
        rows = [(bytes(r["key"]), bytes(r["value"]), int(r["partition"])) for r in batch.collect()]
    layers["avro_codec.encode_bytes"] = sum(len(k) + len(v) for k, v, _ in rows)
    return rows, expected


def prepare_live(ctx) -> dict:
    n = LIVE_COLD_RECORDS + int(LIVE_RATE * (LIVE_WARMUP_S + ctx.seconds))
    layers: dict = {}
    gen_times = []
    for i in range(3):  # set up several times; the median is the set-up cost
        t = time.perf_counter()
        if i < 2:
            with ctx.tracer.paused():
                _pregenerate_live(ctx, n, {})
        else:
            rows, expected = _pregenerate_live(ctx, n, layers)
        gen_times.append(time.perf_counter() - t)
    topic = "bench_rec"
    broker = FakeKafkaBroker({topic: N_PARTITIONS}, listeners=N_PARTITIONS).start()
    db = os.path.join(ctx.work, "live.db")
    factory = _provision_db(db)
    stream = _Stream(ctx, broker.bootstrap, topic, db, factory,
                     os.path.join(ctx.work, "live_ckpt"), LIVE_TRIGGER, LIVE_BATCH, layers)
    cold = rows[:LIVE_COLD_RECORDS]
    with KafkaClusterClient(broker.bootstrap) as client:
        ts = int(time.time() * 1000)
        by_part: dict[int, list] = {}
        for key, value, pid in cold:
            by_part.setdefault(pid, []).append((key, value, ts))
        for pid in sorted(by_part):
            client.produce(topic, pid, by_part[pid])
    stream.drain(len(cold))
    t0 = time.time() + 0.2
    gen = _Generator(ctx, broker.bootstrap, topic, rows[LIVE_COLD_RECORDS:], t0)
    gen.start()
    # the warm-up share of the schedule runs inside set-up
    time.sleep(max(0.0, t0 + LIVE_WARMUP_S - time.time()))
    return {"rows": rows, "expected": expected, "broker": broker, "db": db,
            "stream": stream, "gen": gen, "layers": layers, "t0": t0,
            "pregen_s": median(gen_times), "pregen_extra_s": sum(gen_times) - median(gen_times)}


def measure_live(ctx, state: dict) -> dict:
    gen, stream, broker, layers = state["gen"], state["stream"], state["broker"], state["layers"]
    n = len(state["rows"])
    measured_from = state["t0"] + LIVE_WARMUP_S
    cpu0 = tree_cpu_s()
    try:
        gen.join(timeout=ctx.seconds + 60)
        if gen.is_alive() or gen.error:
            raise RuntimeError(f"generator failed: {gen.error or 'did not finish'}")
        try:
            stream.drain(n)
        finally:
            progress = stream.stop()
        cpu_s = tree_cpu_s() - cpu0
        batches = batch_ranges(progress)
        # offsets of a partition: its cold records first, then its scheduled ones
        due: dict[int, list[float]] = {p: [] for p in range(N_PARTITIONS)}
        for _, _, pid in state["rows"][:LIVE_COLD_RECORDS]:
            due[pid].append(float("-inf"))
        for i, (_, _, pid) in enumerate(state["rows"][LIVE_COLD_RECORDS:]):
            due[pid].append(gen.due(i))
        lat_s, committed = record_latencies(due, batches, measured_from)
        last_commit = max(end for end, _ in batches)
        layers["fake_broker.partition_skew"] = _partition_skew(broker, "bench_rec")
        lost, dup, problems = verify(state["db"], "bench_rec", broker, state["expected"])
    finally:
        broker.stop()
    late = gen.late_ms_max
    if late > LIVE_LATE_LIMIT_MS:
        problems.append(f"INVALID run: generator ran {late:.0f} ms behind its schedule")
    lat = [x * 1000 for x in lat_s]
    p50, n_lat, _ = percentile(lat, 0.5)
    p90, _, beyond = percentile(lat, 0.9)
    layers = _finish_layers(ctx, layers)
    n_batches = layers["kafka_pyds.batches"]
    return {
        "correct": not problems,
        "attempted": n,
        "failed": lost + dup,
        "problems": problems,
        "e2e": {
            "throughput_per_s": len(lat) / (last_commit - measured_from),
            "latency_p50_ms": p50,
            "cpu_ms_per_op": cpu_s * 1000 / len(lat),
        },
        "named": {
            "latency_p90_ms": (p90, "ms"),
            "drain_s": (last_commit - gen.last_due, "s"),
            "offered_rate_per_s": (LIVE_RATE, "1/s"),
            "latency_samples": (n_lat, "count"),
            "latency_p90_samples_beyond": (beyond, "count"),
            "batches": (n_batches, "count"),
            "batch_p90_supported": (n_batches - math.ceil(0.9 * n_batches) >= 10, "bool"),
            "generator.late_ms_max": (late, "ms"),
        },
        "layers": layers,
        "setup_parts": {"pregenerate_median_s": state["pregen_s"], "warmup_window_s": LIVE_WARMUP_S},
        "batches": _batch_log(progress),
        "setup_repeats_extra_s": state["pregen_extra_s"],
    }
