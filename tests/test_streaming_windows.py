"""Event-time streaming operator tests.

Drives the real Structured Streaming engine (file source → availableNow →
memory sink) and checks windowed results against independently computed
batch equivalents over the same events data.
"""

import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.sources import load_table
from kafka_avro_pipeline_java_spark.streaming import windows as W

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def spool(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events_spool"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(p)
    return p


def _stream(spark, spool):
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(spool)


def _run_complete(df, name):
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return name


def test_tumbling_counts_match_batch(spark, sf_dir, spool):
    stream = W.tumbling_counts(_stream(spark, spool), window="1 hour")
    name = _run_complete(stream, "tumbling_t")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {(r["h"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}
    assert got == want


def test_sliding_windows_overlap(spark, spool):
    stream = W.sliding_counts(_stream(spark, spool), window="1 hour", slide="30 minutes")
    name = _run_complete(stream, "sliding_t")
    rows = spark.sql(f"SELECT * FROM sliding_t").collect()
    assert rows, "sliding windows produced nothing"
    # every event lands in exactly 2 overlapping 1h/30m windows
    total = sum(r["n_events"] for r in rows)
    n_events = spark.sql("SELECT 1").sparkSession.read.schema(EVENTS_SCHEMA).parquet(spool).count()
    assert total == 2 * n_events


def test_session_windows_match_batch_sessionize(spark, sf_dir, spool):
    stream = W.session_counts(_stream(spark, spool), gap="30 minutes")
    name = _run_complete(stream, "session_t")
    got = spark.sql(
        "SELECT user_id, COUNT(*) AS n_sessions, SUM(n_events) AS n_events "
        f"FROM session_t GROUP BY user_id"
    )
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    want = (
        QUERIES["events_sessionize"](spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    gm = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got.collect()}
    wm = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in want.collect()}
    assert gm == wm


def test_dedup_within_watermark(spark, spool, tmp_path):
    # duplicate the stream by spooling the same data twice
    dup = str(tmp_path / "dup_spool")
    df = spark.read.schema(EVENTS_SCHEMA).parquet(spool)
    df.write.mode("overwrite").parquet(dup)
    df.write.mode("append").parquet(dup)

    stream = W.dedup_within_watermark(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(dup), keys=["event_id"],
        watermark="10 days",
    )
    q = (
        stream.writeStream.format("memory").queryName("dedup_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(DISTINCT event_id) c, COUNT(*) n FROM dedup_t").first()
    assert n["n"] == n["c"] == df.count()


def test_stateful_running_count(spark, spool):
    stream = W.running_count_per_user(_stream(spark, spool))
    q = (
        stream.writeStream.format("memory").queryName("running_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, MAX(running_events) AS n FROM running_t GROUP BY user_id"
    )
    want = (
        spark.read.schema(EVENTS_SCHEMA).parquet(spool)
        .groupBy("user_id").agg(F.count("*").alias("n"))
    )
    gm = {r["user_id"]: r["n"] for r in got.collect()}
    wm = {r["user_id"]: r["n"] for r in want.collect()}
    assert gm == wm


def test_streaming_funnel_matches_batch(spark, sf_dir, spool):
    """The incremental funnel state machine lands every user on the same
    stage as the batch three-window formulation."""
    stream = W.funnel_stage_per_user(_stream(spark, spool))
    q = (
        stream.writeStream.format("memory").queryName("funnel_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT SUM(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS n_view, "
        "SUM(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS n_view_click, "
        "SUM(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS n_full_funnel FROM ("
        "  SELECT user_id, MAX(stage) AS stage FROM funnel_t GROUP BY user_id)"
    ).first()
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    want = QUERIES["events_funnel"](spark, sf_dir).first()
    assert (got["n_view"], got["n_view_click"], got["n_full_funnel"]) == (
        want["n_view"], want["n_view_click"], want["n_full_funnel"]
    )


def test_streaming_ewma_matches_batch_fold(spark, spool):
    stream = W.ewma_per_user(_stream(spark, spool), alpha=0.3)
    q = (
        stream.writeStream.format("memory").queryName("ewma_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["ewma"], 9))
        for r in spark.sql(
            "SELECT user_id, n_events, ewma FROM ewma_t"
        ).collect()
    }
    # batch twin: one fold over the (ts, event_id)-ordered series per user
    batch = (
        spark.read.schema(EVENTS_SCHEMA).parquet(spool)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("xs")
        )
        .select(
            "user_id",
            F.size("xs").alias("n"),
            F.aggregate(
                F.expr("slice(transform(xs, x -> x.value), 2, size(xs))"),
                F.element_at(F.transform("xs", lambda x: x["value"]), 1),
                lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
            ).alias("ewma"),
        )
    )
    want = {
        r["user_id"]: (r["n"], round(r["ewma"], 9)) for r in batch.collect()
    }
    assert got == want


def test_streaming_hll_matches_batch_sketch(spark, spool):
    stream = W.hll_distinct_per_hour(_stream(spark, spool))
    q = (
        stream.writeStream.format("memory").queryName("hll_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["hour"]: r["est_distinct"]
        for r in spark.sql(
            # update mode may emit an hour several times; the register max
            # is monotone so the LAST (max) estimate is the final one
            "SELECT hour, MAX(est_distinct) AS est_distinct FROM hll_t GROUP BY hour"
        ).collect()
    }
    from kafka_avro_pipeline_java_spark.operators.sketches import hll_distinct

    batch = spark.read.schema(EVENTS_SCHEMA).parquet(spool).select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    )
    want = {
        r["hour"]: r["est_distinct"]
        for r in hll_distinct(batch, "hour", "user_id", m=64).collect()
    }
    assert got == want


def test_streaming_holt_matches_batch_fold(spark, spool):
    """holt_per_user's cross-batch (level, trend) state equals one Holt
    fold over each user's (ts, event_id)-ordered series."""
    stream = W.holt_per_user(_stream(spark, spool), alpha=0.5, beta=0.3)
    q = (
        stream.writeStream.format("memory").queryName("holt_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (
            r["n_events"],
            round(r["level"], 9),
            round(r["trend"], 9),
            round(r["forecast_next"], 9),
        )
        for r in spark.sql(
            "SELECT user_id, n_events, level, trend, forecast_next FROM holt_t"
        ).collect()
    }
    rows = (
        spark.read.schema(EVENTS_SCHEMA).parquet(spool)
        .select("user_id", "ts", "event_id", "value").collect()
    )
    series = {}
    for r in rows:
        series.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], float(r["value"]))
        )
    want = {}
    for uid, xs in series.items():
        xs.sort()
        l, b = xs[0][2], 0.0
        for _, _, v in xs[1:]:
            l2 = 0.5 * v + 0.5 * (l + b)
            b = 0.3 * (l2 - l) + 0.7 * b
            l = l2
        want[uid] = (len(xs), round(l, 9), round(b, 9), round(l + b, 9))
    assert got == want
