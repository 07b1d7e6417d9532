"""Stream-stream / stream-static join tests against batch equivalents."""

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.sources import load_table
from kafka_avro_pipeline_java_spark.streaming import joins as J

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def spool(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events_spool_j"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(p)
    return p


def test_stream_stream_click_then_purchase(spark, sf_dir, spool):
    def side(tp):
        return (
            spark.readStream.schema(EVENTS_SCHEMA).parquet(spool)
            .filter(F.col("event_type") == tp)
            .select("event_id", "ts", "user_id", "value")
        )

    joined = J.stream_stream_within(
        side("click"), side("purchase"), key="user_id", within="1 hour",
    )
    q = (
        joined.writeStream.format("memory").queryName("ssj_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT l_event_id, r_event_id FROM ssj_t")

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_event_id"), F.col("ts").alias("lts"),
        F.col("user_id").alias("u"))
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_event_id"), F.col("ts").alias("rts"),
        F.col("user_id").alias("u2"))
    want = clicks.join(
        buys,
        (F.col("u") == F.col("u2"))
        & (F.col("rts") > F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 HOUR")),
    ).select("l_event_id", "r_event_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() > 0, "fixture produced no joinable pairs — test is vacuous"


def test_stream_stream_left_outer(spark, sf_dir, spool):
    """Left-outer: every click appears exactly once OR once per matched
    purchase; unmatched clicks carry nulls."""

    def side(tp):
        return (
            spark.readStream.schema(EVENTS_SCHEMA).parquet(spool)
            .filter(F.col("event_type") == tp)
            .select("event_id", "ts", "user_id")
        )

    joined = J.stream_stream_left_outer(
        side("click"), side("purchase"), key="user_id", within="1 hour",
    )
    q = (
        joined.writeStream.format("memory").queryName("ssl_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT l_event_id, r_event_id FROM ssl_t")
    e = load_table(spark, sf_dir, "events")
    n_clicks = e.filter(F.col("event_type") == "click").count()
    # null-padded emission for a left row requires a batch to run AFTER the
    # watermark passes ts+within; rows near the stream end stay buffered
    # when availableNow stops (the final watermark update never fires a
    # batch) — so all but a bounded tail of clicks must be represented
    distinct_clicks = got.select("l_event_id").distinct().count()
    assert n_clicks - 10 <= distinct_clicks <= n_clicks
    matched = got.filter(F.col("r_event_id").isNotNull()).count()
    unmatched = got.filter(F.col("r_event_id").isNull()).count()
    assert matched > 0 and unmatched > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: rows older than the checkpointed watermark are
    dropped from stateful aggregation. Run A advances the watermark to
    11:30 and stops; a 10:00 event then arrives; run B (same checkpoint)
    must NOT count it — its window never appears."""
    import datetime

    spool = str(tmp_path / "late_spool")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "event_id long, ts timestamp, user_id long"
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(spool)

    from kafka_avro_pipeline_java_spark.streaming.windows import tumbling_counts

    def run(out_dir):
        # foreachBatch sink (memory sink can't recover from a checkpoint);
        # update mode: watermark drops late input and evicts state
        # (complete mode deliberately KEEPS late data — not usable here)
        stream = (
            spark.readStream.schema(schema).parquet(spool)
            .withColumn("event_type", F.lit("x"))
            .withColumn("value", F.lit(1.0))
        )
        agg = tumbling_counts(stream, window="10 minutes", watermark="30 minutes")

        def sink(batch_df, batch_id, out=out_dir):
            batch_df.write.mode("append").parquet(out)

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")
    # run A: events at 12:00 and 11:55 → checkpointed watermark 11:30
    write_batch([(1, t0, 7), (2, t0 - datetime.timedelta(minutes=5), 7)])
    run(out_a)
    # while the query is down: a 2-hours-late event + a fresh one
    write_batch([(3, t0 - datetime.timedelta(hours=2), 7),
                 (4, t0 + datetime.timedelta(hours=1), 7)])
    run(out_b)

    # run B's update output contains only windows it (re)aggregated: the
    # fresh 13:00 window — the 10:00 window of the late event must be absent
    rows = spark.read.parquet(out_b).collect()
    assert rows, "run B emitted nothing"
    assert not any(r["window_start"].hour == 10 for r in rows), rows
    assert any(r["window_start"].hour == 13 for r in rows), rows


def test_stream_static_enrich(spark, sf_dir, spool):
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement"),
         ("signup", "growth"), ("error", "ops")],
        "event_type string, category string")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(spool)
    q = (
        J.stream_static_enrich(stream, dim, "event_type")
        .writeStream.format("memory").queryName("sse_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT category, COUNT(*) n FROM sse_t GROUP BY category")
    assert got.filter(F.col("category").isNull()).count() == 0
    total = got.agg(F.sum("n")).first()[0]
    assert total == load_table(spark, sf_dir, "events").count()


def test_salted_join_matches_plain(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(o.withColumnRenamed("o_custkey", "custkey"),
                    c.withColumnRenamed("c_custkey", "custkey"), "custkey")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_distinct_count_matches_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    from kafka_avro_pipeline_java_spark.operators.skew import salted_distinct_count
    from kafka_avro_pipeline_java_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    got = {
        r["o_orderpriority"]: r["n"]
        for r in salted_distinct_count(
            o, ["o_orderpriority"], "o_custkey", n_salts=8, alias="n"
        ).collect()
    }
    want = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# interval join vs a Python reference
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=5000),  # seconds offset
            st.booleans(),  # click vs purchase
        ),
        min_size=1,
        max_size=20,
    )
)
def test_interval_join_matches_python_reference(spark, events):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, u, base + datetime.timedelta(seconds=s), bool(p))
        for i, (u, s, p) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, is_p boolean"
    )
    clk = df.filter(~F.col("is_p")).select("event_id", "user_id", "ts")
    pur = df.filter(F.col("is_p")).select("event_id", "user_id", "ts")
    got = {
        (r.l_event_id, r.r_event_id)
        for r in J.stream_stream_within(
            clk, pur, "user_id", within="1 hour", watermark="2 hours"
        ).collect()
    }
    want = {
        (ci, pi)
        for (ci, cu, ct, _) in [r for r in rows if not r[3]]
        for (pi, pu, pt, _) in [r for r in rows if r[3]]
        if cu == pu and ct < pt <= ct + datetime.timedelta(hours=1)
    }
    assert got == want
