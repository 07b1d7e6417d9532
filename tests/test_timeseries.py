"""Time-series operator semantics on constructed fixtures: LOCF gap-fill
and trailing-window anomaly scoring (plans/events.py). Value-exactness vs
DuckDB is the driver oracle's job; these pin the behavior."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import duckdb
import pandas as pd
import pytest

from kafka_avro_pipeline_java_spark.plans.events import (
    events_hourly_anomaly,
    events_resample_locf,
)


SF_DIR = "/root/testdata/sf0.001"

T0 = dt.datetime(2024, 1, 1, 0, 30)


def _events_dir(tmp, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["props"] = "{}"
    pdf.to_parquet(os.path.join(tmp, "events.parquet"))
    return tmp


class TestResampleLocf:
    def test_gap_hours_carry_last_value_and_zero_counts(self, spark):
        rows = [
            (1, T0, 7, "view", 10.0),
            # hours +1 and +2 silent, then activity resumes
            (2, T0 + dt.timedelta(hours=3), 7, "view", 30.0),
        ]
        with tempfile.TemporaryDirectory() as tmp:
            out = events_resample_locf(spark, _events_dir(tmp, rows)).collect()
        by_hour = {r["hour"].hour: r for r in out}
        assert sorted(by_hour) == [0, 1, 2, 3]  # grid spans first..last hour
        assert by_hour[1]["n_events"] == 0 and by_hour[2]["n_events"] == 0
        assert by_hour[1]["value_locf"] == 10.0  # carried forward
        assert by_hour[2]["value_locf"] == 10.0
        assert by_hour[3]["value_locf"] == 30.0

    def test_grid_is_per_user_not_global(self, spark):
        rows = [
            (1, T0, 1, "view", 1.0),
            (2, T0 + dt.timedelta(hours=5), 1, "view", 2.0),
            (3, T0 + dt.timedelta(hours=2), 2, "view", 9.0),  # single-hour user
        ]
        with tempfile.TemporaryDirectory() as tmp:
            out = events_resample_locf(spark, _events_dir(tmp, rows)).collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r["user_id"], []).append(r)
        assert len(per_user[1]) == 6  # hours 0..5
        assert len(per_user[2]) == 1  # no spill onto other users' spans

    def test_hourly_mean_is_used(self, spark):
        rows = [
            (1, T0, 3, "view", 10.0),
            (2, T0 + dt.timedelta(minutes=5), 3, "view", 20.0),
        ]
        with tempfile.TemporaryDirectory() as tmp:
            out = events_resample_locf(spark, _events_dir(tmp, rows)).collect()
        assert len(out) == 1
        assert out[0]["value_locf"] == 15.0
        assert out[0]["n_events"] == 2


class TestHourlyAnomaly:
    def test_spike_after_flat_baseline_is_flagged(self, spark):
        rows = []
        eid = 0
        # 24 calm hours: alternating 1-2 events -> nonzero variance
        for h in range(24):
            for k in range(1 + (h % 2)):
                rows.append((eid, T0 + dt.timedelta(hours=h, minutes=k), 1, "view", 1.0))
                eid += 1
        # hour 24: a 30-event spike
        for k in range(30):
            rows.append((eid, T0 + dt.timedelta(hours=24, minutes=k), 1, "view", 1.0))
            eid += 1
        with tempfile.TemporaryDirectory() as tmp:
            out = {r["hour"].hour + 24 * (r["hour"].day - 1): r
                   for r in events_hourly_anomaly(spark, _events_dir(tmp, rows)).collect()}
        spike = out[24]
        assert spike["is_anomaly"] == 1 and spike["zscore"] > 2
        # calm hours inside the scored range are not flagged
        for h in (12, 16, 20):
            if h in out:
                assert out[h]["is_anomaly"] == 0

    def test_first_hours_lack_history_and_are_unscored(self, spark):
        rows = [(h, T0 + dt.timedelta(hours=h), 1, "view", 1.0) for h in range(6)]
        with tempfile.TemporaryDirectory() as tmp:
            out = events_hourly_anomaly(spark, _events_dir(tmp, rows)).collect()
        assert out == []  # never 12 trailing hours of history

    def test_baseline_is_per_event_type(self, spark):
        rows = []
        eid = 0
        # 'view' flat-ish forever; 'error' appears only in the last hour with
        # no history of its own -> unscored, while view stays unflagged.
        for h in range(26):
            for k in range(1 + (h % 2)):
                rows.append((eid, T0 + dt.timedelta(hours=h, minutes=k), 1, "view", 1.0))
                eid += 1
        rows.append((eid, T0 + dt.timedelta(hours=25, minutes=30), 1, "error", 1.0))
        with tempfile.TemporaryDirectory() as tmp:
            out = events_hourly_anomaly(spark, _events_dir(tmp, rows)).collect()
        assert all(r["event_type"] == "view" for r in out)
        assert all(r["is_anomaly"] == 0 for r in out)


def test_holt_trend_forecast_python_parity(spark, sf_dir):
    """The Spark fold reproduces the Holt recurrence exactly: recompute
    level/trend/forecast in pure Python from the hourly counts for every
    event type and compare after the same 6-dp rounding."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES
    from kafka_avro_pipeline_java_spark.sources import load_table
    from pyspark.sql import functions as F

    got = QUERIES["events_holt_trend_forecast"](spark, sf_dir).collect()
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    series = {}
    for r in hourly:
        series.setdefault(r["event_type"], []).append((r["hour"], r["n"]))
    expect = {}
    for et, xs in series.items():
        xs.sort()
        l, b = float(xs[0][1]), 0.0
        expect[(et, xs[0][0])] = (round(l, 6), round(b, 6), round(l + b, 6))
        for hour, n in xs[1:]:
            l2 = 0.5 * n + 0.5 * (l + b)
            b2 = 0.3 * (l2 - l) + 0.7 * b
            l, b = l2, b2
            expect[(et, hour)] = (round(l, 6), round(b, 6), round(l + b, 6))
    assert len(got) == len(expect)
    for r in got:
        e = expect[(r["event_type"], r["hour"])]
        assert (r["level"], r["trend"], r["forecast_next"]) == e, (
            r["event_type"], r["hour"], e,
        )


def test_holt_constant_series_flat_forecast(spark):
    """On a constant series the level locks to the constant and the trend
    stays zero, so every forecast equals the observed value."""
    import tempfile

    from kafka_avro_pipeline_java_spark.plans import QUERIES

    with tempfile.TemporaryDirectory() as tmp:
        rows = []
        for h in range(6):
            for k in range(3):  # 3 events every hour -> constant n=3
                rows.append(
                    (h * 3 + k, T0.replace(minute=0) + dt.timedelta(hours=h),
                     7, "click", 1.0)
                )
        d = _events_dir(tmp, rows)
        out = QUERIES["events_holt_trend_forecast"](spark, d).collect()
        assert len(out) == 6
        for r in out:
            assert r["level"] == 3.0 and r["trend"] == 0.0
            assert r["forecast_next"] == 3.0


# ---------------------------------------------------------------------------
# square-wave periodogram
# ---------------------------------------------------------------------------


def test_square_wave_contrast_reference(spark):
    """Recompute the period-24 square-wave contrast in pure Python from
    the parquet and compare exactly (everything is integer)."""
    import duckdb

    from kafka_avro_pipeline_java_spark.plans import QUERIES

    got = {
        r["period_hours"]: r["contrast_n"]
        for r in QUERIES["events_square_wave_periodogram"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    hours = con.execute(
        f"""SELECT CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                                  date_trunc('hour', ts)) AS BIGINT),
                   COUNT(*)
            FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY 1"""
    ).fetchall()
    n = len(hours)
    sy = sum(y for _, y in hours)
    for p in (2, 24):
        sys_ = sum(y * (1 if 2 * (t % p) < p else -1) for t, y in hours)
        ss = sum(1 if 2 * (t % p) < p else -1 for t, _ in hours)
        assert got[p] == abs(n * sys_ - sy * ss)
