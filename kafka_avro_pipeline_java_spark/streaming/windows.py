"""Event-time streaming operators: watermarks, tumbling/sliding/session
windows, streaming dedup, and a custom stateful operator.

The reference has no event-time processing (records carry epoch-millis
longs as plain data, reference AvroProducer.java:104; SURVEY.md §2B) —
these are the Structured Streaming operators the BASELINE.json north star
mandates. Each builder takes a STREAMING DataFrame (from the Kafka source
in production; the file source in tests) and returns the transformed
streaming frame; callers attach sinks/triggers.

Scale: windowed aggregations are hash aggs keyed by (window, keys) — one
shuffle; state store size is bounded by the watermark horizon. Session
windows merge in the state store. Custom per-key state is expressed with
``applyInPandasWithState`` (Arrow-batched, partitioned by key — state
scales horizontally with executors). Spark 4's
``transformWithStateInPandas`` is not used: its state server needs
pyspark's optional ``protobuf`` dependency, which is not installed here,
so an operator on it could only raise.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def with_watermark(events: DataFrame, ts_col: str = "ts", delay: str = "2 hours") -> DataFrame:
    """Late-data horizon: rows later than ``delay`` behind the max seen
    event time are dropped from stateful operators; state older than the
    horizon is evicted (bounded state at any input scale)."""
    return events.withWatermark(ts_col, delay)


def tumbling_counts(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours",
    ts_col: str = "ts", type_col: str = "event_type",
) -> DataFrame:
    e = with_watermark(events, ts_col, watermark)
    return (
        e.groupBy(F.window(ts_col, window).alias("win"), type_col)
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), type_col, "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame, *, window: str = "1 hour", slide: str = "30 minutes",
    watermark: str = "2 hours", ts_col: str = "ts",
) -> DataFrame:
    e = with_watermark(events, ts_col, watermark)
    return (
        e.groupBy(F.window(ts_col, window, slide).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "n_events")
    )


def session_counts(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours",
    ts_col: str = "ts", key_col: str = "user_id",
) -> DataFrame:
    """Session windows: a >gap silence closes the session — the streaming
    form of plans/events.py::events_sessionize (same gap semantics)."""
    e = with_watermark(events, ts_col, watermark)
    return (
        e.groupBy(F.session_window(ts_col, gap).alias("win"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(key_col, F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"), "n_events")
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state evicts beyond it."""
    return with_watermark(events, ts_col, watermark).dropDuplicatesWithinWatermark(keys)


RUNNING_STATE_SCHEMA = StructType([StructField("n", LongType())])
RUNNING_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("batch_max_ts", TimestampType()),
        StructField("running_events", LongType()),
    ]
)


def running_count_per_user(
    events: DataFrame, *, watermark: str = "2 hours", ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event count that survives across micro-batches (the shape of
    any bespoke per-key accumulator the built-in aggs can't express).
    State: one long per user; timeout = watermark eviction."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prev = state.get[0] if state.exists else 0
        n_new, max_ts = 0, None
        for pdf in pdfs:
            n_new += len(pdf)
            m = pdf[ts_col].max()
            max_ts = m if max_ts is None else max(max_ts, m)
        total = prev + n_new
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [user_id], "batch_max_ts": [max_ts], "running_events": [total]}
        )

    e = with_watermark(events, ts_col, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t1", TimestampType()),
        StructField("t2", TimestampType()),
        StructField("t3", TimestampType()),
    ]
)
FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
        StructField("t1", TimestampType()),
        StructField("t2", TimestampType()),
        StructField("t3", TimestampType()),
    ]
)


def funnel_stage_per_user(
    events: DataFrame,
    *,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    conversion_window: "pd.Timedelta | None" = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming funnel state machine (the incremental form of
    ``plans/events.py::events_funnel``): per user, advance through
    strictly-ordered first occurrences of the stage events, each within
    ``conversion_window`` of the previous stage (default 7 days, matching
    the batch query). State is three timestamps per user — O(1)
    regardless of event volume, evicted at the watermark horizon. Rows
    inside each micro-batch are sorted by event time before the state
    machine advances, so in-order replay reproduces the batch funnel
    exactly (parity-tested)."""
    s1, s2, s3 = stages
    win = conversion_window if conversion_window is not None else pd.Timedelta(days=7)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(ts_col)
        for _, row in batch.iterrows():
            et, ts = row[type_col], row[ts_col]
            if t1 is None:
                if et == s1:
                    t1 = ts
            elif t2 is None:
                if et == s2 and ts > t1 and ts <= t1 + win:
                    t2 = ts
            elif t3 is None:
                if et == s3 and ts > t2 and ts <= t2 + win:
                    t3 = ts
        state.update((t1, t2, t3))
        stage = (t1 is not None) + (t2 is not None) + (t3 is not None)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "stage": [stage],
                "t1": [t1],
                "t2": [t2],
                "t3": [t3],
            }
        )

    e = with_watermark(events, ts_col, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_STATE_SCHEMA = StructType(
    [StructField("s", DoubleType()), StructField("n", LongType())]
)
EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)


def ewma_per_user(
    events: DataFrame,
    *,
    alpha: float = 0.3,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming EWMA: the recurrence s ← αx + (1−α)s folded over each
    user's events in (ts, event_id) order, with s carried ACROSS
    micro-batches in the state store — the unbounded-series twin of the
    batch closed form (plans/events.py::events_ewma_hourly). Within a
    batch the group's rows are sorted by event time before folding, so
    the composition (sort batch 1, fold) ∘ (sort batch 2, fold) equals
    one fold over the ordered series whenever batches respect event-time
    ranges — the watermark is what bounds the disorder. State per user is
    two scalars; Arrow-batched, partitioned by user key."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            s, n = state.get
        else:
            s, n = None, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            rows = pd.concat(chunks).sort_values([ts_col, "event_id"])
            for v in rows[value_col]:
                v = float(v)
                s = v if s is None else alpha * v + (1.0 - alpha) * s
            n += len(rows)
        state.update((s, n))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "ewma": [s]}
        )

    e = with_watermark(events, ts_col, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HOLT_STATE_SCHEMA = StructType(
    [
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("n", LongType()),
    ]
)
HOLT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_next", DoubleType()),
    ]
)


def holt_per_user(
    events: DataFrame,
    *,
    alpha: float = 0.5,
    beta: float = 0.3,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming Holt double-exponential smoothing: the single-pass O(n)
    twin of the batch closed form (plans/events.py::
    events_holt_trend_forecast) — level ℓ ← αx + (1−α)(ℓ+b) and trend
    b ← β(ℓ'−ℓ) + (1−β)b folded over each user's events in
    (ts, event_id) order, the (ℓ, b) pair carried ACROSS micro-batches
    in the state store. Init ℓ=x₁, b=0, same recurrence and same
    IEEE-double fold order as the batch query, so the composed
    batch-by-batch fold equals one fold over the ordered series whenever
    batches respect event-time ranges (watermark bounds the disorder;
    batch-parity tested). State per user is three scalars."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            l, b, n = state.get
        else:
            l, b, n = None, 0.0, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            rows = pd.concat(chunks).sort_values([ts_col, "event_id"])
            for v in rows[value_col]:
                v = float(v)
                if l is None:
                    l, b = v, 0.0
                else:
                    l2 = alpha * v + (1.0 - alpha) * (l + b)
                    b = beta * (l2 - l) + (1.0 - beta) * b
                    l = l2
            n += len(rows)
        state.update((l, b, n))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "level": [l],
                "trend": [b],
                "forecast_next": [None if l is None else l + b],
            }
        )

    e = with_watermark(events, ts_col, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=HOLT_OUT_SCHEMA,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HLL_STATE_SCHEMA = StructType(
    [StructField("regs", ArrayType(IntegerType()))]
)
HLL_OUT_SCHEMA = StructType(
    [
        StructField("hour", TimestampType()),
        StructField("est_distinct", DoubleType()),
    ]
)

_HLL_M = 64


def hll_distinct_per_hour(
    events: DataFrame,
    *,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming approximate distinct-count: per-hour HLL over users with
    registers carried across micro-batches — a mergeable sketch IS
    streaming state (register max is order- and batch-boundary-
    insensitive, so the streaming estimate equals the batch operator
    operators/sketches.py::hll_distinct exactly; parity-tested). The
    hash→(bucket, ρ) projection runs JVM-side BEFORE the stateful op —
    Python only folds per-bucket maxima over Arrow batches, never
    hashes. State is m=64 ints per open hour; the watermark bounds how
    many hours stay open."""
    from ..functions.hashing import portable_hash64

    m = _HLL_M
    b = 6
    rest_bits = 60 - b
    h = portable_hash64(F.col(key_col).cast("string"))
    rest = F.shiftright(h, b)
    # length of the minimal binary string == bit_length (same swap as
    # operators/sketches.py::hll_registers — one codegen string op per
    # row instead of a 54-element sequence+filter lambda)
    bitlen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
    prepared = with_watermark(events, ts_col, watermark).select(
        F.date_trunc("hour", ts_col).alias("hour"),
        F.pmod(h, F.lit(m)).cast("int").alias("bk"),
        (F.lit(rest_bits + 1) - bitlen).cast("int").alias("rho"),
    )

    alpha = 0.7213 / (1 + 1.079 / m)
    top = rest_bits + 1

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (hour,) = key
        regs = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            if len(pdf):
                mx = pdf.groupby("bk")["rho"].max()
                for bk, rho in mx.items():
                    if rho > regs[bk]:
                        regs[bk] = int(rho)
        state.update((regs,))
        isum = sum(1 << (top - r) for r in regs)
        v = sum(1 for r in regs if r == 0)
        e_raw = alpha * m * m * float(1 << top) / isum
        est = m * __import__("math").log(m / v) if (e_raw <= 2.5 * m and v > 0) else e_raw
        yield pd.DataFrame({"hour": [hour], "est_distinct": [round(est, 4)]})

    return prepared.groupBy("hour").applyInPandasWithState(
        update,
        outputStructType=HLL_OUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

