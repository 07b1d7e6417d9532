"""Event-stream analytics over the ``events`` table.

- batch forms of the streaming patterns in streaming/: tumbling windows,
  sessionization, lag, as-of join;
- time series: gap-filled resampling with last-observation-carried-forward
  and trailing-window anomaly scores, both pure window/aggregate plans;
- behavioral analytics: cohort retention, Markov transitions, session
  paths, seasonality/burstiness, interval/SCD2 joins, attribution,
  sequence-pattern matching, and exponential smoothing (EWMA level; Holt
  level+trend forecast).

The recurrence queries share one oracle discipline: fold each bounded,
ordered series inside one row over inputs both engines agree on exactly
(pre-rounded means, or exact integer counts), in identical order — IEEE
double arithmetic is deterministic, so the recursive columns match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.asof import asof_join
from ..sources import load_table
from .registry import query


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(ROUND(value * 1000000, 0)) / 1000000.0, 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.round(F.col("value") * 1000000, 0)) / 1000000.0, 2).alias("total_value"),
    )


@query(
    "events_tumbling_window_fn",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch_us(ts) / 1800000000) * 1800000000 AS BIGINT))
             AS window_start,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def events_tumbling_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ``window()`` function exercised in batch mode (same
    epoch-aligned bucketing the streaming tumbling aggregation uses);
    oracle reproduces the bucket arithmetic on epoch microseconds."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


@query(
    "events_session_window_fn",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM x
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-native ``session_window()`` operator exercised in batch
    mode (the same merge logic Structured Streaming runs stateful — windows
    are [first_ts, last_ts + gap), an event at exactly the previous window's
    end starts a new session). Oracle reproduces the merge as gaps-and-
    islands with the matching >= gap boundary. Streaming parity of this
    operator across restarts is tested in tests/ (streaming/windows.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "events_sliding_window_fn",
    oracle="""
    SELECT make_timestamp(CAST((floor(epoch_us(ts) / 600000000) - k.k) * 600000000 AS BIGINT))
             AS window_start,
           COUNT(*) AS n_events
    FROM events, UNNEST(range(0, 3)) AS k(k)
    GROUP BY 1
    """,
)
def events_sliding_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — ``window(ts, 30min, slide 10min)`` in
    batch mode: every event lands in exactly window/slide = 3 overlapping
    windows. The oracle expands each event into its 3 slide-aligned window
    starts and aggregates; Spark's streaming window assignment uses the same
    epoch-aligned arithmetic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


@query(
    "events_dedup_watermark_eq",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def events_dedup_watermark_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of streaming ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type): keep each key's FIRST event in event-time order
    (tie-broken by event_id so the survivor is deterministic — batch
    ``dropDuplicates`` alone keeps an arbitrary row). The streaming path
    (state + watermark eviction, late-duplicate drop across restart) is
    tested in tests/; this oracle row pins the keep-first semantics the
    stream converges to."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


@query(
    "sort_nulls_first",
    oracle="""
    SELECT c.c_custkey, b.n_big
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_big FROM orders
      WHERE o_totalprice > 300000 GROUP BY o_custkey
    ) b ON b.o_custkey = c.c_custkey
    ORDER BY b.n_big ASC NULLS FIRST, c.c_custkey
    LIMIT 50
    """,
)
def sort_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null-ordering coverage: engines disagree on default null
    placement (Spark NULLS FIRST asc, DuckDB NULLS LAST), so the ordering
    is pinned explicitly on both sides."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_big"))
    )
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left")
        .select("c_custkey", "n_big")
        .orderBy(F.col("n_big").asc_nulls_first(), F.col("c_custkey").asc())
        .limit(50)
    )


@query(
    "events_lag_per_user",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events
    """,
)
def events_lag_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )


@query(
    "events_sessionize",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM x
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >30-min silence starts a new session.
    Streaming equivalent: ``session_window(ts, '30 minutes')`` (streaming/)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "events_asof_last_click",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), clk AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT e.event_id, c.value,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM err e JOIN clk c ON c.user_id = e.user_id AND c.ts <= e.ts
    )
    SELECT e.event_id, e.user_id, j.value AS last_click_value
    FROM err e LEFT JOIN (SELECT event_id, value FROM j WHERE rn = 1) j
      ON j.event_id = e.event_id
    """,
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the value of the same user's most
    recent click at-or-before it. Uses the union+window asof operator
    (single shuffle — no per-key cross product; see operators/asof.py)."""
    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("last_click_value")
    )
    joined = asof_join(
        err, clk, on="user_id", ts="ts", value_cols=["last_click_value"], tiebreak="event_id"
    )
    return joined.select("event_id", "user_id", "last_click_value")


@query(
    "events_funnel",
    oracle="""
    WITH u1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), u2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN u1 ON e.user_id = u1.user_id
      WHERE e.event_type = 'click' AND e.ts > u1.t1
        AND e.ts <= u1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), u3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN u2 ON e.user_id = u2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        AND e.ts <= u2.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM u1) AS n_view,
           (SELECT COUNT(*) FROM u2) AS n_view_click,
           (SELECT COUNT(*) FROM u3) AS n_full_funnel
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel (view -> click -> purchase, strictly
    ordered first occurrences, each stage within 7 days of the previous —
    the conversion-window constraint that makes the stages discriminate).
    The oracle re-derives each stage with a per-stage join+min; the Spark
    plan instead computes all three stage timestamps in ONE pass over a
    single hash partitioning of user_id — three stacked window-mins over
    the same Window spec share one Exchange, so at 100 TB the funnel
    costs one shuffle of (user_id, ts, event_type), not three join
    shuffles."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    horizon = F.expr("INTERVAL 7 DAY")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + horizon),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + horizon),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_full_funnel"),
    )


# ==========================================================================
# Time series: regularize an irregular event stream onto a fixed grid, then
# score each bucket against its own trailing history
# ==========================================================================


# Exact hourly mean: integer-microsecond sum (engine-order-independent)
# divided by count — the same trick events_hourly_rollup uses.
_EXACT_MEAN_SQL = "ROUND(SUM(ROUND(value * 1000000, 0)) / 1000000.0 / COUNT(value), 4)"


@query(
    "events_resample_locf",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS INT) AS n_events,
             {_EXACT_MEAN_SQL} AS mean_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, g.g AS hour
      FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(g)
    )
    SELECT g.user_id, g.hour,
           COALESCE(h.n_events, 0) AS n_events,
           LAST_VALUE(h.mean_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf
    FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    """,
)
def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's event stream onto an hourly grid between
    their first and last active hour; empty buckets carry the last
    observed hourly mean forward (LOCF interpolation).

    Plan: one keyed hourly aggregate, a per-user bounds aggregate whose
    ``sequence()`` explodes the grid (rows ∝ users × active span — never a
    cross join against a global calendar), a keyed left join back, and ONE
    window pass for the carry-forward. Everything partitions by user; at
    100 TB the grid explode is the only row amplification and it is
    bounded by the span actually observed per user."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("int").alias("n_events"),
        F.round(
            F.sum(F.round(F.col("value") * 1000000, 0)) / 1000000.0 / F.count("value"),
            4,
        ).alias("mean_value"),
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("mean_value", ignorenulls=True).over(w).alias("value_locf"),
        )
    )


@query(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT event_type, hour, n,
             AVG(n) OVER w AS mu,
             STDDEV_SAMP(n) OVER w AS sigma,
             COUNT(*) OVER w AS n_hist
      FROM hourly
      WINDOW w AS (
        PARTITION BY event_type ORDER BY epoch(hour)
        RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING
      )
    )
    SELECT event_type, hour, CAST(n AS INT) AS n_events,
           ROUND((n - mu) / sigma, 4) AS zscore,
           CASE WHEN ABS((n - mu) / sigma) >= 2 THEN 1 ELSE 0 END AS is_anomaly
    FROM scored
    WHERE n_hist >= 12 AND sigma > 0
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each (event_type, hour) bucket's
    count is z-scored against that type's own previous 24 hours (RANGE
    frame on epoch seconds, so calendar gaps don't silently shrink the
    baseline the way a ROWS frame would). Buckets need >= 12 trailing
    hours of history and nonzero variance to be scored.

    Plan: one keyed hourly aggregate, ONE window shuffle on event_type —
    the whole detector is two exchanges regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("double").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("hour"))
        .rangeBetween(-86400, -3600)
    )
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        hourly.select(
            "event_type",
            "hour",
            F.col("n").cast("int").alias("n_events"),
            F.round(z, 4).alias("zscore"),
            (F.abs(z) >= 2).cast("int").alias("is_anomaly"),
            F.count("n").over(w).alias("__n_hist"),
            F.stddev_samp("n").over(w).alias("__sigma"),
        )
        .filter((F.col("__n_hist") >= 12) & (F.col("__sigma") > 0))
        .drop("__n_hist", "__sigma")
    )


# ==========================================================================
# Behavioral analytics: cohorts, Markov transitions, session paths,
# seasonality, interval joins, attribution, sequence patterns, smoothing
# ==========================================================================


_ALPHA = 0.3


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS INT) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week,
    counted in every subsequent week they return — the
    (cohort_week, week_offset, n_users) triangle. Two keyed aggregations
    plus one join on user_id; the join key is the USER, so the shuffle
    volume is active users, not events, and the week math happens after
    aggregation."""
    e = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    firsts = (
        e.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    )
    activity = e.select("user_id", wk.alias("wk")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("int").alias("n_users"))
    )


@query(
    "events_ewma_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             FLOOR(AVG(value) * 1000000 + 0.5) / 1000000 AS v
      FROM events GROUP BY 1, 2
    ), arr AS (
      SELECT user_id,
             list(struct_pack(hour := hour, v := v) ORDER BY hour) AS xs
      FROM hourly GROUP BY user_id
    )
    SELECT user_id, xs[i.i].hour AS hour, xs[i.i].v AS v,
           FLOOR(list_reduce(list_transform(xs[1:i.i], x -> x.v),
                             (acc, x) -> {_ALPHA} * x + {1 - _ALPHA} * acc)
                 * 1000000 + 0.5) / 1000000 AS ewma
    FROM arr, UNNEST(range(1, len(xs) + 1)) AS i(i)
    """,
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed hourly value per user (α=0.3, s₀=x₀): the trend line
    the anomaly detector's trailing mean approximates, computed exactly.
    Hourly means are one keyed agg; each user's series is then folded
    IN ORDER inside one row (collect → sort → per-index aggregate) — a
    second keyed shuffle on user_id and zero cross-row dependencies, the
    same bounded-series discipline as sessionize. Unbounded/streaming
    series run the identical recurrence with state carried across
    micro-batches in streaming/windows.py::ewma_per_user (batch-parity
    tested). Means are
    quantized (FLOOR(x·1e6+0.5)/1e6, not ROUND — the fold output lands
    on exact .5 ties at the 6th decimal where the engines' ROUNDs
    diverge; 6 rows at sf0.1, caught by the r11 full-sf0.1 sweep) BEFORE
    the fold so both engines fold identical doubles in identical order,
    and the EWMA output is quantized the same way."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg((F.floor(F.avg("value") * 1000000 + 0.5) / 1000000).alias("v"))
    arr = hourly.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("hour", "v"))).alias("xs")
    )
    vals = F.transform("xs", lambda x: x["v"])
    # r14 (guide §1.2 per-task work): the r13 form re-folded the whole
    # prefix v[2..i] for EVERY output index — O(L²) interpreted lambda
    # steps per user (~50M at sf0.1). One linear fold now builds the full
    # EWMA series as an array (each step appends α·x + (1−α)·last — the
    # identical left-to-right recurrence, so every value is bit-identical),
    # the array is computed ONCE per row in its own projection (explode's
    # generator input references it as an attribute, so it cannot be
    # inlined per element), and the rows come from one arrays_zip.
    ewmas = F.aggregate(
        F.slice(vals, F.lit(2), F.size("xs") - 1),
        F.array(F.element_at(vals, 1)),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.lit(_ALPHA) * x
                + F.lit(1 - _ALPHA) * F.element_at(acc, F.size(acc))
            ),
        ),
    )
    ewmas_q = F.transform(
        ewmas, lambda x: F.floor(x * 1000000 + 0.5) / 1000000
    )
    z = arr.select("user_id", "xs", ewmas_q.alias("ewq"))
    return z.select(
        "user_id", F.explode(F.arrays_zip("xs", "ewq")).alias("r")
    ).select(
        "user_id",
        F.col("r.xs.hour").alias("hour"),
        F.col("r.xs.v").alias("v"),
        F.col("r.ewq").alias("ewma"),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), c AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, SUM(n) AS t FROM c GROUP BY 1
    )
    SELECT c.event_type, c.next_type, c.n,
           ROUND(c.n / CAST(tot.t AS DOUBLE), 6) AS p_next
    FROM c JOIN tot USING (event_type)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior:
    P(next event type | current), estimated from per-user event
    sequences — the behavioral fingerprint behind funnel design and
    bot detection (a near-deterministic row is a script). One user-keyed
    window (lead) with the (ts, event_id) tiebreak, then two
    type-pair-sized aggregations — the matrix is |types|², broadcast-
    sized at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("event_type").agg(F.sum("n").alias("t"))
    return c.join(tot, "event_type").select(
        "event_type", "next_type", "n",
        F.round(F.col("n") / F.col("t").cast("double"), 6).alias("p_next"),
    )


@query(
    "events_top_paths",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM x
    ), seqs AS (
      SELECT user_id, session_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM s GROUP BY 1, 2
    ), grams AS (
      SELECT types[i.i] || '>' || types[i.i + 1] || '>' || types[i.i + 2] AS path
      FROM seqs, UNNEST(range(1, len(types) - 1)) AS i(i)
      WHERE len(types) >= 3
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY path
    ORDER BY n DESC, path LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the 20 most common 3-step event paths
    WITHIN a session (30-min-gap sessionization, same rule as
    events_sessionize) — the navigation fingerprints that drive funnel
    design beyond fixed stage lists. One user-keyed window pass to
    sessionize, one per-session collect (bounded by session length), then
    a word-count over paths and a distributed TakeOrdered — nothing
    corpus-sized is ever globally sorted."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    s = e.withColumn("session_id", F.sum(is_new).over(wrun))
    seqs = s.groupBy("user_id", "session_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ).alias("types")
    )
    grams = seqs.select(
        F.explode(
            F.when(
                F.size("types") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("types") - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at("types", i),
                        F.element_at("types", i + 1),
                        F.element_at("types", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@query(
    "stats_chi2_type_hour",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1
    ), ct AS (
      SELECT hr, SUM(o) AS c FROM obs GROUP BY 1
    ), tot AS (
      SELECT SUM(o) AS t FROM obs
    )
    SELECT CAST(COUNT(*) AS INT) AS n_cells,
           ROUND(SUM(POW(o.o - rt.r * ct.c / tot.t, 2)
                     / (rt.r * ct.c / tot.t)), 6) AS chi2
    FROM obs o
    JOIN rt USING (event_type)
    JOIN ct USING (hr), tot
    """,
)
def stats_chi2_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for event type × hour-of-day —
    "does behavior depend on time?" answered with the classic
    Σ(O−E)²/E over the contingency table. Counts are exact integers and
    the expected-value algebra is identical closed form on both engines;
    the contingency table is |types|×24 — every aggregate after the
    first shrinks, nothing corpus-sized shuffles twice."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count("*").cast("double").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("hr").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("t"))
    exp = F.col("r") * F.col("c") / F.col("t")
    return (
        obs.join(rt, "event_type")
        .join(ct, "hr")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("int").alias("n_cells"),
            F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2"),
        )
    )


@query(
    "events_seasonality_profile",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB 0=Sun; Spark 1=Sun
           CAST(hour(ts) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity profile — the seasonality grid
    behind capacity planning and anomaly baselines (the hourly z-score
    detector's expected value varies BY CELL of this grid). One map-side-
    combined aggregate into a 7×24 table."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@query(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1000000.0, 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_us, 0.95) / 1000000.0, 4) AS p95_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap percentiles per event type (the event following a
    gap is attributed) — the burstiness profile that sets session-gap and
    watermark parameters from data instead of folklore. Gaps are exact
    integer microseconds off one user-keyed lag window; percentiles
    interpolate over those integers (the agg_percentiles determinism
    trick), then one tiny per-type aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 4).alias("p50_gap_s"),
        F.round(F.percentile("gap_us", F.lit(0.95)) / 1e6, 4).alias("p95_gap_s"),
    )


_CUSUM_K = 0.5  # slack, in units of the global mean


@query(
    "events_cusum_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, ROUND(AVG(value), 6) AS v
      FROM events GROUP BY 1
    ), mu AS (
      SELECT ROUND(AVG(v), 6) AS mu FROM hourly
    ), arr AS (
      SELECT list(struct_pack(hour := hour, v := v) ORDER BY hour) AS xs, mu.mu
      FROM hourly, mu GROUP BY mu.mu
    )
    SELECT xs[i.i].hour AS hour, xs[i.i].v AS v,
           ROUND(list_reduce(
             list_prepend(0.0, list_transform(xs[1:i.i], x -> x.v)),
             (acc, x) -> GREATEST(0.0, acc + x - mu - {_CUSUM_K!r} * mu)
           ), 6) AS cusum_high
    FROM arr, UNNEST(range(1, len(xs) + 1)) AS i(i)
    """,
)
def events_cusum_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection over the hourly value series:
    s_t = max(0, s_{{t-1}} + x_t − μ(1+k)) accumulates only SUSTAINED
    upward drift — the change-point statistic that catches slow regime
    shifts the per-hour z-score (events_hourly_anomaly) misses. Same
    exact-recurrence discipline as EWMA: pre-rounded hourly means folded
    in order inside one row, μ from a 1-row broadcast, so both engines
    fold identical doubles — the recursive column matches bit-for-bit.
    Streaming form drops into ewma_per_user's state shape unchanged."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.round(F.avg("value"), 6).alias("v")
    )
    mu = hourly.agg(F.round(F.avg("v"), 6).alias("mu"))
    arr = hourly.crossJoin(F.broadcast(mu)).groupBy("mu").agg(
        F.array_sort(F.collect_list(F.struct("hour", "v"))).alias("xs")
    )
    vals = F.transform("xs", lambda x: x["v"])
    cusum_at = lambda i: F.aggregate(  # noqa: E731
        F.slice(vals, F.lit(1), i),
        F.lit(0.0),
        lambda acc, x: F.greatest(
            F.lit(0.0), acc + x - F.col("mu") - F.lit(_CUSUM_K) * F.col("mu")
        ),
    )
    idx = F.sequence(F.lit(1), F.size("xs"))
    rows = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("xs", i)["hour"].alias("hour"),
            F.element_at("xs", i)["v"].alias("v"),
            F.round(cusum_at(i), 6).alias("cusum_high"),
        ),
    )
    return arr.select(F.explode(rows).alias("r")).select(
        "r.hour", "r.v", "r.cusum_high"
    )


@query(
    "events_burstiness",
    oracle="""
    WITH hc AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(c) AS DOUBLE) AS s1,
             CAST(SUM(c * c) AS DOUBLE) AS s2
      FROM hc GROUP BY user_id
    )
    SELECT user_id,
           CAST(s1 AS BIGINT) AS n_events,
           CAST(n AS INT) AS active_hours,
           ROUND((s2 / n - (s1 / n) * (s1 / n)) / (s1 / n), 6) AS fano_factor
    FROM s WHERE s1 > 0
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness per user: the Fano factor (variance-to-mean) of hourly
    event counts over ACTIVE hours — Poisson-like activity sits near 1,
    schedulers/bots below, bursty humans above. Counts are exact
    integers; the dispersion is the usual closed-form moment algebra
    after two shrinking aggregations, so the oracle matches exactly."""
    e = load_table(spark, sf_dir, "events")
    hc = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("c")
    )
    s = hc.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
    )
    m = F.col("s1") / F.col("n")
    return s.filter(F.col("s1") > 0).select(
        "user_id",
        F.col("s1").cast("bigint").alias("n_events"),
        F.col("n").cast("int").alias("active_hours"),
        F.round((F.col("s2") / F.col("n") - m * m) / m, 6).alias("fano_factor"),
    )


@query(
    "events_interval_join",
    oracle="""
    WITH clk AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), pur AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds,
           ROUND(p.value, 2) AS purchase_value
    FROM clk c JOIN pur p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs within a 1-hour window — the BATCH
    TWIN of the stream-stream interval join
    (streaming/joins.py::stream_stream_within, state bounded by
    watermark + interval; tests/test_stream_joins.py drives the streaming
    form over the file spool). The operator is literally shared: batch
    DataFrames pass through the same code path (withWatermark is a no-op
    outside streaming), so this driver row value-checks the exact join
    condition the stateful streaming join runs. Scale shape: equi-join on
    user_id with the time bound in the join condition (range-pruned
    inside each key group); state at 100 TB streams is O(rate × 1 h),
    independent of stream length."""
    from ..streaming import joins as J

    e = load_table(spark, sf_dir, "events")
    clk = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = J.stream_stream_within(
        clk, pur, "user_id", within="1 hour", watermark="2 hours"
    )
    return j.select(
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_user_id").alias("user_id"),
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts"))
        .cast("bigint")
        .alias("lag_seconds"),
        F.round("r_value", 2).alias("purchase_value"),
    )


@query(
    "events_scd2_dim_join",
    oracle="""
    WITH users AS (
      SELECT DISTINCT user_id FROM events
    ), dim AS (
      SELECT user_id,
             'T' || CAST(user_id % 3 AS VARCHAR) AS tier,
             TIMESTAMP '2023-01-01 00:00:00' AS valid_from,
             CASE WHEN user_id % 5 = 0
                  THEN TIMESTAMP '2024-01-16 00:00:00' END AS valid_to
      FROM users
      UNION ALL
      SELECT user_id,
             'T' || CAST((user_id + 1) % 3 AS VARCHAR),
             TIMESTAMP '2024-01-16 00:00:00',
             CAST(NULL AS TIMESTAMP)
      FROM users WHERE user_id % 5 = 0
    )
    SELECT e.event_type, d.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN dim d
      ON d.user_id = e.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    GROUP BY e.event_type, d.tier
    """,
)
def events_scd2_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join: every event is enriched with the SCD2
    dimension row VALID AT ITS EVENT TIME (users in the T-mod-3 tier
    dimension, with every fifth user re-tiered mid-month), then rolled
    up per (event_type, tier). The warehouse-meets-events pattern the
    SCD2 family existed for: merge_scd2_* maintains the versioned
    dimension, this query consumes it — an equi-join on the user key
    with the validity interval as a residual range predicate, so the
    join shuffles once on user_id and the interval filter runs inside
    the join (never a cartesian; at 100 TB the dimension side is
    user-sized, AQE chooses broadcast vs shuffle). Exact integer cents
    keep the rollup value-oracled."""
    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    base = users.select(
        "user_id",
        F.concat(F.lit("T"), (F.col("user_id") % 3).cast("string")).alias("tier"),
        F.lit("2023-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("user_id") % 5 == 0,
            F.lit("2024-01-16 00:00:00").cast("timestamp"),
        ).alias("valid_to"),
    )
    retiered = users.filter(F.col("user_id") % 5 == 0).select(
        "user_id",
        F.concat(F.lit("T"), ((F.col("user_id") + 1) % 3).cast("string")).alias(
            "tier"
        ),
        F.lit("2024-01-16 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = base.unionByName(retiered)
    joined = e.join(
        dim,
        (e["user_id"] == dim["user_id"])
        & (e["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (e["ts"] < dim["valid_to"])),
    )
    return joined.groupBy("event_type", "tier").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


@query(
    "udaf_median_value_by_type",
    oracle="""
    SELECT event_type,
           ROUND(MEDIAN(value), 6) AS median_value
    FROM events GROUP BY event_type
    """,
)
def udaf_median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median event value computed through the PYTHON UDAF
    extension point (functions/udtf_examples.py::grouped_median —
    applyInPandas, Arrow-batched) and value-checked against DuckDB's
    native MEDIAN: the proof that the Python extension surface is not
    just present but NUMERICALLY FAITHFUL through the Arrow boundary
    (both sides interpolate the midpoint of even-count groups). This is
    deliberately the ONLY Python-path query in the catalog — the engine
    stance is built-ins first (SCALE.md "Python only off the hot path");
    when users do need the escape hatch, this row is the template and
    the evidence it round-trips exactly."""
    from ..functions.udtf_examples import grouped_median

    e = load_table(spark, sf_dir, "events")
    out = grouped_median(e.select("event_type", "value"), "event_type", "value")
    return out.select(
        "event_type", F.round("median_value", 6).alias("median_value")
    )


@query(
    "udtf_char_ngrams_eval_docs",
    oracle="""
    WITH eval_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    )
    SELECT doc_id,
           substr(text, i.i + 1, 3) AS ngram,
           CAST(i.i AS INT) AS position
    FROM eval_docs, UNNEST(range(0, GREATEST(0, len(text) - 2))) AS i(i)
    """,
)
def udtf_char_ngrams_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-grams with positions for the eval-slice documents,
    produced by the PYTHON UDTF extension point
    (functions/udtf_examples.py::NGramExpander) through a SQL LATERAL
    join, value-checked against DuckDB's substr expansion. Like the UDAF
    row, this exists to prove the third extension surface (one row in →
    many rows out) is numerically faithful — and it runs on the
    BENCHMARK SLICE only (docs with doc_id % 97 = 0): a row-at-a-time
    Python generator over a full corpus would be the slow path the
    engine stance forbids (the production n-gram operators are all
    built-in posexplode projections, e.g. operators/spans.py)."""
    from ..functions.udtf_examples import NGramExpander

    spark.udtf.register("char_ngrams_udtf", NGramExpander)
    d = load_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 97 == 0).createOrReplaceTempView(
        "_udtf_eval_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.ngram, t.position
        FROM _udtf_eval_docs d, LATERAL char_ngrams_udtf(d.text, 3) t
        """
    )


@query(
    "udf_vectorized_squared_relu",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(GREATEST(ROUND(value * 100, 0), 0) AS BIGINT)
                    * CAST(GREATEST(ROUND(value * 100, 0), 0) AS BIGINT))
                AS BIGINT) AS sum_sq_relu_cents2
    FROM events GROUP BY event_type
    """,
)
def udf_vectorized_squared_relu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Σ relu(value_cents)² with the relu² computed by the
    VECTORIZED scalar extension point
    (functions/udtf_examples.py::squared_relu, an Arrow-batched
    pandas_udf) over integer cents — squares of integers sum exactly in
    any order, so the result is bit-identical cross-engine —
    completing the extension-surface trio (scalar here, UDAF =
    udaf_median_value_by_type, UDTF = udtf_char_ngrams_eval_docs), each
    value-checked through the Arrow boundary against native DuckDB
    expressions."""
    from ..functions.udtf_examples import squared_relu

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0)
    return (
        e.select("event_type", squared_relu(cents).alias("sq"))
        .groupBy("event_type")
        .agg(F.sum(F.col("sq").cast("bigint")).alias("sum_sq_relu_cents2"))
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH purch AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, ts AS t_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ), j AS (
      SELECT p.p_id, p.p_value, t.touch_type
      FROM touch t JOIN purch p ON t.user_id = p.user_id
       AND t.t_ts <= p.p_ts AND t.t_ts > p.p_ts - INTERVAL 7 DAY
    ), a AS (
      SELECT touch_type, p_value,
             COUNT(*) OVER (PARTITION BY p_id) AS n_touches
      FROM j
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touch_events,
           ROUND(SUM(p_value / n_touches), 4) AS attributed_value
    FROM a GROUP BY touch_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's click/view touches in the preceding 7 days,
    then rolled up per touch channel. Plan: user-keyed equi-join with the
    interval as a join-side filter (per-user histories are bounded, so the
    join fans out per user, not per corpus — the day-bucketed interval
    join in this module is the shape to switch to if a key's history is
    unbounded), one per-purchase window count, one channel rollup.
    Purchases with zero preceding touches drop out (nothing to attribute),
    matching the inner join in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    j = touch.join(
        purch,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    per_purchase = Window.partitionBy("p_id")
    a = j.select(
        "touch_type", "p_value", F.count("*").over(per_purchase).alias("n_touches")
    )
    return a.groupBy("touch_type").agg(
        F.count("*").alias("n_touch_events"),
        F.round(F.sum(F.col("p_value") / F.col("n_touches")), 4).alias(
            "attributed_value"
        ),
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS ch
      FROM events
    ), seqs AS (
      SELECT user_id, COUNT(*) AS n_events,
             string_agg(ch, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'v+c*p')) AS INT) AS hits
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'v+c*p')) >= 1
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching per user (MATCH_RECOGNIZE-flavored):
    encode each user's time-ordered event stream as a character string
    (v/c/p/s/e) and count non-overlapping matches of the funnel regex
    ``v+c*p`` — views, optional clicks, then a purchase. One user-keyed
    aggregation builds the string (per-user histories are bounded — the
    same contract as sessionization; an unbounded key would need
    time-chunked matching), then the regex count is a codegen projection.
    Output: users with ≥1 match."""
    ev = load_table(spark, sf_dir, "events")
    coded = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
        .alias("ch"),
    )
    seqs = coded.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("seq"),
    )
    return (
        seqs.select(
            "user_id",
            "n_events",
            F.regexp_count("seq", F.lit(r"v+c*p")).cast("int").alias("hits"),
        )
        .filter(F.col("hits") >= 1)
    )


# Holt linear-trend smoothing constants. Both engines parse the same
# decimal literals to the same nearest double, and every fold step is
# pure double arithmetic in identical order, so the final rounded values
# match bit-for-bit (same discipline as the EWMA fold above).
_HW_A = 0.5  # level smoothing
_HW_B = 0.3  # trend smoothing


@query(
    "events_holt_trend_forecast",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), arr AS (
      SELECT event_type,
             list(struct_pack(hour := hour, n := n) ORDER BY hour) AS xs
      FROM hourly GROUP BY event_type
    ), folded AS (
      SELECT event_type, xs[i.i].hour AS hour, xs[i.i].n AS n,
             list_reduce(
               list_transform(xs[1:i.i],
                              x -> [CAST(x.n AS DOUBLE), 0.0::DOUBLE]),
               (acc, x) -> [
                 {_HW_A}::DOUBLE * x[1]
                   + {1 - _HW_A}::DOUBLE * (acc[1] + acc[2]),
                 {_HW_B}::DOUBLE * (({_HW_A}::DOUBLE * x[1]
                   + {1 - _HW_A}::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + {1 - _HW_B}::DOUBLE * acc[2]
               ]) AS st
      FROM arr, UNNEST(range(1, len(xs) + 1)) AS i(i)
    )
    SELECT event_type, hour, n,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[1] + st[2], 6) AS forecast_next
    FROM folded
    """,
)
def events_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over the hourly
    event-count series per type, with the one-step-ahead forecast
    ŷ = ℓ + b — the capacity-planning readout one step past EWMA (which
    tracks level only and lags any ramp). Init ℓ₁=x₁, b₁=0; recurrence
    ℓᵢ = αxᵢ + (1−α)(ℓᵢ₋₁+bᵢ₋₁), bᵢ = β(ℓᵢ−ℓᵢ₋₁) + (1−β)bᵢ₋₁ (α=0.5,
    β=0.3).

    Scale shape: identical to the EWMA fold — one keyed agg to hourly
    counts (map-side combined, exact integers so no pre-rounding is even
    needed), then each type's bounded series folds IN ORDER inside one
    row. The (level, trend) pair rides the fold as a 2-element double
    array: DuckDB 1.0's list_reduce mis-evaluates STRUCT accumulators
    after the first step (verified), and the array encoding is exact in
    both engines, so every level/trend/forecast value is
    oracle-checked bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    arr = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour", "n"))).alias("xs")
    )
    vals = F.transform("xs", lambda x: x["n"].cast("double"))
    a, b = F.lit(_HW_A), F.lit(_HW_B)

    # r14 (guide §1.2, the events_ewma_hourly fix): the r13 form re-folded
    # the whole x₂..x_i prefix for EVERY output index — O(L²) interpreted
    # lambda steps per type. One linear fold now builds the full
    # [level, trend] series as an array of pairs (each step applies the
    # identical recurrence to the last pair, so every value is
    # bit-identical), computed once per row in its own projection and
    # exploded via arrays_zip.
    def hw_step(last, x):  # the identical (level, trend) update as r13
        return F.array(
            a * x + (1 - a) * (last[0] + last[1]),
            b * ((a * x + (1 - a) * (last[0] + last[1])) - last[0])
            + (1 - b) * last[1],
        )

    sts = F.aggregate(
        F.slice(vals, F.lit(2), F.size("xs") - 1),
        F.array(F.array(F.element_at(vals, 1), F.lit(0.0))),
        lambda acc, x: F.concat(
            acc, F.array(hw_step(F.element_at(acc, F.size(acc)), x))
        ),
    )
    z = arr.select("event_type", "xs", sts.alias("sts"))
    return (
        z.select(
            "event_type", F.explode(F.arrays_zip("xs", "sts")).alias("r")
        )
        .select(
            "event_type",
            F.col("r.xs.hour").alias("hour"),
            F.col("r.xs.n").alias("n"),
            F.round(F.col("r.sts")[0], 6).alias("level"),
            F.round(F.col("r.sts")[1], 6).alias("trend"),
            F.round(F.col("r.sts")[0] + F.col("r.sts")[1], 6).alias(
                "forecast_next"
            ),
        )
    )


@query(
    "events_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), trended AS (
      SELECT hr, cnt,
             CAST(SUM(cnt) OVER w AS BIGINT) AS trend25,
             COUNT(*) OVER w AS frame_n
      FROM hourly
      WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    )
    SELECT CAST(EXTRACT(hour FROM hr) AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(CAST(SUM(25 * cnt - trend25) AS DOUBLE)
                 / (25.0 * COUNT(*)), 6) AS seasonal
    FROM trended WHERE frame_n = 25
    GROUP BY 1
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (STL-flavored) seasonal decomposition of hourly event
    volume: trend = centered 25-hour moving average, seasonal index =
    per-hour-of-day mean of the detrended series — "is 3 a.m. really
    quieter once the weekly growth trend is removed", the shape every
    capacity / anomaly baseline starts from. The detrended residual is
    kept as the exact integer 25·cnt − Σ₍₂₅₎cnt (counts are integers, so
    multiplying through by the window width defers ALL division to one
    final per-group step) — both engines sum identical integers and the
    seasonal index is deterministic. Edge hours without a full 25-row
    frame are excluded (frame_n = 25), matching the textbook centered-MA
    definition. One keyed hourly agg, one ordered window over the
    HOUR-sized series (time-domain-bounded, not event-bounded), one
    24-group agg."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.orderBy("hr").rowsBetween(-12, 12)
    trended = hourly.select(
        "hr",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("trend25"),
        F.count("*").over(w).alias("frame_n"),
    ).filter(F.col("frame_n") == 25)
    return (
        trended.groupBy(F.hour("hr").cast("int").alias("hour_of_day"))
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.round(
                F.sum(25 * F.col("cnt") - F.col("trend25")).cast("double")
                / (25.0 * F.count("*")),
                6,
            ).alias("seasonal"),
        )
    )


@query(
    "events_peak_hours",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), nb AS (
      SELECT hr, cnt,
             CAST(GREATEST(
               COALESCE(MAX(cnt) OVER (ORDER BY hr
                 ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), 0),
               COALESCE(MAX(cnt) OVER (ORDER BY hr
                 ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), 0)
             ) AS BIGINT) AS nb_max,
             COUNT(*) OVER (ORDER BY hr
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS frame_n
      FROM hourly
    )
    SELECT hr, cnt, CAST(cnt - nb_max AS BIGINT) AS prominence
    FROM nb WHERE frame_n = 5 AND cnt > nb_max
    """,
)
def events_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on hourly event volume: hours that
    strictly exceed every neighbor within ±2 hours, with prominence =
    cnt − max(neighbors) — the load-spike detector a capacity dashboard
    sits on (the complement of events_hourly_anomaly's z-score: peaks
    are about LOCAL shape, not global deviation). Strictness makes the
    answer unambiguous under ties (two equal adjacent hours are a
    plateau, not two peaks), and requiring a full 5-row frame drops the
    series edges instead of crowning them by default. Exact integer
    counts end-to-end; one keyed agg + one ordered window over the
    hour-domain series."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    before = Window.orderBy("hr").rowsBetween(-2, -1)
    after = Window.orderBy("hr").rowsBetween(1, 2)
    frame = Window.orderBy("hr").rowsBetween(-2, 2)
    nb = hourly.select(
        "hr",
        "cnt",
        F.greatest(
            F.coalesce(F.max("cnt").over(before), F.lit(0)),
            F.coalesce(F.max("cnt").over(after), F.lit(0)),
        ).cast("bigint").alias("nb_max"),
        F.count("*").over(frame).alias("frame_n"),
    )
    return nb.filter(
        (F.col("frame_n") == 5) & (F.col("cnt") > F.col("nb_max"))
    ).select(
        "hr", "cnt", (F.col("cnt") - F.col("nb_max")).cast("bigint").alias("prominence")
    )


@query(
    "events_mad_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY cnt, hr) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ), med AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cnt ELSE 0 END)
                  + SUM(CASE WHEN rn = (n + 2) // 2 THEN cnt ELSE 0 END)
                  AS BIGINT) AS med2
      FROM ranked GROUP BY event_type
    ), dev AS (
      SELECT h.event_type, h.hr, h.cnt,
             ABS(2 * h.cnt - m.med2) AS dev2
      FROM hourly h JOIN med m USING (event_type)
    ), dranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY dev2, hr) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ), madt AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
                  + SUM(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END)
                  AS BIGINT) AS mad4
      FROM dranked GROUP BY event_type
    )
    SELECT d.event_type, d.hr, d.cnt,
           ROUND(2.0 * d.dev2 / (1.4826 * t.mad4), 6) AS robust_z
    FROM dev d JOIN madt t USING (event_type)
    WHERE t.mad4 > 0 AND 2.0 * d.dev2 / (1.4826 * t.mad4) > 3.5
    """,
)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly detection on hourly volume per event
    type: flag hours with |cnt − median| > 3.5 · 1.4826·MAD — the
    outlier-resistant complement of events_hourly_anomaly's mean/σ
    z-score (one burst inflates a stddev and masks itself; it cannot
    move a median). Exact-integer discipline for the two medians: the
    middle-two-rank SUM gives 2·median(cnt) and 2·median(dev) as exact
    BIGINTs (ties are value-equal at the middle, so the (value, hr)
    rank tiebreak cannot change them), and the robust z is one double
    division at the end — both engines flag identical hours. Two
    ordered windows over the HOUR-domain series per type; flagged rows
    only."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("cnt"))

    def med2_of(df: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "hr")
        ranked = df.select(
            "event_type",
            col,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("event_type")).alias("n"),
        )
        mid1 = F.floor((F.col("n") + 1) / 2)
        mid2 = F.floor((F.col("n") + 2) / 2)
        return ranked.groupBy("event_type").agg(
            (
                F.sum(F.when(F.col("rn") == mid1, F.col(col)).otherwise(0))
                + F.sum(F.when(F.col("rn") == mid2, F.col(col)).otherwise(0))
            ).cast("bigint").alias(f"med2_{col}")
        )

    med = med2_of(hourly, "cnt")
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type",
        "hr",
        "cnt",
        F.abs(2 * F.col("cnt") - F.col("med2_cnt")).alias("dev2"),
    )
    madt = med2_of(dev, "dev2").withColumnRenamed("med2_dev2", "mad4")
    z = 2.0 * F.col("dev2") / (1.4826 * F.col("mad4"))
    return (
        dev.join(F.broadcast(madt), "event_type")
        .filter((F.col("mad4") > 0) & (z > 3.5))
        .select("event_type", "hr", "cnt", F.round(z, 6).alias("robust_z"))
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH acts AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events
    ), days AS (SELECT DISTINCT d FROM acts),
    wau AS (
      SELECT dy.d, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
      FROM days dy JOIN acts a
        ON a.d <= dy.d AND a.d > dy.d - INTERVAL 7 DAY
      GROUP BY dy.d
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM acts GROUP BY d
    )
    SELECT dau.d AS day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio every growth
    dashboard tracks (stickiness 1.0 = every weekly user shows up daily).
    WAU is a trailing-7-day distinct count computed as a RANGE-bounded
    day-to-day join over the BOUNDED day×user activity table (distinct
    first — the join input is one row per user-day, never event rows),
    which at 100 TB is the day-domain trick: the window join touches
    |days| × active-users rows, and the count_distinct shuffles on the
    (day, user) pair that is already distinct. Integer counts, one
    rounded ratio."""
    e = load_table(spark, sf_dir, "events")
    acts = e.select(
        F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = acts.select("d").distinct()
    a = acts.select(F.col("d").alias("ad"), "user_id")
    wau = (
        days.join(
            a,
            (F.col("ad") <= F.col("d"))
            & (F.col("ad") > F.date_sub(F.col("d"), 7)),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    dau = acts.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


def _markov_stationary_oracle(iters: int = 3, q: int = 1_000_000_000) -> str:
    """Unrolled power iterations over the event-type transition matrix;
    every iteration's distribution is re-quantized to 1e9 fixed point
    PER TERM (round the i→j contribution, then integer-sum), so both
    engines iterate identical integer vectors."""
    step = """
    p{next} AS (
      SELECT c.next_type AS state,
             CAST(SUM(CAST(ROUND(
               CAST(p.q AS DOUBLE) * c.n / tot.t, 0) AS BIGINT))
             AS BIGINT) AS q
      FROM c JOIN p{cur} p ON p.state = c.event_type
      JOIN tot ON tot.event_type = c.event_type
      GROUP BY c.next_type
    )"""
    steps = ",".join(step.format(cur=i, next=i + 1) for i in range(iters))
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), c AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY 1
    ), states AS (SELECT DISTINCT event_type AS state FROM c),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    p0 AS (
      SELECT state, CAST(ROUND(CAST({q} AS DOUBLE) / ns.k, 0) AS BIGINT) AS q
      FROM states, ns
    ),
    {steps}
    SELECT state, ROUND(CAST(q AS DOUBLE) / {q}, 6) AS stationary_p
    FROM p{iters}
    """


@query("events_markov_stationary", oracle=_markov_stationary_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain —
    where traffic settles if the observed transition matrix keeps running
    (the long-run mix a capacity model plugs in), iterated from uniform
    with 3 unrolled power steps on top of events_transition_matrix's
    counts. Each step is one broadcast join against the k×k count matrix
    (k = distinct event types, bounded) with every i→j contribution
    quantized to 1e9 fixed point BEFORE the integer sum — the same
    per-term discipline as the PageRank/eigenvector oracles but fully
    integer between steps, so the iterate is bit-identical across
    engines. The only corpus-scale work is the per-user LEAD window the
    transition query already pays."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    ).localCheckpoint(eager=False)
    tot = c.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("t"))
    states = c.select(F.col("event_type").alias("state")).distinct()
    k = states.count()  # bounded: distinct event types
    q = 1_000_000_000
    p = states.select("state", F.lit(round(q / k)).cast("bigint").alias("q"))
    cm = F.broadcast(c.join(tot, "event_type"))
    for _ in range(3):
        p = (
            cm.join(p, p.state == cm.event_type)
            .select(
                F.col("next_type").alias("state"),
                F.round(
                    F.col("q").cast("double") * F.col("n") / F.col("t"), 0
                ).cast("bigint").alias("tq"),
            )
            .groupBy("state")
            .agg(F.sum("tq").cast("bigint").alias("q"))
        )
    return p.select(
        "state",
        F.round(F.col("q").cast("double") / q, 6).alias("stationary_p"),
    )


@query(
    "events_asof_next_purchase",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, click_id,
           CAST(purchase_id AS BIGINT) AS next_purchase_id,
           CAST(datediff('second', click_ts, purchase_ts) AS BIGINT)
             AS secs_to_purchase
    FROM (
      SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id, p.purchase_ts,
             ROW_NUMBER() OVER (
               PARTITION BY c.user_id, c.click_id
               ORDER BY p.purchase_ts, p.purchase_id
             ) AS rn
      FROM clicks c JOIN purch p
        ON p.user_id = c.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts < c.click_ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
)
def events_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the time-reversed twin of
    events_asof_last_click: for every click, the FIRST purchase by the
    same user within the next hour (the conversion-latency primitive
    attribution and abandonment metrics build on). Expressed as a
    watermark-shaped interval join + per-click row_number pick, the same bounded-state plan
    a stream-stream forward join runs with: state per user is one hour of
    events, never the history. Tie-breaking is deterministic (earliest
    purchase_ts, then lowest id); the seconds-to-purchase MIN is over the
    same bounded candidate set."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    j = clicks.join(
        purch,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id", "click_id").orderBy(
        "purchase_ts", "purchase_id"
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "click_id",
            F.col("purchase_id").cast("bigint").alias("next_purchase_id"),
            (
                F.unix_timestamp("purchase_ts")
                - F.unix_timestamp("click_ts")
            ).cast("bigint").alias("secs_to_purchase"),
        )
    )


@query(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d
             ) AS INT) AS island
      FROM days
    ), streaks AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS streak_start
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MIN(streak_start) AS first_active_day
    FROM streaks
    GROUP BY user_id
    ORDER BY longest_streak_days DESC, user_id
    LIMIT 50
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: longest consecutive-calendar-day activity streak
    per user — the canonical SQL pattern (date minus dense row_number is
    constant within an island) and the engagement metric sessionization's
    time-gap windows don't answer. One row per user-day after the
    distinct, one user-keyed window, island-keyed count — every shuffle
    is user-bounded. Top-50 by streak with deterministic tie-break."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("d").alias("streak_start"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.min("streak_start").alias("first_active_day"),
        )
        .orderBy(F.desc("longest_streak_days"), F.asc("user_id"))
        .limit(50)
    )


@query(
    "events_type_affinity",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT DISTINCT user_id, event_type,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM x
    ), ns AS (
      SELECT CAST(COUNT(DISTINCT (user_id, session_id)) AS BIGINT) AS n
      FROM s
    ), per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM s GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS both_c
      FROM s a JOIN s b
        ON b.user_id = a.user_id AND b.session_id = a.session_id
       AND b.event_type > a.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.both_c,
           ROUND(CAST(p.both_c AS DOUBLE) * ns.n
                 / (CAST(ca.c AS DOUBLE) * cb.c), 6) AS lift
    FROM pairs p
    JOIN per_type ca ON ca.event_type = p.type_a
    JOIN per_type cb ON cb.event_type = p.type_b, ns
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level event-type AFFINITY: lift = P(a,b in the same
    session) / (P(a)·P(b)) over the 30-minute-gap sessions — basket_item
    _lift's behavioral twin (the "basket" is a session, the "items" are
    event types), answering which activities actually co-occur in a
    visit vs just being individually common. The session definition is
    the canonical events_sessionize window; the pair join runs on the
    DISTINCT (session, type) table, so its volume is sessions × |types|²
    at worst — types is bounded. Counts are exact BIGINTs; lift is one
    rounded ratio of four integers per pair."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    x = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap > 1_800_000_000, 1
        ).when(F.lag("ts").over(w).isNull(), 1).otherwise(0).alias("is_new"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = x.select(
        "user_id",
        "event_type",
        F.sum("is_new").over(w_run).cast("bigint").alias("session_id"),
    ).distinct().localCheckpoint(eager=False)
    ns = s.select("user_id", "session_id").distinct().agg(
        F.count("*").cast("bigint").alias("n")
    )
    per_type = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = s.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = s.select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("sb") == F.col("session_id"))
            & (F.col("type_b") > F.col("type_a")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("both_c"))
    )
    ca = per_type.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    cb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            "both_c",
            F.round(
                F.col("both_c").cast("double") * F.col("n")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_bounce_rate",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM x
    ), sess AS (
      SELECT user_id, session_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(date_trunc('day', MIN(ts)) AS DATE) AS day
      FROM s GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS bounce_rate
    FROM sess GROUP BY day
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily BOUNCE RATE — fraction of single-event sessions per
    session-start day, the canonical engagement-quality metric on every
    web dashboard, built on the canonical 30-minute sessionization (the
    same window as events_sessionize / events_type_affinity, so all
    three rows agree on what a session IS). Session sizes are exact
    integers from the user-keyed window + one session-keyed agg; the
    daily rate is one rounded division."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    x = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0).alias("is_new"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = x.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w_run).cast("bigint").alias("session_id"),
    )
    sess = s.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sess.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count("*"), 6).alias("bounce_rate"),
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sids AS (
      SELECT user_id, t,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM x
    ), sess AS (
      SELECT user_id, sid,
             CAST(MIN(t) AS BIGINT) AS t0,
             CAST(MAX(t) + 60000000 AS BIGINT) AS t1
      FROM sids GROUP BY user_id, sid
    ), pts AS (
      SELECT user_id, sid, t0 AS t, 1 AS d FROM sess
      UNION ALL
      SELECT user_id, sid, t1 AS t, -1 AS d FROM sess
    ), run AS (
      SELECT t,
             CAST(SUM(d) OVER (ORDER BY t, d, user_id, sid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS c
      FROM pts
    ), peak AS (
      SELECT MAX(c) AS peak_concurrent FROM run
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
           p.peak_concurrent,
           (SELECT CAST(MIN(t) AS BIGINT) FROM run
            WHERE c = p.peak_concurrent) AS first_peak_at_us
    FROM peak p
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENT SESSIONS — the capacity-planning number behind
    every connection-pool and autoscaling decision: sessionize per user
    (30-min gap, 60 s trailing grace), sweep +1/−1 endpoints in time
    order, the maximum of the running sum is the peak, reported with its
    first occurrence. The endpoint sweep is an inherently GLOBAL ordered
    cumulative sum over a session-scaled table, so it runs on the
    two-phase distributed prefix sum (operators/ranking.py) — ends sort
    before starts at the same instant ((t, d) with d=−1 < +1: a session
    ending exactly when another starts does not inflate the peak), and
    the (user, sid) tail keys make the order total. Sessionization is a
    user-partitioned window (parallel); everything after the per-session
    collapse is session-sized."""
    from ..operators.ranking import attach_global_order_stats

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    x = e.select(
        "user_id",
        "event_id",
        t_us.alias("t"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (t_us - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0).alias("ns"),
    )
    # (t, event_id) matches the lag window's (ts, event_id) order: with t
    # only, tied timestamps straddling a session boundary would make the
    # sid assignment permutation-dependent between engines/runs
    w_run = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sids = x.select(
        "user_id", "t", F.sum("ns").over(w_run).alias("sid")
    )
    # r14 negative (measured, reverted): checkpointing sess + the swept
    # run table (scans 2→0, Exchange 22→14 in the plan) LOST a 3-pair A/B
    # 2.9-5.9 s vs 1.9-2.5 s — attach_global_order_stats already pins its
    # input internally, so the extra materialization only serialized the
    # consumers behind it; the duplicated subtrees reuse their shuffle
    # exchanges (the r13 ngram lesson applies here, not the checkpoint one).
    sess = sids.groupBy("user_id", "sid").agg(
        F.min("t").cast("bigint").alias("t0"),
        (F.max("t") + 60_000_000).cast("bigint").alias("t1"),
    )
    pts = sess.select(
        "user_id",
        "sid",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("t1").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("p"),
    ).select("user_id", "sid", "p.t", "p.d")
    run = attach_global_order_stats(
        pts,
        [("t", "asc"), ("d", "asc"), ("user_id", "asc"), ("sid", "asc")],
        cumsum=("d", "c"),
    ).select("t", "c")
    n_sessions = sess.agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    peak = run.agg(F.max("c").alias("peak_concurrent"))
    first_at = (
        run.join(F.broadcast(peak), F.col("c") == F.col("peak_concurrent"))
        .agg(F.min("t").cast("bigint").alias("first_peak_at_us"))
    )
    return (
        n_sessions.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(first_at))
        .select("n_sessions", "peak_concurrent", "first_peak_at_us")
    )


@query(
    "window_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
             AS cents_last_hour
    FROM events
    WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-valued RANGE frame: each event's trailing-one-hour activity
    (event count + exact-cent value sum) for the same user — the rolling
    rate-limit / velocity-check window (fraud and abuse systems live on
    this shape), and the window-surface member window_range_frame's
    numeric RANGE doesn't cover: the frame is defined in TIME units, so
    peers are whatever fits the interval, not a row count. Both engines
    run RANGE over epoch MICROSECONDS (Spark rangeBetween takes longs,
    DuckDB takes the same integer bounds — no interval-literal semantics
    to disagree on). Per-user partitioned window — parallel at any
    scale; the user filter only bounds the compared output."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        F.sum(cents).over(w).cast("bigint").alias("cents_last_hour"),
    )


@query(
    "events_occupancy_heatmap",
    oracle="""
    WITH cells AS (
      SELECT CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) % 7
                  AS INT) AS dow,
             CAST(date_part('hour', ts) AS INT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hod, n_events,
           ROUND(CAST(n_events AS DOUBLE)
                 / SUM(n_events) OVER (PARTITION BY dow), 6) AS share_of_dow
    FROM cells
    """,
)
def events_occupancy_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday × hour-of-day OCCUPANCY HEATMAP — the load-shape grid
    behind staffing, maintenance-window, and rate-limit decisions (and
    the 2-D readout events_seasonality_profile's 1-D marginals
    summarize). Weekday classes use portable epoch-days-mod-7 integers
    (engines disagree on dayofweek() origins; integer arithmetic
    doesn't), hour via the shared date_part semantics. One cell-bounded
    agg (≤ 7×24 rows) riding map-side combine, one window over the cell
    table — pure scan-speed at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    w = Window.partitionBy("dow")
    return cells.select(
        "dow",
        "hod",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(w), 6
        ).alias("share_of_dow"),
    )


@query(
    "events_square_wave_periodogram",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                            date_trunc('hour', ts)) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
      FROM hourly
    ), contrast AS (
      SELECT p.p,
             CAST(SUM(y * (CASE WHEN 2 * (t % p.p) < p.p THEN 1 ELSE -1 END))
                  AS BIGINT) AS sys,
             CAST(SUM(CASE WHEN 2 * (t % p.p) < p.p THEN 1 ELSE -1 END)
                  AS BIGINT) AS ss
      FROM hourly, UNNEST([2, 3, 4, 6, 8, 12, 24]) AS p(p)
      GROUP BY p.p
    ), scored AS (
      SELECT c.p AS period_hours,
             CAST(ABS(t.n * c.sys - t.sy * c.ss) AS BIGINT) AS contrast_n
      FROM contrast c, tot t
    )
    SELECT period_hours, contrast_n,
           CAST(ROW_NUMBER() OVER (ORDER BY contrast_n DESC, period_hours)
                AS INT) AS rnk
    FROM scored
    """,
)
def events_square_wave_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQUARE-WAVE PERIODOGRAM (Walsh-style dominant-cycle detection) over
    hourly event counts: for each candidate period P, correlate the
    mean-centered hourly series with the +/-1 square wave of period P and
    rank periods by |contrast| - the seasonality detector that feeds a
    capacity plan or a seasonal-decompose period choice
    (events_seasonal_decompose assumes its period; this query MEASURES
    it). Deliberately trig-free: a DFT's cos/sin weights are libm calls
    whose last bit differs between engines, but the square-wave weights
    are exactly +/-1 and the mean-centering folds into the exact integer
    identity n*sum(y*s) - sum(y)*sum(s), so every value here is an exact
    BIGINT - zero float parity surface. Scale shape: one calendar-bounded
    hourly aggregate, a 7-literal period fan-out over the bounded hourly
    table, 7-row ranking; the corpus is scanned once."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        (
            F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600
        ).cast("bigint").alias("t")
    ).agg(F.count("*").cast("bigint").alias("y"))
    tot = hourly.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in (2, 3, 4, 6, 8, 12, 24)], "p bigint"
    )
    s = F.when(2 * (F.col("t") % F.col("p")) < F.col("p"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    contrast = (
        hourly.crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(F.col("y") * s).cast("bigint").alias("sys"),
            F.sum(s).cast("bigint").alias("ss"),
        )
    )
    scored = contrast.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("period_hours"),
        F.abs(F.col("n") * F.col("sys") - F.col("sy") * F.col("ss"))
        .cast("bigint")
        .alias("contrast_n"),
    )
    w = Window.orderBy(F.desc("contrast_n"), F.asc("period_hours"))
    return scored.select(
        "period_hours",
        "contrast_n",
        F.row_number().over(w).cast("int").alias("rnk"),
    )
