"""Statistics and hypothesis tests.

- autocorrelation, the Benford first-digit audit, Mann–Whitney U;
- overdispersion, effect-size matrix, quantized-log means, offline
  changepoint, a retention decay fit, the log-rank / Kaplan–Meier survival
  pair, and the inequality shelf (Theil, HHI, weighted median, entropy);
- time-series and effect-size statistics;
- Poisson-bootstrap CIs (one pass: each row draws B multiplicities from
  hashes, so resample b is an ordinary map-side-combinable aggregate),
  sequential testing (SPRT) and the power-user concentration curve (on
  the two-phase distributed rank, never a bare global window).

Determinism discipline: every statistic is closed-form algebra over
INTEGER-EXACT sums (cents / thousands-of-dollars BIGINTs, exact
decimal(38,0) moments), so Spark and DuckDB compute identical doubles and
the driver's value hash compares equal — no reliance on either engine's
corr()/stddev() accumulation order. Where a statistic needs logarithms or
reciprocals, each term is quantized to a BIGINT at 1e9 resolution on the
bounded value domain first and the sums run over integers; final doubles
are rounded at 6. Resample multiplicities come from integer threshold
comparisons on the md5-derived portable hash, and every rank×count
product casts one operand to decimal(38,0) first
(tests/test_overflow_guard.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import portable_hash64
from ..operators.ranking import attach_global_order_stats
from ..sources import load_table
from .registry import query


@query(
    "stats_autocorr_revenue",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        / 100000.0, 0) AS BIGINT) AS rev_k
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT rev_k AS y,
             LAG(rev_k) OVER (ORDER BY mon) AS x
      FROM m
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM lagged WHERE x IS NOT NULL
    )
    SELECT n AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             AS lag1_autocorr
    FROM s
    """,
)
def stats_autocorr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of monthly order revenue — the "is there
    month-over-month momentum / seasonality" probe under the Holt
    forecasting twin (events_holt_trend_forecast). Monthly sums quantize
    to exact integer thousands-of-dollars (cents-BIGINT sum first, so
    the quantization itself is order-independent), then Pearson r over
    the (rev, lag(rev)) pairs in closed form from six integer-exact
    sums — identical doubles on both engines. The month rollup is one
    keyed agg; the lag window runs over ~80 month rows (driver-size,
    not data-size)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    m = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(
            F.round(F.sum(cents) / 100000.0, 0).cast("bigint").alias("rev_k")
        )
    )
    lagged = m.select(
        F.col("rev_k").alias("y"),
        F.lag("rev_k").over(Window.orderBy("mon")).alias("x"),
    ).filter(F.col("x").isNotNull())
    s = lagged.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx).cast("double")
        * (n * F.col("syy") - sy * sy).cast("double")
    )
    return s.select(
        n.alias("n_pairs"), F.round(num / den, 6).alias("lag1_autocorr")
    )


@query(
    "stats_benford_price",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    )
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS obs_freq,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_freq
    FROM c
    """,
)
def stats_benford_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice: observed first-
    significant-digit frequencies next to the Benford expectation
    log10(1 + 1/d) — the fabricated-amounts detector every financial /
    synthetic-data audit runs. The digit comes from the STRING head of
    FLOOR(price) (both engines truncate identically; no float-log10
    digit extraction that could disagree at exact powers of ten), so the
    grouping is exact; the frequency is one 9-row window over the digit
    counts. One scan, one 9-group agg — fully scan-bound at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy()
    return c.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "obs_freq"
        ),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_freq"),
    )


@query(
    "stats_mann_whitney_u",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), cnt AS (
      SELECT v, CAST(SUM(ga) AS BIGINT) AS na_v,
             CAST(SUM(1 - ga) AS BIGINT) AS nb_v
      FROM vals GROUP BY v
    ), w AS (
      SELECT na_v, nb_v,
             CAST(COALESCE(SUM(nb_v) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cumb
      FROM cnt
    ), s AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS na,
             CAST(SUM(nb_v) AS BIGINT) AS nb,
             CAST(2 * SUM(na_v * cumb) + SUM(na_v * nb_v) AS BIGINT) AS u2,
             CAST(SUM((na_v + nb_v) * (na_v + nb_v) * (na_v + nb_v)
                      - (na_v + nb_v)) AS BIGINT) AS tsum
      FROM w
    )
    SELECT na AS n_a, nb AS n_b,
           CAST(u2 AS DOUBLE) / 2 AS u_stat,
           ROUND((CAST(u2 AS DOUBLE) / 2 - CAST(na * nb AS DOUBLE) / 2)
                 / SQRT(CAST(na * nb AS DOUBLE) / 12
                        * ((na + nb + 1)
                           - CAST(tsum AS DOUBLE)
                             / ((na + nb) * (na + nb - 1.0)))), 6)
             AS z_score
    FROM s
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test: do URGENT and LOW priority orders
    draw o_totalprice from the same distribution? U counts
    (a > b) pairs + half the ties WITHOUT ranking rows: group to
    distinct cent values with per-group (n_urgent, n_low) counts, then a
    running sum of n_low over the value order gives each value's
    "b's below me" — U = Σ na_v·cumb_v + ½·Σ na_v·nb_v, kept as the
    integer 2U so every term is exact BIGINT algebra; the normal-approx
    z uses the closed-form moments WITH the standard tie correction
    σ² = na·nb/12 · ((n+1) − Σ(t³−t)/(n·(n−1))) — cent-quantized prices
    do tie, and the uncorrected variance would bias |z| low. Σ(t³−t) is
    one more exact-BIGINT sum over the per-value counts already grouped. The only ordered pass is the window
    over DISTINCT values (≈30k rows at sf0.1, value-domain-bounded —
    the two-phase per-partition prefix-sum of operators/packing.py is
    the drop-in at 100 TB). Same pair-counting idea as the
    inverted-index dedup family: never materialize the n_a×n_b pairs."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    ga = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    vals = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        ga.alias("ga"),
    )
    cnt = vals.groupBy("v").agg(
        F.sum("ga").cast("bigint").alias("na_v"),
        F.sum(1 - F.col("ga")).cast("bigint").alias("nb_v"),
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cnt.select(
        "na_v",
        "nb_v",
        F.coalesce(F.sum("nb_v").over(w), F.lit(0)).cast("bigint").alias(
            "cumb"
        ),
    )
    t = F.col("na_v") + F.col("nb_v")
    s = ranked.agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum("nb_v").cast("bigint").alias("nb"),
        (
            2 * F.sum(F.col("na_v") * F.col("cumb"))
            + F.sum(F.col("na_v") * F.col("nb_v"))
        ).cast("bigint").alias("u2"),
        # tie correction term Σ(t³−t) over tie groups — exact BIGINT
        # (cent-quantized prices DO tie, so the no-ties variance would
        # overstate σ and bias |z| low)
        F.sum(t * t * t - t).cast("bigint").alias("tsum"),
    )
    na, nb, u2 = F.col("na"), F.col("nb"), F.col("u2")
    u = u2.cast("double") / 2
    mu = (na * nb).cast("double") / 2
    n = na + nb
    sigma = F.sqrt(
        (na * nb).cast("double") / 12
        * ((n + 1) - F.col("tsum").cast("double") / (n * (n - F.lit(1.0))))
    )
    return s.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u.alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z_score"),
    )


@query(
    "stats_ks_two_sample",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), cnt AS (
      SELECT v, CAST(SUM(ga) AS BIGINT) AS na_v,
             CAST(SUM(1 - ga) AS BIGINT) AS nb_v
      FROM vals GROUP BY v
    ), cum AS (
      SELECT CAST(SUM(na_v) OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(SUM(nb_v) OVER (ORDER BY v) AS BIGINT) AS cb
      FROM cnt
    ), tot AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS na,
             CAST(SUM(nb_v) AS BIGINT) AS nb
      FROM cnt
    ), d AS (
      SELECT CAST(MAX(ABS(ca * (SELECT nb FROM tot)
                          - cb * (SELECT na FROM tot))) AS BIGINT) AS dnum
      FROM cum
    )
    SELECT na AS n_a, nb AS n_b,
           ROUND(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
             AS d_stat,
           ROUND(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
                 * SQRT(CAST(na AS DOUBLE) * nb / (na + nb)), 6)
             AS ks_lambda,
           ROUND(2 * EXP(-2 * POW(CAST(dnum AS DOUBLE)
                                  / (CAST(na AS DOUBLE) * nb), 2)
                         * (CAST(na AS DOUBLE) * nb / (na + nb))), 6)
             AS p_one_term
    FROM d, tot
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample test: max CDF gap between URGENT and
    LOW priority o_totalprice — the distribution-shape complement to
    stats_mann_whitney_u's location test (KS sees variance/shape shifts
    a rank-sum misses). D is kept as the exact BIGINT numerator
    max|ca·nb − cb·na| over the cumulative per-value counts, divided
    once at the end, so both engines derive identical doubles;
    p_one_term is the leading term 2·exp(−2λ²) of the Smirnov series
    (the full alternating series is a driver-side refinement — the
    sorted-values scan is the distributed work). One window over
    DISTINCT cent values, same value-domain-bounded ordered pass as the
    U test."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    ga = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    vals = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        ga.alias("ga"),
    )
    cnt = vals.groupBy("v").agg(
        F.sum("ga").cast("bigint").alias("na_v"),
        F.sum(1 - F.col("ga")).cast("bigint").alias("nb_v"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        F.sum("na_v").over(w).cast("bigint").alias("ca"),
        F.sum("nb_v").over(w).cast("bigint").alias("cb"),
    )
    tot = cnt.agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum("nb_v").cast("bigint").alias("nb"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            ).cast("bigint").alias("dnum"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    dstat = F.col("dnum").cast("double") / (na_d * nb_d)
    eff = na_d * nb_d / (na_d + nb_d)
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(dstat, 6).alias("d_stat"),
        F.round(dstat * F.sqrt(eff), 6).alias("ks_lambda"),
        F.round(2 * F.exp(-2 * F.pow(dstat, 2) * eff), 6).alias(
            "p_one_term"
        ),
    )


@query(
    "stats_spearman_corr",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS qa,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS vb
      FROM lineitem
    ), ra AS (
      SELECT qa, 2 * COALESCE(SUM(t) OVER (
               ORDER BY qa ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + t + 1 AS da
      FROM (SELECT qa, COUNT(*) AS t FROM li GROUP BY qa)
    ), rb AS (
      SELECT vb, 2 * COALESCE(SUM(t) OVER (
               ORDER BY vb ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + t + 1 AS db
      FROM (SELECT vb, COUNT(*) AS t FROM li GROUP BY vb)
    ), j AS (
      SELECT da, db FROM li JOIN ra USING (qa) JOIN rb USING (vb)
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(da) AS DOUBLE) AS sa, CAST(SUM(db) AS DOUBLE) AS sb,
             CAST(SUM(da * da) AS DOUBLE) AS saa,
             CAST(SUM(db * db) AS DOUBLE) AS sbb,
             CAST(SUM(da * db) AS DOUBLE) AS sab
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((n * sab - sa * sb)
                 / (SQRT(n * saa - sa * sa) * SQRT(n * sbb - sb * sb)), 6)
             AS rho
    FROM s
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice:
    Pearson over tie-averaged ranks, with every rank DOUBLED so it stays
    an exact integer (the average rank of a tie run is a half-integer;
    2·rank = 2·cum_before + t + 1 is BIGINT). Ranks come from windows
    over DISTINCT values (value-domain-bounded, the U/KS pattern), are
    joined back to rows (the 50-value quantity side broadcasts), and the
    five moments are summed as decimal(38,0) — matching DuckDB's HUGEINT
    sum exactly even where Σ(2r)² would overflow int64 at sf≥1 — then
    cast once to double for the closed form, so both engines round
    identical values. The doubling cancels: Pearson is scale-invariant."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qa"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("vb"),
    )

    def dranks(col: str, out: str) -> DataFrame:
        cnt = li.groupBy(col).agg(F.count("*").alias("t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return cnt.select(
            col,
            (
                2 * F.coalesce(F.sum("t").over(w), F.lit(0))
                + F.col("t")
                + 1
            ).cast("bigint").alias(out),
        )

    j = li.join(F.broadcast(dranks("qa", "da")), "qa").join(
        dranks("vb", "db"), "vb"
    )
    dec = "decimal(38,0)"
    s = j.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("da").cast(dec)).alias("sa"),
        F.sum(F.col("db").cast(dec)).alias("sb"),
        F.sum((F.col("da") * F.col("da")).cast(dec)).alias("saa"),
        F.sum((F.col("db") * F.col("db")).cast(dec)).alias("sbb"),
        F.sum((F.col("da") * F.col("db")).cast(dec)).alias("sab"),
    )
    n = F.col("n_rows").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    sab = F.col("sab").cast("double")
    return s.select(
        F.col("n_rows").alias("n"),
        F.round(
            (n * sab - sa * sb)
            / (
                F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
            ),
            6,
        ).alias("rho"),
    )


@query(
    "stats_pmi_priority_status",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    xy AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM orders GROUP BY 1, 2
    ),
    x AS (
      SELECT priority, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY 1
    ),
    y AS (
      SELECT status, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY 1
    )
    SELECT xy.priority, xy.status, xy.n_xy,
           ROUND(LN(CAST(xy.n_xy AS DOUBLE) * (SELECT n FROM n)
                    / (CAST(x.n_x AS DOUBLE) * y.n_y)), 6) AS pmi,
           ROUND(CAST(xy.n_xy AS DOUBLE) / (SELECT n FROM n)
                 * LN(CAST(xy.n_xy AS DOUBLE) * (SELECT n FROM n)
                      / (CAST(x.n_x AS DOUBLE) * y.n_y)), 9)
             AS mi_contrib
    FROM xy JOIN x USING (priority) JOIN y USING (status)
    """,
)
def stats_pmi_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between order priority and status —
    the dependence-structure audit (MI is what a feature-selection /
    leakage check computes between a candidate feature and the label).
    Emitted as the PER-CELL table (priority, status, n_xy, pmi,
    mi_contrib) rather than one summed MI scalar: each cell's value is a
    pure function of four exact integers, so both engines compute
    identical doubles per ROW and the driver hash-checks every cell —
    while a summed MI would re-introduce the cross-engine accumulation-
    order sensitivity this repo's stats family deliberately avoids
    (the reader gets MI by summing mi_contrib, and its error is bounded
    by 15 rounded cells). Contingency counts are one groupBy; the
    marginals re-aggregate the 15-cell table, not the corpus."""
    o = load_table(spark, sf_dir, "orders")
    xy = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").cast("bigint").alias("n_xy"))
    x = xy.groupBy("priority").agg(
        F.sum("n_xy").cast("bigint").alias("n_x")
    )
    y = xy.groupBy("status").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = xy.agg(F.sum("n_xy").cast("bigint").alias("n"))
    j = (
        xy.join(F.broadcast(x), "priority")
        .join(F.broadcast(y), "status")
        .crossJoin(F.broadcast(tot))
    )
    n_d = F.col("n").cast("double")
    ratio = (
        F.col("n_xy").cast("double")
        * n_d
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return j.select(
        "priority",
        "status",
        "n_xy",
        F.round(F.log(ratio), 6).alias("pmi"),
        F.round(
            F.col("n_xy").cast("double") / n_d * F.log(ratio),
            9,
        ).alias("mi_contrib"),
    )


@query(
    "stats_theil_sen_trend",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        / 100000.0, 0) AS BIGINT) AS rev_k
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS i, rev_k
      FROM m
    ), slopes AS (
      SELECT CAST(b.rev_k - a.rev_k AS DOUBLE) / (b.i - a.i) AS s,
             a.i AS ai, b.i AS bi
      FROM idx a JOIN idx b ON b.i > a.i
    ), ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, ai, bi) AS rn,
             COUNT(*) OVER () AS n
      FROM slopes
    ), sen AS (
      SELECT (SUM(CASE WHEN rn = (n + 1) // 2 THEN s ELSE 0 END)
              + SUM(CASE WHEN rn = (n + 2) // 2 THEN s ELSE 0 END)) / 2
               AS slope,
             CAST(MAX(n) AS BIGINT) AS n_pairs
      FROM ranked
    ), resid AS (
      SELECT idx.rev_k - sen.slope * idx.i AS r, idx.i,
             ROW_NUMBER() OVER (ORDER BY idx.rev_k - sen.slope * idx.i,
                                idx.i) AS rn,
             COUNT(*) OVER () AS n
      FROM idx, sen
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_months,
           sen.n_pairs,
           ROUND(sen.slope, 6) AS sen_slope,
           ROUND((SELECT (SUM(CASE WHEN rn = (n + 1) // 2 THEN r ELSE 0 END)
                          + SUM(CASE WHEN rn = (n + 2) // 2 THEN r
                                ELSE 0 END)) / 2
                  FROM resid), 6) AS sen_intercept
    FROM sen
    """,
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly revenue: the MEDIAN of all
    pairwise slopes (and the median-residual intercept) — immune to the
    outlier months that swing the OLS line (agg_ols_qty_price's
    breakdown point is one bad point; Theil–Sen's is 29%). The pair
    join is month-domain bounded (n months → n(n−1)/2 ≈ 3k pairs at 80
    months — a century is ~720k pairs, still nothing), slopes are
    identical per-pair doubles from integer-quantized revenue, and both
    medians use the exact middle-two-rank selection with (value, i, j)
    tiebreaks, so the engines pick identical elements. One ordered pass
    over the slope list; no corpus-sized work beyond the month rollup."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        F.round(F.sum(cents) / 100000.0, 0).cast("bigint").alias("rev_k")
    )
    # r14: idx fed both slope-join sides, the residual pass and the month
    # count — four derivations of the corpus month rollup (12 parquet
    # scans); sen fed the residual pass and the final select — the whole
    # pairwise-slope median ran twice. Both are month-domain tables;
    # materialize each once (§2.4).
    idx = m.select(
        F.row_number().over(Window.orderBy("mon")).cast("bigint").alias("i"),
        "rev_k",
    ).localCheckpoint(eager=False)
    a = idx.select(F.col("i").alias("ai"), F.col("rev_k").alias("ra"))
    b = idx.select(F.col("i").alias("bi"), F.col("rev_k").alias("rb"))
    slopes = (
        a.crossJoin(b)
        .filter(F.col("bi") > F.col("ai"))
        .select(
            ((F.col("rb") - F.col("ra")).cast("double")
             / (F.col("bi") - F.col("ai"))).alias("s"),
            "ai",
            "bi",
        )
    )

    def median_double(df: DataFrame, col: str, *tiebreak: str):
        w = Window.orderBy(col, *tiebreak)
        ranked = df.select(
            col,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        mid1 = F.floor((F.col("n") + 1) / 2)
        mid2 = F.floor((F.col("n") + 2) / 2)
        return ranked.agg(
            (
                (
                    F.sum(F.when(F.col("rn") == mid1, F.col(col)).otherwise(0.0))
                    + F.sum(F.when(F.col("rn") == mid2, F.col(col)).otherwise(0.0))
                ) / 2
            ).alias("med"),
            F.max("n").cast("bigint").alias("n_rows"),
        )

    sen = median_double(slopes, "s", "ai", "bi").select(
        F.col("med").alias("slope"), F.col("n_rows").alias("n_pairs")
    ).localCheckpoint(eager=False)
    resid = idx.crossJoin(F.broadcast(sen)).select(
        (F.col("rev_k") - F.col("slope") * F.col("i")).alias("r"),
        "i",
        "slope",
        "n_pairs",
    )
    icept = median_double(resid, "r", "i").select(
        F.col("med").alias("intercept")
    )
    n_months = idx.agg(F.count("*").cast("bigint").alias("n_months"))
    return (
        n_months.crossJoin(F.broadcast(sen))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_months",
            "n_pairs",
            F.round("slope", 6).alias("sen_slope"),
            F.round("intercept", 6).alias("sen_intercept"),
        )
    )


@query(
    "stats_kendall_tau",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ), conc AS (
      SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS s
      FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y
    ), disc AS (
      SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS s
      FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y
    ), tots AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), tx AS (
      SELECT CAST(SUM(ct * (ct - 1) / 2) AS BIGINT) AS t
      FROM (SELECT SUM(c) AS ct FROM cells GROUP BY x)
    ), ty AS (
      SELECT CAST(SUM(ct * (ct - 1) / 2) AS BIGINT) AS t
      FROM (SELECT SUM(c) AS ct FROM cells GROUP BY y)
    )
    SELECT tots.n,
           conc.s AS concordant, disc.s AS discordant,
           ROUND((conc.s - disc.s)
                 / (SQRT(CAST(tots.n * (tots.n - 1) / 2 - tx.t AS DOUBLE))
                    * SQRT(CAST(tots.n * (tots.n - 1) / 2 - ty.t
                           AS DOUBLE))), 6) AS tau_b
    FROM conc, disc, tots, tx, ty
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between l_quantity and the cent-quantized l_discount —
    the third rank statistic next to Spearman (τ is the probability-of-
    concordance scale the other two lack). Never touches row pairs: both
    variables live on tiny integer domains (50 quantities × ~11 discount
    cents), so concordant/discordant PAIR COUNTS come from a cell×cell
    join over the |X|·|Y| CONTINGENCY table (≤ 550 cells — domain-sized,
    row-count-free), every term an exact BIGINT product; the tie terms
    use the marginals. One corpus scan for the contingency counts; at
    100 TB nothing downstream of that scan grows."""
    li = load_table(spark, sf_dir, "lineitem")
    # r14: the ≤550-cell contingency table fed a, b (twice), tots, tx and
    # ty — six derivations of the corpus aggregate (14 parquet scans).
    # Materialize the domain-sized table once (§2.4).
    cells = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("c")).localCheckpoint(eager=False)
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    conc = (
        a.join(F.broadcast(b), (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")))
        .agg(F.sum(F.col("ac") * F.col("bc")).cast("bigint").alias("concordant"))
    )
    disc = (
        a.join(F.broadcast(b), (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")))
        .agg(F.sum(F.col("ac") * F.col("bc")).cast("bigint").alias("discordant"))
    )
    tots = cells.agg(F.sum("c").cast("bigint").alias("n"))
    tx = (
        cells.groupBy("x").agg(F.sum("c").alias("ct"))
        .agg(F.sum(F.col("ct") * (F.col("ct") - 1) / 2).cast("bigint").alias("tx"))
    )
    ty = (
        cells.groupBy("y").agg(F.sum("c").alias("ct"))
        .agg(F.sum(F.col("ct") * (F.col("ct") - 1) / 2).cast("bigint").alias("ty"))
    )
    j = (
        tots.crossJoin(F.broadcast(conc))
        .crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n = F.col("n")
    half = (n * (n - 1) / 2).cast("bigint")
    return j.select(
        "n",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / (
                F.sqrt((half - F.col("tx")).cast("double"))
                * F.sqrt((half - F.col("ty")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


# ==========================================================================
# Overdispersion, effect sizes, quantized-log means, changepoint, decay fit,
# survival, inequality
# ==========================================================================


_Q = 1_000_000_000  # 1e9 fixed-point quantization for log/reciprocal terms


@query(
    "stats_poisson_dispersion",
    oracle="""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS scc
      FROM hours
    )
    SELECT n AS n_hours, sc AS n_events,
           ROUND(CAST(n * scc - sc * sc AS DOUBLE)
                 / CAST((n - 1) * sc AS DOUBLE), 6) AS dispersion_index,
           ROUND(CAST(n * scc - sc * sc AS DOUBLE)
                 / CAST(sc AS DOUBLE), 6) AS chi2_stat
    FROM s
    """,
)
def stats_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion of hourly event arrivals — the variance/mean
    dispersion index D (a Poisson process has D = 1; D >> 1 means bursty,
    clumped traffic; D < 1 means suspiciously regular, e.g. a synthetic
    generator). D = s²/x̄ = (n·Σc² − (Σc)²)/((n−1)·Σc) over per-hour
    counts, and the associated chi-square statistic (n−1)·D — all from
    three BIGINTs (n, Σc, Σc²), so both engines compute the identical
    rational before one final rounded division. One shuffle to the hour
    domain (bounded: hours in the data window), then a scalar aggregate."""
    e = load_table(spark, sf_dir, "events")
    hours = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    s = hours.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    n, sc, scc = F.col("n"), F.col("sc"), F.col("scc")
    num = (n * scc - sc * sc).cast("double")
    return s.select(
        n.alias("n_hours"),
        sc.alias("n_events"),
        F.round(num / ((n - F.lit(1)) * sc).cast("double"), 6).alias(
            "dispersion_index"
        ),
        F.round(num / sc.cast("double"), 6).alias("chi2_stat"),
    )


@query(
    "stats_cramers_v_matrix",
    oracle="""
    WITH pairs AS (
      SELECT 'priority_x_status' AS pair, o_orderpriority AS a,
             o_orderstatus AS b FROM orders
      UNION ALL
      SELECT 'returnflag_x_linestatus', l_returnflag, l_linestatus
      FROM lineitem
    ), cells AS (
      SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS o
      FROM pairs GROUP BY 1, 2, 3
    ), margins AS (
      SELECT pair, a, b, o,
             CAST(SUM(o) OVER (PARTITION BY pair, a) AS BIGINT) AS ra,
             CAST(SUM(o) OVER (PARTITION BY pair, b) AS BIGINT) AS cb,
             CAST(SUM(o) OVER (PARTITION BY pair) AS BIGINT) AS n
      FROM cells
    ), chi AS (
      SELECT pair, MAX(n) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
             SUM(CAST(n AS DOUBLE) * POWER(o - CAST(ra * cb AS DOUBLE) / n, 2)
                 / (CAST(ra AS DOUBLE) * cb)) AS chi2
      FROM margins GROUP BY pair
    )
    SELECT pair, CAST(n AS BIGINT) AS n, r AS n_rows_levels,
           c AS n_col_levels,
           ROUND(chi2, 6) AS chi2,
           ROUND(SQRT(chi2 / (n * (least(r, c) - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def stats_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect-size matrix over two categorical pairs — the
    association-strength companion to stats_chi2_type_hour's p-value-free
    chi-square: V = sqrt(χ²/(n·(min(r,c)−1))) normalizes χ² into [0,1] so
    dependence is comparable ACROSS tables (priority×status on orders vs
    returnflag×linestatus on lineitem). Contingency cells and margins are
    exact BIGINTs from one groupBy per pair; χ² terms are the only
    doubles, each a deterministic function of five integers (o, ra, cb,
    n) summed over a bounded grid (≤ 5×3 cells per pair — accumulation
    order cannot produce ULP drift at this magnitude spread), rounded at
    6. Scales as a single shuffle per pair to a cells table the size of
    the category product, never the data."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = o.select(
        F.lit("priority_x_status").alias("pair"),
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).unionAll(
        li.select(
            F.lit("returnflag_x_linestatus").alias("pair"),
            F.col("l_returnflag").alias("a"),
            F.col("l_linestatus").alias("b"),
        )
    )
    cells = pairs.groupBy("pair", "a", "b").agg(
        F.count("*").cast("bigint").alias("o")
    )
    margins = cells.select(
        "pair",
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("pair", "a")).cast("bigint").alias("ra"),
        F.sum("o").over(Window.partitionBy("pair", "b")).cast("bigint").alias("cb"),
        F.sum("o").over(Window.partitionBy("pair")).cast("bigint").alias("n"),
    )
    e = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    chi = margins.groupBy("pair").agg(
        F.max("n").cast("bigint").alias("n"),
        F.count_distinct("a").cast("bigint").alias("n_rows_levels"),
        F.count_distinct("b").cast("bigint").alias("n_col_levels"),
        F.sum(
            F.col("n").cast("double")
            * F.pow(F.col("o") - e, F.lit(2))
            / (F.col("ra").cast("double") * F.col("cb"))
        ).alias("chi2_raw"),
    )
    r, c = F.col("n_rows_levels"), F.col("n_col_levels")
    return chi.select(
        "pair",
        "n",
        "n_rows_levels",
        "n_col_levels",
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2_raw") / (F.col("n") * (F.least(r, c) - 1))), 6
        ).alias("cramers_v"),
    )


@query(
    "agg_harmonic_geo_means",
    oracle=f"""
    WITH dom AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * CAST(ROUND(LN(q) * {_Q}, 0) AS BIGINT)) AS BIGINT)
               AS sln,
             CAST(SUM(c * CAST(ROUND(1.0 * {_Q} / q, 0) AS BIGINT)) AS BIGINT)
               AS srec
      FROM dom
    )
    SELECT n AS n_rows,
           ROUND(EXP(CAST(sln AS DOUBLE) / n / {_Q}), 6) AS geo_mean_qty,
           ROUND(CAST(n AS DOUBLE) * {_Q} / srec, 6) AS harmonic_mean_qty
    FROM s
    """,
)
def agg_harmonic_geo_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of l_quantity — the two Pythagorean
    means the catalog's arithmetic aggregates don't cover (geo mean is
    THE mean for ratios/growth rates, harmonic for rates). Float sums of
    ln(q) / 1/q are accumulation-order-dependent, so neither engine's
    native SUM is trusted: the quantity domain is value-bounded (TPC-H
    quantities are small integers), so ln(q) and 1/q are quantized to
    1e9-fixed-point BIGINTs ON THE DISTINCT-VALUE DOMAIN and the corpus
    sums are exact integer Σc·term — the same value-domain trick as
    agg_exact_quartiles_price. One groupBy to the ≤50-row domain, one
    scalar aggregate; both engines divide identical integers."""
    li = load_table(spark, sf_dir, "lineitem")
    dom = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    ln_q = F.round(F.log(F.col("q").cast("double")) * _Q, 0).cast("bigint")
    rec_q = F.round(F.lit(1.0) * _Q / F.col("q"), 0).cast("bigint")
    s = dom.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * ln_q).cast("bigint").alias("sln"),
        F.sum(F.col("c") * rec_q).cast("bigint").alias("srec"),
    )
    return s.select(
        F.col("n").alias("n_rows"),
        F.round(F.exp(F.col("sln").cast("double") / F.col("n") / _Q), 6).alias(
            "geo_mean_qty"
        ),
        F.round(F.col("n").cast("double") * _Q / F.col("srec"), 6).alias(
            "harmonic_mean_qty"
        ),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), cum AS (
      SELECT h, c,
             CAST(SUM(c) OVER (ORDER BY h) AS BIGINT) AS run,
             CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS i,
             CAST(SUM(c) OVER () AS BIGINT) AS s,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM hours
    ), dev AS (
      -- n-scaled CUSUM stays integer: n*run_i - i*S
      SELECT h, ABS(n * run - i * s) AS adev, n * run - i * s AS sdev
      FROM cum
    )
    SELECT h AS changepoint_hour, CAST(sdev AS BIGINT) AS scaled_deviation,
           CAST(adev AS BIGINT) AS abs_scaled_deviation
    FROM dev ORDER BY adev DESC, h ASC LIMIT 1
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single-changepoint detection over hourly event volume —
    the argmax-|CUSUM| estimator (the offline twin of the online
    events_cusum_hourly monitor): the most likely level-shift point is
    the hour where the cumulative deviation from the global mean is
    largest in absolute value. The deviation is kept INTEGER by scaling
    with n (n·run_i − i·S instead of run_i − i·S/n), so the argmax
    compares exact BIGINTs and ties break on the earlier hour —
    bit-identical across engines. One shuffle to the bounded hour domain,
    one window pass, one top-1."""
    e = load_table(spark, sf_dir, "events")
    hours = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_ord = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hours.select(
        "h",
        F.sum("c").over(w_ord).cast("bigint").alias("run"),
        F.row_number().over(Window.orderBy("h")).cast("bigint").alias("i"),
        F.sum("c").over(w_all).cast("bigint").alias("s"),
        F.count("*").over(w_all).cast("bigint").alias("n"),
    )
    sdev = (F.col("n") * F.col("run") - F.col("i") * F.col("s")).cast("bigint")
    dev = cum.select(
        F.col("h").alias("changepoint_hour"),
        sdev.alias("scaled_deviation"),
        F.abs(sdev).cast("bigint").alias("abs_scaled_deviation"),
    )
    return dev.orderBy(
        F.desc("abs_scaled_deviation"), F.asc("changepoint_hour")
    ).limit(1)


@query(
    "stats_logrank_priority",
    oracle=f"""
    WITH t0 AS (
      SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS g
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ), per_t AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dt, CAST(SUM(g) AS BIGINT) AS d1t
      FROM t0 GROUP BY t
    ), cum AS (
      SELECT t, dt, d1t,
             CAST(SUM(dt) OVER (ORDER BY t DESC) AS BIGINT) AS nt,
             CAST(SUM(d1t) OVER (ORDER BY t DESC) AS BIGINT) AS n1t
      FROM per_t
    ), terms AS (
      SELECT d1t,
             CAST(ROUND(CAST(dt AS DOUBLE) * n1t * {_Q} / nt, 0) AS BIGINT)
               AS e_q,
             CASE WHEN nt > 1 THEN CAST(ROUND(
               CAST(dt AS DOUBLE) * n1t / nt * (nt - n1t) / nt
               * (nt - dt) / (nt - 1) * {_Q}, 0) AS BIGINT)
             ELSE 0 END AS v_q
      FROM cum
    )
    SELECT CAST(SUM(d1t) AS BIGINT) AS observed_g1,
           ROUND(CAST(SUM(e_q) AS DOUBLE) / {_Q}, 6) AS expected_g1,
           ROUND(CAST(SUM(v_q) AS DOUBLE) / {_Q}, 6) AS variance_g1,
           ROUND((SUM(d1t) - CAST(SUM(e_q) AS DOUBLE) / {_Q})
                 / SQRT(CAST(SUM(v_q) AS DOUBLE) / {_Q}), 6) AS logrank_z
    FROM terms
    """,
)
def stats_logrank_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) two-sample survival test on time-to-ship:
    do URGENT/HIGH-priority orders ship on a different timetable than the
    rest? "Survival time" is days from order to line shipment (complete
    data, no censoring — the log-rank statistic is still exactly defined:
    at each distinct day t, observed group-1 events d1t vs hypergeometric
    expectation dt·n1t/nt over the at-risk sets). At-risk counts come
    from one DESCENDING cumulative window over the BOUNDED distinct-day
    domain (the value-domain trick again — the windows never see row
    space), and each E/V term is quantized to 1e9 fixed-point via the
    IDENTICAL IEEE expression tree in both engines before exact integer
    summation; z = (O−E)/√V rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    t0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.datediff("l_shipdate", "o_orderdate").alias("t"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0).alias("g"),
        )
    )
    per_t = t0.groupBy("t").agg(
        F.count("*").cast("bigint").alias("dt"),
        F.sum("g").cast("bigint").alias("d1t"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_t.select(
        "dt",
        "d1t",
        F.sum("dt").over(w_desc).cast("bigint").alias("nt"),
        F.sum("d1t").over(w_desc).cast("bigint").alias("n1t"),
    )
    dt, nt, n1t = (
        F.col("dt").cast("double"), F.col("nt"), F.col("n1t")
    )
    e_q = F.round(dt * n1t * _Q / nt, 0).cast("bigint")
    v_q = F.when(
        F.col("nt") > 1,
        F.round(
            dt * n1t / nt * (F.col("nt") - n1t) / nt
            * (F.col("nt") - F.col("dt")) / (F.col("nt") - 1) * _Q,
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = cum.select(F.col("d1t"), e_q.alias("e_q"), v_q.alias("v_q"))
    s = terms.agg(
        F.sum("d1t").cast("bigint").alias("o1"),
        F.sum("e_q").cast("bigint").alias("se"),
        F.sum("v_q").cast("bigint").alias("sv"),
    )
    e1 = F.col("se").cast("double") / _Q
    v1 = F.col("sv").cast("double") / _Q
    return s.select(
        F.col("o1").alias("observed_g1"),
        F.round(e1, 6).alias("expected_g1"),
        F.round(v1, 6).alias("variance_g1"),
        F.round((F.col("o1") - e1) / F.sqrt(v1), 6).alias("logrank_z"),
    )


@query(
    "events_retention_curve_fit",
    oracle=f"""
    WITH acts AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events GROUP BY 1, 2
    ), firsts AS (
      SELECT user_id, MIN(d) AS f FROM acts GROUP BY 1
    ), offs AS (
      SELECT CAST(datediff('day', fi.f, a.d) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS c
      FROM acts a JOIN firsts fi ON fi.user_id = a.user_id
      WHERE a.d > fi.f
      GROUP BY 1
    ), pts AS (
      SELECT k, CAST(ROUND(LN(c) * {_Q}, 0) AS BIGINT) AS y
      FROM offs
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * k) AS BIGINT) AS skk,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(k * y) AS BIGINT) AS sky
      FROM pts
    )
    SELECT n AS n_offsets,
           ROUND(CAST(n * sky - sk * sy AS DOUBLE)
                 / CAST(n * skk - sk * sk AS DOUBLE) / {_Q}, 6)
             AS decay_rate_per_day,
           ROUND((CAST(sy AS DOUBLE) / n - CAST(n * sky - sk * sy AS DOUBLE)
                  / CAST(n * skk - sk * sk AS DOUBLE) / n * sk) / {_Q}, 6)
             AS ln_intercept,
           ROUND(-LN(2) * CAST(n * skk - sk * sk AS DOUBLE)
                 / CAST(n * sky - sk * sy AS DOUBLE) * {_Q} / {_Q} / {_Q}
                 * {_Q}, 6) AS half_life_days
    FROM s
    """,
)
def events_retention_curve_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention decay fit — the parametric summary on top of
    events_cohort_retention's raw triangle: active-user counts per
    days-since-first-seen offset k, log-linear OLS ln(c_k) = a + b·k,
    reported as decay rate b, intercept a, and half-life −ln2/b (the
    single number a growth team quotes). The offset domain is bounded by
    the data window (≤ days in the corpus), counts are exact BIGINTs, and
    ln(c_k) is quantized to 1e9 fixed-point BEFORE the closed-form OLS —
    all sums integer-exact, two final rounded divisions. User-keyed
    shuffle to first-seen, then the value-domain regression."""
    e = load_table(spark, sf_dir, "events")
    acts = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    firsts = acts.groupBy("user_id").agg(F.min("d").alias("f"))
    offs = (
        acts.join(firsts, "user_id")
        .filter(F.col("d") > F.col("f"))
        .groupBy(F.datediff("d", "f").cast("bigint").alias("k"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("c"))
    )
    pts = offs.select(
        "k", F.round(F.log("c") * _Q, 0).cast("bigint").alias("y")
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("k") * F.col("y")).cast("bigint").alias("sky"),
    )
    n, sk, skk, sy, sky = (F.col(c) for c in ("n", "sk", "skk", "sy", "sky"))
    b_num = (n * sky - sk * sy).cast("double")
    b_den = (n * skk - sk * sk).cast("double")
    b = b_num / b_den / _Q
    return s.select(
        n.alias("n_offsets"),
        F.round(b, 6).alias("decay_rate_per_day"),
        F.round((sy.cast("double") / n - b_num / b_den / n * sk) / _Q, 6)
        .alias("ln_intercept"),
        F.round(
            -F.log(F.lit(2.0)) * b_den / b_num * _Q / _Q / _Q * _Q, 6
        ).alias("half_life_days"),
    )


@query(
    "agg_theil_index",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(SUM(o.o_totalprice), 0) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_mktsegment
      HAVING CAST(ROUND(SUM(o.o_totalprice), 0) AS BIGINT) >= 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(x * LN(x) * 1000, 0) AS BIGINT)) AS BIGINT)
               AS sxlnx_k
      FROM spend
    ), g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS sg
      FROM spend GROUP BY seg
    ), btw AS (
      SELECT CAST(SUM(CAST(ROUND(
               CAST(sg AS DOUBLE) / s.sx
               * LN(CAST(sg AS DOUBLE) * s.n / s.sx / ng) * {_Q}, 0)
             AS BIGINT)) AS BIGINT) AS tb_q
      FROM g, s
    )
    SELECT s.n AS n_customers,
           ROUND(CAST(sxlnx_k AS DOUBLE) / 1000 / s.sx
                 - LN(CAST(s.sx AS DOUBLE) / s.n), 6) AS theil_total,
           ROUND(CAST(tb_q AS DOUBLE) / {_Q}, 6) AS theil_between,
           ROUND(CAST(sxlnx_k AS DOUBLE) / 1000 / s.sx
                 - LN(CAST(s.sx AS DOUBLE) / s.n)
                 - CAST(tb_q AS DOUBLE) / {_Q}, 6) AS theil_within
    FROM s, btw
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend, DECOMPOSED into
    between-segment and within-segment components — the property that
    makes Theil the analyst's Gini (agg_gini_customer_spend measures
    level; Theil answers "is the concentration BETWEEN market segments
    or inside them"). Spend is rounded to whole dollars (BIGINT x ≥ 1,
    identical in both engines), each x·ln(x) row term is quantized to
    millidollars before the exact integer sum (T = Σx·lnx/S − ln μ),
    and the 5 between-group terms quantize at 1e9 — the stats2
    discipline end to end. One customer-keyed shuffle, then
    segment-bounded algebra."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 0).cast("bigint").alias("x"))
        .filter(F.col("x") >= 1)
        .select(F.col("c_mktsegment").alias("seg"), "x")
    )
    s = spend.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(
            F.round(F.col("x") * F.log(F.col("x").cast("double")) * 1000, 0)
            .cast("bigint")
        ).cast("bigint").alias("sxlnx_k"),
    )
    g = spend.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sg"),
    )
    btw = (
        g.crossJoin(F.broadcast(s))
        .select(
            F.round(
                F.col("sg").cast("double") / F.col("sx")
                * F.log(
                    F.col("sg").cast("double") * F.col("n")
                    / F.col("sx") / F.col("ng")
                )
                * _Q,
                0,
            ).cast("bigint").alias("tq")
        )
        .agg(F.sum("tq").cast("bigint").alias("tb_q"))
    )
    t_total = (
        F.col("sxlnx_k").cast("double") / 1000 / F.col("sx")
        - F.log(F.col("sx").cast("double") / F.col("n"))
    )
    tb = F.col("tb_q").cast("double") / _Q
    return s.crossJoin(btw).select(
        F.col("n").alias("n_customers"),
        F.round(t_total, 6).alias("theil_total"),
        F.round(tb, 6).alias("theil_between"),
        F.round(t_total - tb, 6).alias("theil_within"),
    )


@query(
    "agg_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT seg, CAST(SUM(r) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_nations
      FROM rev GROUP BY 1
    )
    SELECT rev.seg, tot.n_nations,
           CAST(SUM(CAST(ROUND(
             CAST(rev.r AS DOUBLE) * rev.r * {_Q} / tot.t / tot.t, 0)
           AS BIGINT)) AS BIGINT) AS hhi_q,
           ROUND(CAST(SUM(CAST(ROUND(
             CAST(rev.r AS DOUBLE) * rev.r * {_Q} / tot.t / tot.t, 0)
           AS BIGINT)) AS DOUBLE) / {_Q} * 10000, 6) AS hhi_points
    FROM rev JOIN tot ON tot.seg = rev.seg
    GROUP BY rev.seg, tot.n_nations
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of revenue across nations,
    per market segment — the antitrust-style "how concentrated is this
    market" index (HHI = Σ share², scaled ×10,000; <1,500 competitive,
    >2,500 concentrated) that rounds out the inequality shelf next to
    Gini and Theil. Revenue shares are exact cent BIGINTs; each nation's
    share² term is quantized to 1e9 fixed point via the identical IEEE
    expression (r²·Q/t²) before the exact integer sum — bounded domain
    (25 nations × 5 segments). Two keyed shuffles (order→customer
    broadcast-eligible dim joins), then segment-bounded algebra."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint").alias("r")
        )
    )
    # segment totals via a window over the (≤ segments×nations)-row rev
    # table — one pass, no recompute of the upstream join tree (a
    # groupBy+self-join here would scan orders twice at 100 TB)
    w_seg = Window.partitionBy("seg")
    rev = rev.select(
        "seg",
        "r",
        F.sum("r").over(w_seg).cast("bigint").alias("t"),
        F.count("*").over(w_seg).cast("bigint").alias("n_nations"),
    )
    term = F.round(
        F.col("r").cast("double") * F.col("r") * _Q / F.col("t") / F.col("t"),
        0,
    ).cast("bigint")
    joined = rev.select("seg", "n_nations", term.alias("tq"))
    return (
        joined.groupBy("seg", "n_nations")
        .agg(F.sum("tq").cast("bigint").alias("hhi_q"))
        .select(
            "seg",
            "n_nations",
            "hhi_q",
            F.round(F.col("hhi_q").cast("double") / _Q * 10000, 6).alias(
                "hhi_points"
            ),
        )
    )


@query(
    "agg_weighted_median_price",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT v, w,
             CAST(COALESCE(SUM(w) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS below,
             CAST(SUM(w) OVER () AS BIGINT) AS tw
      FROM vals
    )
    SELECT CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(SUM(CASE WHEN below < (tw + 1) // 2
                          AND (tw + 1) // 2 <= below + w
                     THEN v ELSE 0 END) AS BIGINT) AS wmedian_cents
    FROM cum
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median of l_extendedprice — "the price of the
    median unit sold", which differs from the row-median whenever cheap
    items move in bulk: the order statistic is selected by cumulative
    WEIGHT rank ⌈W/2⌉ over the distinct-cent value domain (the
    agg_exact_quartiles_price machinery with per-value weights Σquantity
    instead of counts). Weights are exact BIGINTs, selection is a
    CASE-gated SUM with exactly one qualifying value; the ordered window
    runs over distinct cents, never rows."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "v",
        "w",
        F.coalesce(F.sum("w").over(w_ord), F.lit(0)).cast("bigint").alias("below"),
        F.sum("w").over(Window.partitionBy()).cast("bigint").alias("tw"),
    )
    rank = F.floor((F.col("tw") + 1) / 2)
    hit = (F.col("below") < rank) & (rank <= F.col("below") + F.col("w"))
    return cum.agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.sum(F.when(hit, F.col("v")).otherwise(0)).cast("bigint").alias(
            "wmedian_cents"
        ),
    )


@query(
    "agg_entropy_by_dimension",
    oracle=f"""
    WITH dims AS (
      SELECT 'orderpriority' AS dim, o_orderpriority AS v FROM orders
      UNION ALL SELECT 'orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'mktsegment', c_mktsegment FROM customer
      UNION ALL SELECT 'returnflag', l_returnflag FROM lineitem
    ), cells AS (
      SELECT dim, v, CAST(COUNT(*) AS BIGINT) AS c FROM dims GROUP BY 1, 2
    ), tot AS (
      SELECT dim, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cells GROUP BY 1
    )
    SELECT cells.dim, tot.k AS n_levels,
           ROUND(CAST(SUM(CAST(ROUND(
             -CAST(cells.c AS DOUBLE) / tot.n
             * LN(CAST(cells.c AS DOUBLE) / tot.n) * {_Q}, 0) AS BIGINT))
             AS DOUBLE) / {_Q}, 6) AS entropy_nats,
           ROUND(CAST(SUM(CAST(ROUND(
             -CAST(cells.c AS DOUBLE) / tot.n
             * LN(CAST(cells.c AS DOUBLE) / tot.n) * {_Q}, 0) AS BIGINT))
             AS DOUBLE) / {_Q} / LN(tot.k), 6) AS efficiency
    FROM cells JOIN tot ON tot.dim = cells.dim
    GROUP BY cells.dim, tot.k, tot.n
    """,
)
def agg_entropy_by_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and normalized efficiency H/ln k) of four
    categorical dimensions across three tables — the data-profiling
    "is this column informative or near-constant" signal next to
    text_source_entropy's corpus twin: efficiency ≈ 1 means uniform
    usage, ≈ 0 means one dominant level (a candidate constant/partition
    column). Each −p·ln p term is quantized to 1e9 fixed point via the
    identical expression on the level-bounded cells table, then
    integer-summed; one groupBy per dimension to category-sized cells."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        o.select(F.lit("orderpriority").alias("dim"),
                 F.col("o_orderpriority").alias("v"))
        .unionAll(o.select(F.lit("orderstatus"), F.col("o_orderstatus")))
        .unionAll(c.select(F.lit("mktsegment"), F.col("c_mktsegment")))
        .unionAll(li.select(F.lit("returnflag"), F.col("l_returnflag")))
    )
    cells = dims.groupBy("dim", "v").agg(F.count("*").cast("bigint").alias("c"))
    # per-dimension totals via a window over the level-bounded cells
    # table — a groupBy+join here would recompute the three-table union
    # scan twice (same single-pass fix as agg_hhi_concentration)
    w_dim = Window.partitionBy("dim")
    cells = cells.select(
        "dim",
        "c",
        F.sum("c").over(w_dim).cast("bigint").alias("n"),
        F.count("*").over(w_dim).cast("bigint").alias("k"),
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p) * _Q, 0).cast("bigint")
    joined = cells.select("dim", "k", "n", term.alias("tq"))
    ent = F.col("hq").cast("double") / _Q
    return (
        joined.groupBy("dim", "k", "n")
        .agg(F.sum("tq").cast("bigint").alias("hq"))
        .select(
            "dim",
            F.col("k").alias("n_levels"),
            F.round(ent, 6).alias("entropy_nats"),
            F.round(ent / F.log(F.col("k").cast("double")), 6).alias(
                "efficiency"
            ),
        )
    )


@query(
    "stats_kaplan_meier_shipping",
    oracle=f"""
    WITH spans AS (
      SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ), per_t AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS d FROM spans
      WHERE t <= 60 GROUP BY t
    ), censored AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c FROM spans WHERE t > 60
    ), cum AS (
      SELECT t, d,
             CAST(SUM(d) OVER (ORDER BY t DESC) AS BIGINT)
               + (SELECT c FROM censored) AS n_at_risk
      FROM per_t
    ), terms AS (
      SELECT t, d, n_at_risk,
             CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_at_risk) * {_Q}, 0)
               AS BIGINT) AS lq
      FROM cum
    )
    SELECT t AS day, d AS n_shipped, n_at_risk,
           ROUND(EXP(CAST(SUM(lq) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / {_Q}), 6) AS survival
    FROM terms
    """,
)
def stats_kaplan_meier_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-ship WITH real censoring —
    the estimator stats_logrank_priority compares groups with, here as
    the full curve: S(t) = Π_{t_i ≤ t} (1 − d_i/n_i), where lines still
    unshipped at the 60-day administrative cutoff are CENSORED (they
    contribute to every at-risk set but never to the events — the
    defining subtlety naive "percent shipped by day t" gets wrong).
    At-risk counts come from the DESC cumulative window over the bounded
    day domain plus the censored tail; each ln(1−d/n) factor is
    1e9-quantized via the identical expression, and the running product
    is exp of the exact integer prefix sum — so every point on the curve
    value-oracles. One keyed join shuffle, then day-domain algebra."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(F.datediff("l_shipdate", "o_orderdate").alias("t"))
        .localCheckpoint(eager=False)
    )
    per_t = (
        spans.filter(F.col("t") <= 60)
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    censored = spans.filter(F.col("t") > 60).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_t.crossJoin(F.broadcast(censored)).select(
        "t",
        "d",
        (F.sum("d").over(w_desc) + F.col("c")).cast("bigint").alias("n_at_risk"),
    )
    lq = F.round(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")) * _Q,
        0,
    ).cast("bigint")
    terms = cum.select("t", "d", "n_at_risk", lq.alias("lq"))
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").alias("day"),
        F.col("d").alias("n_shipped"),
        "n_at_risk",
        F.round(
            F.exp(F.sum("lq").over(w_asc).cast("double") / _Q), 6
        ).alias("survival"),
    )


@query(
    "agg_trimmed_mean_price",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT v, c,
             CAST(COALESCE(SUM(c) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS below,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM vals
    ), bounds AS (
      SELECT v, c, below, n,
             n // 20 AS lo_cut,             -- 5% trim each side
             n - n // 20 AS hi_cut,
             GREATEST(below, n // 20) AS kept_lo,
             LEAST(below + c, n - n // 20) AS kept_hi
      FROM cum
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN kept_hi > kept_lo
                         THEN v * (kept_hi - kept_lo) ELSE 0 END) AS BIGINT)
             AS kept_cents_sum,
           CAST(SUM(CASE WHEN kept_hi > kept_lo
                         THEN kept_hi - kept_lo ELSE 0 END) AS BIGINT)
             AS kept_rows,
           ROUND(CAST(SUM(CASE WHEN kept_hi > kept_lo
                               THEN v * (kept_hi - kept_lo) ELSE 0 END)
                      AS DOUBLE)
                 / SUM(CASE WHEN kept_hi > kept_lo
                            THEN kept_hi - kept_lo ELSE 0 END) / 100, 6)
             AS trimmed_mean
    FROM bounds
    """,
)
def agg_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-each-side TRIMMED mean of l_extendedprice — the robust-location
    sibling of agg_winsorized_mean (winsorizing CLAMPS the tails; trimming
    DROPS them). Exact by rank arithmetic on the distinct-cent value
    domain: each value keeps max(0, min(below+c, n−n/20) − max(below,
    n/20)) of its multiplicity — no row sort, no percentile approximation,
    the same order-statistic discipline as the quartile/weighted-median
    rows. All sums are exact BIGINTs; one rounded division at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_ord), F.lit(0)).cast("bigint").alias("below"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    lo = F.floor(F.col("n") / 20)
    hi = F.col("n") - lo
    kept_lo = F.greatest(F.col("below"), lo)
    kept_hi = F.least(F.col("below") + F.col("c"), hi)
    kept = F.when(kept_hi > kept_lo, kept_hi - kept_lo).otherwise(0)
    b = cum.select(
        "n",
        (F.col("v") * kept).cast("bigint").alias("vs"),
        kept.cast("bigint").alias("k"),
    )
    return b.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.sum("vs").cast("bigint").alias("kept_cents_sum"),
        F.sum("k").cast("bigint").alias("kept_rows"),
        F.round(
            F.sum("vs").cast("double") / F.sum("k") / 100, 6
        ).alias("trimmed_mean"),
    )


@query(
    "stats_ab_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS grp,
             CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-15'
                           THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre_cents,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                           THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post_cents
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre_cents) AS BIGINT) AS sx,
             CAST(SUM(post_cents) AS BIGINT) AS sy,
             CAST(SUM(pre_cents * pre_cents) AS BIGINT) AS sxx,
             CAST(SUM(pre_cents * post_cents) AS BIGINT) AS sxy
      FROM per_user
    ), theta AS (
      SELECT n, sx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS th
      FROM s
    ), grp_sums AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(post_cents) AS BIGINT) AS sum_post,
             CAST(SUM(pre_cents) AS BIGINT) AS sum_pre
      FROM per_user GROUP BY grp
    ), adj AS (
      SELECT g.grp, g.ng, g.sum_post,
             CAST(g.sum_post AS DOUBLE)
               - t.th * (CAST(g.sum_pre AS DOUBLE)
                         - CAST(g.ng AS DOUBLE)
                           * (CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)))
               AS sum_adj
      FROM grp_sums g, theta t
    )
    SELECT ROUND((SELECT th FROM theta), 6) AS theta,
           ROUND(CAST(b.sum_post AS DOUBLE) / b.ng
                 - CAST(a.sum_post AS DOUBLE) / a.ng, 6) AS naive_diff_cents,
           ROUND(b.sum_adj / b.ng - a.sum_adj / a.ng, 6)
             AS cuped_diff_cents
    FROM adj a, adj b
    WHERE a.grp = 0 AND b.grp = 1
    """,
)
def stats_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate adjustment (Deng et al., WSDM'13) for a synthetic
    A/B split — the variance-reduction step every modern experimentation
    platform applies before reading a treatment effect: per-user POST
    metric adjusted by the PRE-period covariate, Ŷ = Y − θ(X − X̄) with
    θ = cov(X,Y)/var(X). Users hash into arms by parity; pre/post periods
    split at a fixed date; all moments are exact BIGINT sums of cent
    values and θ is one double from five integers. The group adjusted
    sum is computed ALGEBRAICALLY from those exact sums —
    Σ(Y−θ(X−X̄)) = ΣY − θ(ΣX − n·X̄) — so only a constant COUNT of
    double ops remain and no per-user double is ever accumulated
    (accumulation order can't diverge between Spark partitions and
    DuckDB scans); both engines run the identical expression tree,
    rounded at 6. One user-keyed shuffle, then constant-size algebra;
    at 100 TB the per-user collapse IS the pipeline (moments ride
    map-side combine)."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0))
        .cast("bigint").alias("pre_cents"),
        F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0))
        .cast("bigint").alias("post_cents"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        "pre_cents",
        "post_cents",
    ).localCheckpoint(eager=False)
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pre_cents").cast("bigint").alias("sx"),
        F.sum("post_cents").cast("bigint").alias("sy"),
        F.sum(F.col("pre_cents") * F.col("pre_cents")).cast("bigint").alias("sxx"),
        F.sum(F.col("pre_cents") * F.col("post_cents")).cast("bigint").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    theta = s.select(
        "n",
        "sx",
        ((n * sxy - sx * sy).cast("double")
         / (n * sxx - sx * sx).cast("double")).alias("th"),
    )
    grp_sums = per_user.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("post_cents").cast("bigint").alias("sum_post"),
        F.sum("pre_cents").cast("bigint").alias("sum_pre"),
    )
    adj = grp_sums.crossJoin(F.broadcast(theta)).select(
        "grp",
        "ng",
        "sum_post",
        (
            F.col("sum_post").cast("double")
            - F.col("th")
            * (
                F.col("sum_pre").cast("double")
                - F.col("ng").cast("double")
                * (sx.cast("double") / n.cast("double"))
            )
        ).alias("sum_adj"),
    )
    a = adj.filter(F.col("grp") == 0).select(
        F.col("ng").alias("na"), F.col("sum_post").alias("pa"),
        F.col("sum_adj").alias("aa"),
    )
    b = adj.filter(F.col("grp") == 1).select(
        F.col("ng").alias("nb"), F.col("sum_post").alias("pb"),
        F.col("sum_adj").alias("ab"),
    )
    return (
        # explicit broadcast hints: a/b are 1-row filters of a
        # checkpoint-backed plan whose size ESTIMATE is unknown, so at
        # sf0.1 the planner stopped auto-broadcasting and fell back to a
        # physical CartesianProduct (caught by the r11 full-sf0.1 sweep)
        theta.crossJoin(F.broadcast(a)).crossJoin(F.broadcast(b))
        .select(
            F.round("th", 6).alias("theta"),
            F.round(
                F.col("pb").cast("double") / F.col("nb")
                - F.col("pa").cast("double") / F.col("na"),
                6,
            ).alias("naive_diff_cents"),
            F.round(
                F.col("ab") / F.col("nb") - F.col("aa") / F.col("na"), 6
            ).alias("cuped_diff_cents"),
        )
    )


@query(
    "stats_ab_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CAST(user_id % 2 AS INT) AS grp,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(n_users) AS BIGINT) AS n,
             CAST(MAX(CASE WHEN grp = 0 THEN n_users END) AS BIGINT) AS n0,
             CAST(MAX(CASE WHEN grp = 1 THEN n_users END) AS BIGINT) AS n1
      FROM arms
    )
    SELECT n0 AS users_control, n1 AS users_treatment,
           ROUND(CAST((2 * n0 - n) * (2 * n0 - n) AS DOUBLE)
                 / CAST(2 * n AS DOUBLE) * 2, 6) AS srm_chi2,
           CAST(CASE WHEN CAST((2 * n0 - n) * (2 * n0 - n) AS DOUBLE)
                          / CAST(2 * n AS DOUBLE) * 2 > 3.841
                     THEN 1 ELSE 0 END AS INT) AS srm_flag
    FROM s
    """,
)
def stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch check for the parity A/B split — the FIRST
    gate an experimentation platform runs (a biased assignment invalidates
    every downstream read, CUPED included): χ² of observed arm sizes
    against the designed 50/50, flagged at the 1-df 5% critical value
    3.841. For two arms the statistic collapses to (2n₀−n)²/ (n/2) summed
    over both arms = (2n₀−n)²·2/(2n) — one rational from two BIGINTs.
    One distinct-count shuffle keyed by user."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).cast("int").alias("grp")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    s = arms.agg(
        F.sum("n_users").cast("bigint").alias("n"),
        F.max(F.when(F.col("grp") == 0, F.col("n_users"))).cast("bigint").alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n_users"))).cast("bigint").alias("n1"),
    )
    dev = (2 * F.col("n0") - F.col("n"))
    chi2 = dev.cast("double") * dev / (2 * F.col("n")).cast("double") * 2
    return s.select(
        F.col("n0").alias("users_control"),
        F.col("n1").alias("users_treatment"),
        F.round(chi2, 6).alias("srm_chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


@query(
    "stats_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS grp,
             CAST(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                       THEN 1 ELSE 0 END AS INT) AS period,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT
      ROUND(CAST(MAX(CASE WHEN grp = 1 AND period = 1 THEN cents END)
                 AS DOUBLE)
            / MAX(CASE WHEN grp = 1 AND period = 1 THEN n_events END)
          - CAST(MAX(CASE WHEN grp = 1 AND period = 0 THEN cents END)
                 AS DOUBLE)
            / MAX(CASE WHEN grp = 1 AND period = 0 THEN n_events END), 6)
        AS treat_delta_cents,
      ROUND(CAST(MAX(CASE WHEN grp = 0 AND period = 1 THEN cents END)
                 AS DOUBLE)
            / MAX(CASE WHEN grp = 0 AND period = 1 THEN n_events END)
          - CAST(MAX(CASE WHEN grp = 0 AND period = 0 THEN cents END)
                 AS DOUBLE)
            / MAX(CASE WHEN grp = 0 AND period = 0 THEN n_events END), 6)
        AS control_delta_cents,
      ROUND((CAST(MAX(CASE WHEN grp = 1 AND period = 1 THEN cents END)
                  AS DOUBLE)
             / MAX(CASE WHEN grp = 1 AND period = 1 THEN n_events END)
           - CAST(MAX(CASE WHEN grp = 1 AND period = 0 THEN cents END)
                  AS DOUBLE)
             / MAX(CASE WHEN grp = 1 AND period = 0 THEN n_events END))
          - (CAST(MAX(CASE WHEN grp = 0 AND period = 1 THEN cents END)
                  AS DOUBLE)
             / MAX(CASE WHEN grp = 0 AND period = 1 THEN n_events END)
           - CAST(MAX(CASE WHEN grp = 0 AND period = 0 THEN cents END)
                  AS DOUBLE)
             / MAX(CASE WHEN grp = 0 AND period = 0 THEN n_events END)), 6)
        AS did_estimate_cents
    FROM cells
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate over the 2×2 (arm × pre/post)
    grid — the causal-inference workhorse when randomization is imperfect:
    the treatment effect is the treated arm's pre→post delta minus the
    control arm's (which absorbs the common time trend CUPED's covariate
    can't). Four cells of exact BIGINT (Σcents, n) from ONE groupBy; the
    three reported numbers are ratios/differences of those eight
    integers via identical expression trees, rounded at 6."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    cells = e.groupBy(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.when(F.col("ts") >= cutoff, 1).otherwise(0).cast("int").alias("period"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents"),
        F.count("*").cast("bigint").alias("n_events"),
    )

    def cell(g, p, col):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col(col))
        )

    def mean(g, p):
        return cell(g, p, "cents").cast("double") / cell(g, p, "n_events")

    treat_delta = mean(1, 1) - mean(1, 0)
    control_delta = mean(0, 1) - mean(0, 0)
    return cells.agg(
        F.round(treat_delta, 6).alias("treat_delta_cents"),
        F.round(control_delta, 6).alias("control_delta_cents"),
        F.round(treat_delta - control_delta, 6).alias("did_estimate_cents"),
    )


@query(
    "agg_group_exact_median",
    oracle="""
    WITH vals AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT flag, v, c,
             CAST(COALESCE(SUM(c) OVER (
               PARTITION BY flag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS below,
             CAST(SUM(c) OVER (PARTITION BY flag) AS BIGINT) AS n
      FROM vals
    )
    SELECT flag, CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN below < (n + 1) // 2
                          AND (n + 1) // 2 <= below + c
                     THEN v ELSE 0 END)
                + SUM(CASE WHEN below < (n + 2) // 2
                            AND (n + 2) // 2 <= below + c
                      THEN v ELSE 0 END) AS BIGINT) AS median2_cents
    FROM cum GROUP BY flag
    """,
)
def agg_group_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact medians — the order-statistic selection machinery
    of agg_exact_quartiles_price PARTITIONED by l_returnflag, showing the
    technique generalizes from a global scalar to grouped analytics
    without a per-group sort of row space: the cumulative window runs
    over each group's distinct-cent domain, and both middle ranks are
    carried as the exact-integer 2·median. At 100 TB each group's ordered
    pass is value-domain-bounded and groups parallelize independently —
    the grouped-exact-quantile shape percentile_approx users reach for
    when sketch error isn't acceptable."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_ord = (
        Window.partitionBy("flag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vals.select(
        "flag",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_ord), F.lit(0)).cast("bigint").alias("below"),
        F.sum("c").over(Window.partitionBy("flag")).cast("bigint").alias("n"),
    )
    n = F.col("n")

    def pick(rank):
        hit = (F.col("below") < rank) & (rank <= F.col("below") + F.col("c"))
        return F.sum(F.when(hit, F.col("v")).otherwise(0)).cast("bigint")

    return cum.groupBy("flag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        (pick(F.floor((n + 1) / 2)) + pick(F.floor((n + 2) / 2)))
        .cast("bigint").alias("median2_cents"),
    )


@query(
    "stats_partial_correlation",
    oracle="""
    WITH rows_q AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS z
      FROM lineitem
    ), s AS (
      -- moment sums stay HUGEINT (int128): y is cents, so Σy² overflows
      -- a 64-bit int already at sf0.01 — the Spearman decimal(38,0)
      -- discipline on the Spark side matches this exactly
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
             SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
      FROM rows_q
    ), r AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
             CAST(n * sxz - sx * sz AS DOUBLE)
               / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
             CAST(n * syz - sy * sz AS DOUBLE)
               / SQRT(CAST(n * syy - sy * sy AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      FROM s
    )
    SELECT n AS n_rows,
           ROUND(rxy, 6) AS r_qty_price,
           ROUND(rxz, 6) AS r_qty_discount,
           ROUND(ryz, 6) AS r_price_discount,
           ROUND((rxy - rxz * ryz)
                 / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_r_qty_price_given_discount
    FROM r
    """,
)
def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order PARTIAL correlation r(quantity, price | discount) —
    the confounder-controlled association agg_correlation_exact can't
    answer (does quantity still track price once the discount channel is
    partialled out?): r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)),
    with all three pairwise correlations computed from ONE pass of ten
    exact BIGINT moments (cents/percent quantization) and the formula
    evaluated by the identical expression tree in both engines. The
    moments ride map-side combine — one scalar exchange at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_q = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("z"),
    )
    dec = "decimal(38,0)"
    s = rows_q.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.sum(expr.cast(dec)).alias(name)
            for name, expr in [
                ("sx", F.col("x")), ("sy", F.col("y")), ("sz", F.col("z")),
                ("sxx", F.col("x") * F.col("x")),
                ("syy", F.col("y") * F.col("y")),
                ("szz", F.col("z") * F.col("z")),
                ("sxy", F.col("x") * F.col("y")),
                ("sxz", F.col("x") * F.col("z")),
                ("syz", F.col("y") * F.col("z")),
            ]
        ],
    )
    n = F.col("n")

    def corr(sa, sb, sab, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)).cast("double") / F.sqrt(
            (n * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
            * (n * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        )

    r = s.select(
        "n",
        corr("sx", "sy", "sxy", "sxx", "syy").alias("rxy"),
        corr("sx", "sz", "sxz", "sxx", "szz").alias("rxz"),
        corr("sy", "sz", "syz", "syy", "szz").alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return r.select(
        F.col("n").alias("n_rows"),
        F.round(rxy, 6).alias("r_qty_price"),
        F.round(rxz, 6).alias("r_qty_discount"),
        F.round(ryz, 6).alias("r_price_discount"),
        F.round(
            (rxy - rxz * ryz)
            / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)),
            6,
        ).alias("partial_r_qty_price_given_discount"),
    )


@query(
    "stats_runs_test_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), signs AS (
      SELECT d, CASE WHEN rev > LAG(rev) OVER (ORDER BY d) THEN 1 ELSE 0 END
               AS up,
             LAG(rev) OVER (ORDER BY d) AS prev
      FROM daily
    ), seq AS (
      SELECT d, up,
             CASE WHEN LAG(up) OVER (ORDER BY d) IS NULL
                    OR up <> LAG(up) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS new_run
      FROM signs WHERE prev IS NOT NULL
    ), s AS (
      SELECT CAST(SUM(new_run) AS BIGINT) AS runs,
             CAST(SUM(up) AS BIGINT) AS n_up,
             CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down
      FROM seq
    )
    SELECT runs, n_up, n_down,
           ROUND(1.0 + 2.0 * n_up * n_down / (n_up + n_down), 6)
             AS expected_runs,
           ROUND((runs - (1.0 + 2.0 * n_up * n_down / (n_up + n_down)))
                 / SQRT(2.0 * n_up * n_down
                        * (2.0 * n_up * n_down - n_up - n_down)
                        / ((n_up + n_down) * (n_up + n_down)
                           * (n_up + n_down - 1))), 6) AS runs_z
    FROM s
    """,
)
def stats_runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz RUNS TEST on the up/down signs of day-over-day
    revenue — the randomness check behind "is this series trending /
    mean-reverting or i.i.d. noise" that autocorrelation's linear view
    can miss: too FEW runs means momentum, too MANY means oscillation.
    Signs come from one lag over the bounded day domain, runs from one
    more lag; R, n₊, n₋ are exact BIGINTs and E[R]/Var[R]/z are the
    closed forms evaluated by identical expression trees, rounded at 6."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("rev")
    )
    w = Window.orderBy("d")
    signs = daily.select(
        "d",
        F.when(F.col("rev") > F.lag("rev").over(w), 1).otherwise(0).alias("up"),
        F.lag("rev").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    seq = signs.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.col("up") != F.lag("up").over(w)),
            1,
        ).otherwise(0).alias("new_run"),
    )
    s = seq.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("up").cast("bigint").alias("n_up"),
        (F.count("*") - F.sum("up")).cast("bigint").alias("n_down"),
    )
    nu, nd, r = F.col("n_up"), F.col("n_down"), F.col("runs")
    n = nu + nd
    e_runs = 1.0 + 2.0 * nu * nd / n
    var = (
        2.0 * nu * nd * (2.0 * nu * nd - nu - nd)
        / (n * n * (n - 1))
    )
    return s.select(
        "runs",
        "n_up",
        "n_down",
        F.round(e_runs, 6).alias("expected_runs"),
        F.round((r - e_runs) / F.sqrt(var), 6).alias("runs_z"),
    )


@query(
    "agg_covariance_matrix",
    oracle="""
    WITH rows_q AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS p,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d,
             CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS t
      FROM lineitem
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd, SUM(t) AS st,
             SUM(q * q) AS sqq, SUM(q * p) AS sqp, SUM(q * d) AS sqd,
             SUM(q * t) AS sqt, SUM(p * p) AS spp, SUM(p * d) AS spd,
             SUM(p * t) AS spt, SUM(d * d) AS sdd, SUM(d * t) AS sdt,
             SUM(t * t) AS stt
      FROM rows_q
    )
    SELECT cell.va AS var_a, cell.vb AS var_b,
           ROUND((CAST(cell.sab AS DOUBLE) - CAST(cell.sa AS DOUBLE)
                  * cell.sb / s.n) / (s.n - 1), 6) AS covariance
    FROM s, LATERAL (
      VALUES ('qty', 'qty', sqq, sq, sq), ('qty', 'price', sqp, sq, sp),
             ('qty', 'disc', sqd, sq, sd), ('qty', 'tax', sqt, sq, st),
             ('price', 'price', spp, sp, sp), ('price', 'disc', spd, sp, sd),
             ('price', 'tax', spt, sp, st), ('disc', 'disc', sdd, sd, sd),
             ('disc', 'tax', sdt, sd, st), ('tax', 'tax', stt, st, st)
    ) AS cell(va, vb, sab, sa, sb)
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sample COVARIANCE MATRIX over four lineitem measures
    (quantity, whole-dollar price, discount%, tax%) — the multivariate
    profile behind feature selection and the numeric twin of
    stats_cramers_v_matrix's categorical grid: all 10 upper-triangle
    cells from ONE pass of 14 moments (HUGEINT/decimal sums — price is
    kept in whole dollars so Σp² stays in range), each cell the textbook
    (Σab − ΣaΣb/n)/(n−1) evaluated identically in both engines. The
    moments ride map-side combine; the matrix is constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_q = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice"), 0).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("d"),
        F.round(F.col("l_tax") * 100, 0).cast("bigint").alias("t"),
    )
    dec = "decimal(38,0)"
    names = ["q", "p", "d", "t"]
    prods = [
        (a + b, F.col(a) * F.col(b))
        for i, a in enumerate(names)
        for b in names[i:]
    ]
    s = rows_q.agg(
        F.count("*").cast("bigint").alias("n"),
        *[F.sum(F.col(c).cast(dec)).alias("s" + c) for c in names],
        *[F.sum(e.cast(dec)).alias("s" + nm) for nm, e in prods],
    )
    label = {"q": "qty", "p": "price", "d": "disc", "t": "tax"}
    # r14: the 10 cells used to be 10 unionByName'd single-row selects of
    # `s` — TEN full derivations of the 14-moment lineitem aggregate (20
    # parquet scans in the plan). One derivation + an exploded 10-struct
    # array computes the identical cells from the single moment row (§2.4).
    cells = []
    for i, a in enumerate(names):
        for b in names[i:]:
            cov = (
                F.col("s" + a + b).cast("double")
                - F.col("s" + a).cast("double") * F.col("s" + b) / F.col("n")
            ) / (F.col("n") - 1)
            cells.append(
                F.struct(
                    F.lit(label[a]).alias("var_a"),
                    F.lit(label[b]).alias("var_b"),
                    F.round(cov, 6).alias("covariance"),
                )
            )
    return s.select(F.explode(F.array(*cells)).alias("cell")).select("cell.*")


@query(
    "stats_power_law_alpha",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1
    ), dom AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM counts
      WHERE x >= 3 GROUP BY x
    ), s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * CAST(ROUND(LN(x / 2.5) * {_Q}, 0) AS BIGINT))
                  AS BIGINT) AS slnq
      FROM dom
    )
    SELECT n AS n_tail_users,
           ROUND(1.0 + CAST(n AS DOUBLE) * {_Q} / slnq, 6) AS alpha_hat,
           ROUND((CAST(n AS DOUBLE) * {_Q} / slnq)
                 / SQRT(CAST(n AS DOUBLE)), 6) AS alpha_se
    FROM s
    """,
)
def stats_power_law_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law tail exponent of per-user activity — the
    Clauset–Shalizi–Newman MLE α̂ = 1 + n/Σln(xᵢ/(xmin−½)) over users
    with ≥ xmin = 3 events (the continuous-approximation estimator with
    the standard −½ offset), plus its asymptotic standard error
    (α̂−1)/√n. THE heavy-tail diagnostic for user activity / degree /
    frequency data: α near 2 means extreme concentration (expect hot
    keys — pre-salt), α > 3 means tame tails. The activity-count domain
    is value-bounded, so ln terms quantize to 1e9 fixed point on the
    distinct-count table and the corpus sum is exact integers — the
    agg_harmonic_geo_means discipline."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("x"))
    dom = (
        counts.filter(F.col("x") >= 3)
        .groupBy("x")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    lnq = F.round(F.log(F.col("x") / 2.5) * _Q, 0).cast("bigint")
    s = dom.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * lnq).cast("bigint").alias("slnq"),
    )
    amin1 = F.col("n").cast("double") * _Q / F.col("slnq")
    return s.select(
        F.col("n").alias("n_tail_users"),
        F.round(1.0 + amin1, 6).alias("alpha_hat"),
        F.round(amin1 / F.sqrt(F.col("n").cast("double")), 6).alias(
            "alpha_se"
        ),
    )


@query(
    "agg_lorenz_curve_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS s
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT s, NTILE(10) OVER (ORDER BY s, o_custkey) AS decile
      FROM spend
    ), per_decile AS (
      SELECT decile, CAST(SUM(s) AS BIGINT) AS ds,
             CAST(COUNT(*) AS BIGINT) AS dn
      FROM ranked GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile, dn AS n_customers,
           CAST(SUM(ds) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
           ROUND(CAST(SUM(ds) OVER (ORDER BY decile) AS DOUBLE)
                 / SUM(ds) OVER (), 6) AS cum_share
    FROM per_decile
    """,
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LORENZ CURVE behind agg_gini_customer_spend's single number:
    cumulative spend share by customer decile (poorest→richest, NTILE
    with the deterministic custkey tie-break both engines share) — the
    curve an analyst actually plots to see WHERE the concentration
    lives ("bottom 50% hold 9%"). The global NTILE over the customer
    dimension uses the two-phase range-partitioned scan
    (operators/ranking.py) — customers scale WITH the corpus, so a bare
    Window.orderBy would single-partition at 100 TB; the decile-level
    cumulative window afterwards is genuinely bounded (10 rows).
    Cumulative sums are exact cents."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("s")
    )
    ranked = attach_global_order_stats(
        spend, [("s", "asc"), ("o_custkey", "asc")], ntile=(10, "decile")
    ).select("s", "decile")
    per_decile = ranked.groupBy("decile").agg(
        F.sum("s").cast("bigint").alias("ds"),
        F.count("*").cast("bigint").alias("dn"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return per_decile.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("dn").alias("n_customers"),
        F.sum("ds").over(w_cum).cast("bigint").alias("cum_cents"),
        F.round(
            F.sum("ds").over(w_cum).cast("double")
            / F.sum("ds").over(w_all),
            6,
        ).alias("cum_share"),
    )


# ==========================================================================
# Time-series and effect-size statistics
# ==========================================================================


_DAILY_SQL = """
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("rev")
    )


@query(
    "stats_mann_kendall_daily",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON a.d < b.d
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    )
    SELECT n.n AS n_days, s.s_stat,
           ROUND(CAST(s.s_stat AS DOUBLE)
                 / (0.5 * CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE)),
                 6) AS kendall_tau,
           ROUND(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_sum
                      AS DOUBLE) / 18.0, 6) AS var_s,
           ROUND((CAST(s.s_stat AS DOUBLE)
                  - CASE WHEN s.s_stat > 0 THEN 1.0
                         WHEN s.s_stat < 0 THEN -1.0 ELSE 0.0 END)
                 / SQRT(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_sum
                             AS DOUBLE) / 18.0), 6) AS mk_z
    FROM s, n, ties
    """,
)
def stats_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN–KENDALL trend test on daily revenue — the distribution-free
    "is this series monotonically drifting" check (S = Σ sign(xⱼ−xᵢ)
    over ordered day pairs) that regression-slope tests get wrong under
    heavy tails; the standard companion to stats_theil_sen_trend's slope
    (same S statistic family). S and the tie-corrected variance are
    exact BIGINT integer algebra; z applies the ±1 continuity
    correction. The pair join is over the DAY-aggregated series — the
    date domain is fixed by the dataset's time span, so the O(days²)
    join is bounded at every SF (document-discipline: bounded means
    bounded by the VALUE DOMAIN, not the corpus)."""
    daily = _daily(spark, sf_dir).localCheckpoint(eager=False)
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s_stat")
        )
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).cast("bigint").alias("tie_sum")
        )
    )
    j = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
    nn, ss = F.col("n"), F.col("s_stat")
    var_d = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_sum")).cast("double")
        / 18.0
    )
    cc = (
        F.when(ss > 0, F.lit(1.0))
        .when(ss < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        nn.alias("n_days"),
        ss.alias("s_stat"),
        F.round(
            ss.cast("double") / (0.5 * nn.cast("double") * (nn - 1).cast("double")),
            6,
        ).alias("kendall_tau"),
        F.round(var_d, 6).alias("var_s"),
        F.round((ss.cast("double") - cc) / F.sqrt(var_d), 6).alias("mk_z"),
    )


@query(
    "stats_acf_daily_revenue",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), rn AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rev) AS s, SUM(CAST(rev AS HUGEINT) * rev) AS s2
      FROM rn
    ), lagged AS (
      SELECT CAST(b.i - a.i AS INT) AS lag,
             CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(a.rev AS HUGEINT) * b.rev) AS c,
             SUM(a.rev) AS h, SUM(b.rev) AS t
      FROM rn a JOIN rn b ON b.i - a.i BETWEEN 1 AND 7
      GROUP BY 1
    )
    SELECT lag,
           ROUND((CAST(c AS DOUBLE)
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(h AS DOUBLE) + CAST(t AS DOUBLE))
                  + CAST(m AS DOUBLE)
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(s2 AS DOUBLE)
                    - CAST(n AS DOUBLE)
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS acf
    FROM lagged, g ORDER BY lag
    """,
)
def stats_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample AUTOCORRELATION of daily revenue at lags 1–7 — the full
    dependence fingerprint behind every forecasting decision (weekly
    seasonality shows as a lag-7 spike), generalizing
    stats_autocorr_revenue's single monthly lag-1 to the multi-lag
    daily ACF; the runs test sees only signs, ACF sees magnitude. Standard estimator rₖ = Σ(xₜ−x̄)(xₜ₊ₖ−x̄)/
    Σ(xₜ−x̄)², expanded so every data-dependent sum is EXACT integer
    algebra: Σxₜxₜ₊ₖ / head & tail sums / counts per lag from one
    band-join on day rank (decimal(38,0) on the Spark side matches
    DuckDB's HUGEINT promotion — Σrev² outgrows int64 past sf0.1); the
    only doubles are the constant-count closed form, identical trees
    both engines. Day rank uses a window over the DATE-domain-bounded
    daily table."""
    dec = "decimal(38,0)"
    daily = _daily(spark, sf_dir)
    rn = daily.select(
        "rev", F.row_number().over(Window.orderBy("d")).alias("i")
    ).localCheckpoint(eager=False)
    g = rn.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rev").cast(dec)).alias("s"),
        F.sum(F.col("rev").cast(dec) * F.col("rev")).alias("s2"),
    )
    a, b = rn.alias("a"), rn.alias("b")
    lagged = (
        a.join(
            b,
            (F.col("b.i") - F.col("a.i") >= 1)
            & (F.col("b.i") - F.col("a.i") <= 7),
        )
        .groupBy((F.col("b.i") - F.col("a.i")).cast("int").alias("lag"))
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(F.col("a.rev").cast(dec) * F.col("b.rev")).alias("c"),
            F.sum(F.col("a.rev").cast(dec)).alias("h"),
            F.sum(F.col("b.rev").cast(dec)).alias("t"),
        )
    )
    xb = F.col("s").cast("double") / F.col("n").cast("double")
    num = (
        F.col("c").cast("double")
        - xb * (F.col("h").cast("double") + F.col("t").cast("double"))
        + F.col("m").cast("double") * xb * xb
    )
    den = F.col("s2").cast("double") - F.col("n").cast("double") * xb * xb
    return (
        lagged.crossJoin(F.broadcast(g))
        .select("lag", F.round(num / den, 6).alias("acf"))
        .orderBy("lag")
    )


@query(
    "stats_cohens_d_sources",
    oracle="""
    WITH m AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(n_chars AS BIGINT)) AS s1,
             SUM(CAST(n_chars AS BIGINT) * n_chars) AS s2
      FROM documents GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           ROUND((CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
                 / SQRT((CAST(a.n * a.s2 - a.s1 * a.s1 AS DOUBLE)
                           / CAST(a.n AS DOUBLE)
                         + CAST(b.n * b.s2 - b.s1 * b.s1 AS DOUBLE)
                           / CAST(b.n AS DOUBLE))
                        / CAST(a.n + b.n - 2 AS DOUBLE)), 6) AS cohens_d,
           ROUND((CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
                 / SQRT((CAST(a.n * a.s2 - a.s1 * a.s1 AS DOUBLE)
                           / CAST(a.n AS DOUBLE)
                         + CAST(b.n * b.s2 - b.s1 * b.s1 AS DOUBLE)
                           / CAST(b.n AS DOUBLE))
                        / CAST(a.n + b.n - 2 AS DOUBLE))
                 * (1.0 - 3.0 / (4.0 * CAST(a.n + b.n AS DOUBLE) - 9.0)),
                 6) AS hedges_g
    FROM m a JOIN m b ON a.source < b.source
    """,
)
def stats_cohens_d_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S D (pooled-SD standardized mean difference) and the
    small-sample HEDGES' G correction (J = 1 − 3/(4N−9)) for document
    length between every pair of ingestion sources — the effect-SIZE
    companion to stats_welch_t_sources' significance: a t of 40 on a
    billion docs can be a d of 0.01 nobody should act on. One pass of
    exact BIGINT moments per source (map-side combined), then the
    source×source closed form on the handful-sized moment table —
    identical expression trees both engines, rounded at 6."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("n_chars").cast("bigint")).alias("s1"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars")).alias("s2"),
    )
    a, b = m.alias("a"), m.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    mean_diff = (
        F.col("a.s1").cast("double") / an.cast("double")
        - F.col("b.s1").cast("double") / bn.cast("double")
    )
    pooled_sd = F.sqrt(
        (
            (an * F.col("a.s2") - F.col("a.s1") * F.col("a.s1")).cast("double")
            / an.cast("double")
            + (bn * F.col("b.s2") - F.col("b.s1") * F.col("b.s1")).cast("double")
            / bn.cast("double")
        )
        / (an + bn - 2).cast("double")
    )
    j_corr = 1.0 - 3.0 / (4.0 * (an + bn).cast("double") - 9.0)
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.round(mean_diff / pooled_sd, 6).alias("cohens_d"),
            F.round(mean_diff / pooled_sd * j_corr, 6).alias("hedges_g"),
        )
    )


@query(
    "stats_anova_dow_revenue",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), dow AS (
      SELECT CAST(CAST(d - DATE '1970-01-01' AS INT) % 7 AS INT) AS dow,
             rev
      FROM daily
    ), per AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rev) AS s, SUM(CAST(rev AS HUGEINT) * rev) AS s2
      FROM dow GROUP BY dow
    ), g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s, SUM(s2) AS s2,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per
    ), ss AS (
      SELECT g.n, g.k,
             SUM(CAST(per.s AS DOUBLE) * per.s / per.n)
               - CAST(g.s AS DOUBLE) * g.s / g.n AS ss_between,
             CAST(g.s2 AS DOUBLE)
               - CAST(g.s AS DOUBLE) * g.s / g.n AS ss_total
      FROM per, g GROUP BY g.n, g.k, g.s, g.s2
    )
    SELECT CAST(k AS INT) AS n_groups, n AS n_days,
           ROUND(ss_between / ss_total, 6) AS eta_sq,
           ROUND((ss_between / CAST(k - 1 AS DOUBLE))
                 / ((ss_total - ss_between) / CAST(n - k AS DOUBLE)),
                 6) AS f_stat
    FROM ss
    """,
)
def stats_anova_dow_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily revenue by DAY OF WEEK — the "is weekly
    seasonality real" F-test plus η² effect share (the fraction of
    daily-revenue variance the weekday explains), the decomposition
    check behind stats_acf_daily_revenue's lag-7 reading. Weekday
    classes come from portable integer arithmetic (days-since-epoch mod
    7 — engines disagree on dayofweek() origins, integers don't);
    per-class moments are exact (HUGEINT/decimal(38,0) for Σrev²), and
    the between/total sum-of-squares closed form runs on the 7-row
    moment table with identical trees. Map-side combine all the way —
    one scalar exchange at 100 TB."""
    dec = "decimal(38,0)"
    daily = _daily(spark, sf_dir)
    dow = daily.select(
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("int").alias("dow"),
        "rev",
    )
    per = dow.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rev").cast(dec)).alias("s"),
        F.sum(F.col("rev").cast(dec) * F.col("rev")).alias("s2"),
    )
    g = per.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("s").alias("gs"),
        F.sum("s2").alias("gs2"),
        F.count("*").cast("bigint").alias("k"),
    )
    ss = (
        per.crossJoin(F.broadcast(g))
        .groupBy("gn", "k", "gs", "gs2")
        .agg(
            (
                F.sum(
                    F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                - F.first(
                    F.col("gs").cast("double") * F.col("gs") / F.col("gn")
                )
            ).alias("ss_between"),
            (
                F.first(F.col("gs2").cast("double"))
                - F.first(
                    F.col("gs").cast("double") * F.col("gs") / F.col("gn")
                )
            ).alias("ss_total"),
        )
    )
    k, n = F.col("k"), F.col("gn")
    return ss.select(
        k.cast("int").alias("n_groups"),
        n.alias("n_days"),
        F.round(F.col("ss_between") / F.col("ss_total"), 6).alias("eta_sq"),
        F.round(
            (F.col("ss_between") / (k - 1).cast("double"))
            / (
                (F.col("ss_total") - F.col("ss_between"))
                / (n - k).cast("double")
            ),
            6,
        ).alias("f_stat"),
    )


@query(
    "stats_entropy_rate_events",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ), cells AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), rows_t AS (
      SELECT cur, c,
             CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT) AS row_c,
             CAST(SUM(c) OVER () AS BIGINT) AS tot
      FROM cells
    )
    SELECT CAST(COUNT(*) AS INT) AS n_cells,
           MAX(tot) AS n_transitions,
           ROUND(CAST(SUM(CAST(ROUND(
             -(CAST(c AS DOUBLE) / tot)
               * LN(CAST(c AS DOUBLE) / row_c) / LN(2.0) * {_Q}, 0)
             AS BIGINT)) AS DOUBLE) / {_Q}, 6) AS entropy_rate_bits
    FROM rows_t
    """,
)
def stats_entropy_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in Markov ENTROPY RATE of the per-user event-type chain —
    H = −Σᵢⱼ p(i,j)·log₂ p(j|i) with empirical joint and conditional
    frequencies: how predictable the next action is given the current
    one (0 bits = deterministic funnels, log₂k = pure noise) — the
    single-number summary of events_transition_matrix and the
    information-theoretic floor for next-event-prediction models.
    Transitions from a per-user window (partitioned — fact-scaled but
    never single-partition, deterministic (ts, event_id) order); each
    −p·log₂ term is 1e9-fixed-point quantized on the type×type-bounded
    cell table then integer-summed (the agg_entropy_by_dimension
    discipline)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("cur", "nxt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_row = Window.partitionBy("cur")
    w_all = Window.partitionBy()
    rows_t = cells.select(
        "c",
        F.sum("c").over(w_row).cast("bigint").alias("row_c"),
        F.sum("c").over(w_all).cast("bigint").alias("tot"),
    )
    term = F.round(
        -(F.col("c").cast("double") / F.col("tot"))
        * F.log(F.col("c").cast("double") / F.col("row_c"))
        / F.log(F.lit(2.0))
        * _Q,
        0,
    ).cast("bigint")
    return rows_t.select("tot", term.alias("tq")).agg(
        F.count("*").cast("int").alias("n_cells"),
        F.max("tot").alias("n_transitions"),
        F.round(F.sum("tq").cast("double") / _Q, 6).alias(
            "entropy_rate_bits"
        ),
    )


# Abramowitz & Stegun 26.2.17 normal-tail polynomial: |err| < 7.5e-8 and —
# what actually matters for the oracle — the IDENTICAL literal expression
# tree in both engines, so the p-values agree to the last bit.
_BH_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_BH_ALPHA = 0.05

_BH_Z_SQL = """(CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
                 / SQRT(CAST(a.n * a.s2 - a.s1 * a.s1 AS DOUBLE)
                          / CAST(a.n AS DOUBLE) / CAST(a.n AS DOUBLE)
                          / CAST(a.n - 1 AS DOUBLE)
                        + CAST(b.n * b.s2 - b.s1 * b.s1 AS DOUBLE)
                          / CAST(b.n AS DOUBLE) / CAST(b.n AS DOUBLE)
                          / CAST(b.n - 1 AS DOUBLE))"""


@query(
    "stats_fdr_bh_sources",
    oracle=f"""
    WITH m AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(n_chars AS BIGINT)) AS s1,
             SUM(CAST(n_chars AS BIGINT) * n_chars) AS s2
      FROM documents GROUP BY source
    ), z AS (
      SELECT a.source AS src_a, b.source AS src_b,
             {_BH_Z_SQL} AS z
      FROM m a JOIN m b ON a.source < b.source
    ), p AS (
      SELECT src_a, src_b, z,
             2.0 * (EXP(-z * z / 2.0) / SQRT(2.0 * PI()))
                 * ((1.0 / (1.0 + 0.2316419 * ABS(z)))
                    * ({_BH_B[0]!r}
                       + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                         * ({_BH_B[1]!r}
                            + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                              * ({_BH_B[2]!r}
                                 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                                   * ({_BH_B[3]!r}
                                      + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                                        * {_BH_B[4]!r}))))) AS p
      FROM z
    ), ranked AS (
      SELECT src_a, src_b, z, p,
             ROW_NUMBER() OVER (ORDER BY p, src_a, src_b) AS i,
             COUNT(*) OVER () AS mm
      FROM p
    )
    SELECT src_a, src_b,
           ROUND(z, 6) AS welch_z,
           ROUND(p, 6) AS p_value,
           ROUND(MIN(LEAST(mm * p / i, 1.0)) OVER (
             ORDER BY i DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS p_adjusted,
           CAST(MIN(LEAST(mm * p / i, 1.0)) OVER (
             ORDER BY i DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             <= {_BH_ALPHA!r} AS BOOLEAN) AS rejected
    FROM ranked
    """,
)
def stats_fdr_bh_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI–HOCHBERG false-discovery-rate control over the 190
    source-pair Welch tests — the multiple-testing correction without
    which the experimentation shelf's per-pair p-values are fiction (at
    α=0.05, ~10 of 190 true-null pairs would "reject" by chance; BH caps
    the EXPECTED false-discovery fraction instead of Bonferroni's
    family-wise overkill). Welch z from exact BIGINT moments; two-sided
    p from the A&S 26.2.17 normal-tail polynomial (identical literal
    Horner tree both engines — no erf() dependency in either); adjusted
    p = the classic step-up running min of m·p/i from the bottom rank.
    The rank/adjust windows run over the SOURCE-PAIR table — bounded by
    the source-domain square, not the corpus — and the moment pass rides
    map-side combine."""
    import math

    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("n_chars").cast("bigint")).alias("s1"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars")).alias("s2"),
    )
    a, b = m.alias("a"), m.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    z_expr = (
        F.col("a.s1").cast("double") / an.cast("double")
        - F.col("b.s1").cast("double") / bn.cast("double")
    ) / F.sqrt(
        (an * F.col("a.s2") - F.col("a.s1") * F.col("a.s1")).cast("double")
        / an.cast("double") / an.cast("double") / (an - 1).cast("double")
        + (bn * F.col("b.s2") - F.col("b.s1") * F.col("b.s1")).cast("double")
        / bn.cast("double") / bn.cast("double") / (bn - 1).cast("double")
    )
    zt = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        z_expr.alias("z"),
    )
    t = 1.0 / (1.0 + 0.2316419 * F.abs(F.col("z")))
    horner = t * (
        _BH_B[0]
        + t * (_BH_B[1] + t * (_BH_B[2] + t * (_BH_B[3] + t * _BH_B[4])))
    )
    pdf = F.exp(-F.col("z") * F.col("z") / 2.0) / F.sqrt(
        F.lit(2.0) * F.lit(math.pi)
    )
    pt = zt.select("src_a", "src_b", "z", (2.0 * pdf * horner).alias("p"))
    w_rank = Window.orderBy("p", "src_a", "src_b")
    ranked = pt.select(
        "src_a", "src_b", "z", "p",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("mm"),
    )
    w_adj = Window.orderBy(F.desc("i")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = F.min(
        F.least(F.col("mm") * F.col("p") / F.col("i"), F.lit(1.0))
    ).over(w_adj)
    return ranked.select(
        "src_a",
        "src_b",
        F.round("z", 6).alias("welch_z"),
        F.round("p", 6).alias("p_value"),
        F.round(adj, 6).alias("p_adjusted"),
        (adj <= _BH_ALPHA).alias("rejected"),
    )


def _holm_oracle() -> str:
    # identical Welch-z + A&S 26.2.17 p-value pipeline as the BH oracle,
    # with Holm's STEP-DOWN adjustment: running max (from the smallest p)
    # of min((m - i + 1) * p, 1).
    b = _BH_B
    return f"""
    WITH m AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(n_chars AS BIGINT)) AS s1,
             SUM(CAST(n_chars AS BIGINT) * n_chars) AS s2
      FROM documents GROUP BY source
    ), z AS (
      SELECT a.source AS src_a, b.source AS src_b,
             {_BH_Z_SQL} AS z
      FROM m a JOIN m b ON a.source < b.source
    ), p AS (
      SELECT src_a, src_b, z,
             2.0 * (EXP(-z * z / 2.0) / SQRT(2.0 * PI()))
                 * ((1.0 / (1.0 + 0.2316419 * ABS(z)))
                    * ({b[0]!r}
                       + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                         * ({b[1]!r}
                            + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                              * ({b[2]!r}
                                 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                                   * ({b[3]!r}
                                      + (1.0 / (1.0 + 0.2316419 * ABS(z)))
                                        * {b[4]!r}))))) AS p
      FROM z
    ), ranked AS (
      SELECT src_a, src_b, z, p,
             ROW_NUMBER() OVER (ORDER BY p, src_a, src_b) AS i,
             COUNT(*) OVER () AS mm
      FROM p
    )
    SELECT src_a, src_b,
           ROUND(z, 6) AS welch_z,
           ROUND(p, 6) AS p_value,
           ROUND(MAX(LEAST((mm - i + 1) * p, 1.0)) OVER (
             ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS p_adjusted,
           CAST(MAX(LEAST((mm - i + 1) * p, 1.0)) OVER (
             ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             <= {_BH_ALPHA!r} AS BOOLEAN) AS rejected
    FROM ranked
    """


@query("stats_holm_bonferroni", oracle=_holm_oracle())
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLM-BONFERRONI STEP-DOWN correction (Holm 1979) over the same 190
    source-pair Welch tests as stats_fdr_bh_sources - the FWER-controlling
    member of the multiple-testing shelf: where BH caps the EXPECTED
    false-discovery fraction (step-UP running min of m*p/i from the
    largest p), Holm guarantees P(any false rejection) <= alpha with
    uniformly more power than plain Bonferroni (step-DOWN running max of
    (m-i+1)*p from the smallest p; adjusted p is monotone by
    construction). Identical exact-BIGINT Welch moments and the identical
    A&S 26.2.17 normal-tail Horner tree as BH, so a MATCH here pins the
    adjustment algebra specifically. The rank/adjust windows run over the
    bounded source-pair table (20 sources -> 190 rows), never the
    corpus."""
    import math

    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("n_chars").cast("bigint")).alias("s1"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars")).alias("s2"),
    )
    a, b = m.alias("a"), m.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    z_expr = (
        F.col("a.s1").cast("double") / an.cast("double")
        - F.col("b.s1").cast("double") / bn.cast("double")
    ) / F.sqrt(
        (an * F.col("a.s2") - F.col("a.s1") * F.col("a.s1")).cast("double")
        / an.cast("double") / an.cast("double") / (an - 1).cast("double")
        + (bn * F.col("b.s2") - F.col("b.s1") * F.col("b.s1")).cast("double")
        / bn.cast("double") / bn.cast("double") / (bn - 1).cast("double")
    )
    zt = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        z_expr.alias("z"),
    )
    t = 1.0 / (1.0 + 0.2316419 * F.abs(F.col("z")))
    horner = t * (
        _BH_B[0]
        + t * (_BH_B[1] + t * (_BH_B[2] + t * (_BH_B[3] + t * _BH_B[4])))
    )
    pdf = F.exp(-F.col("z") * F.col("z") / 2.0) / F.sqrt(
        F.lit(2.0) * F.lit(math.pi)
    )
    pt = zt.select("src_a", "src_b", "z", (2.0 * pdf * horner).alias("p"))
    w_rank = Window.orderBy("p", "src_a", "src_b")
    ranked = pt.select(
        "src_a", "src_b", "z", "p",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("mm"),
    )
    w_adj = Window.orderBy(F.asc("i")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = F.max(
        F.least((F.col("mm") - F.col("i") + 1) * F.col("p"), F.lit(1.0))
    ).over(w_adj)
    return ranked.select(
        "src_a",
        "src_b",
        F.round("z", 6).alias("welch_z"),
        F.round("p", 6).alias("p_value"),
        F.round(adj, 6).alias("p_adjusted"),
        (adj <= _BH_ALPHA).alias("rejected"),
    )


_RM_PER_USER_SQL = """
      SELECT CAST(user_id % 2 AS INT) AS grp,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY user_id
"""

_RM_MOMENTS_SQL = """
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy, SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM per_user GROUP BY grp
"""


@query(
    "stats_ratio_metric_delta",
    oracle=f"""
    WITH per_user AS ({_RM_PER_USER_SQL}
    ), moments AS ({_RM_MOMENTS_SQL}
    ), est AS (
      SELECT grp,
             CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
             (CAST(n * sxx - sx * sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
              + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(n * syy - sy * sy AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
              - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(n * sxy - sx * sy AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
             / (CAST(n AS DOUBLE)
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS var_r
      FROM moments
    )
    SELECT ROUND(a.r, 6) AS ratio_control,
           ROUND(b.r, 6) AS ratio_treatment,
           ROUND(b.r - a.r, 6) AS diff,
           ROUND(SQRT(a.var_r + b.var_r), 6) AS se,
           ROUND((b.r - a.r) / SQRT(a.var_r + b.var_r), 6) AS z
    FROM est a, est b WHERE a.grp = 0 AND b.grp = 1
    """,
)
def stats_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD inference for a RATIO metric (revenue per event,
    user-clustered) — the experimentation-shelf member CUPED doesn't
    cover: per-arm R = Σx/Σy is a ratio of per-USER sums, so its
    variance is NOT Var(x̄) (events within a user correlate); the
    first-order delta expansion Var(R) ≈ (Var x + R²·Var y −
    2R·Cov(x,y)) / (n·ȳ²) is how every A/B platform ships ratio-metric
    p-values (Deng et al., KDD'18). Per-user collapse rides map-side
    combine; five decimal(38,0)/HUGEINT moments per arm; the closed
    form is constant-count double algebra on identical trees, rounded
    at 6."""
    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint").alias("x"),
        F.count("*").cast("bigint").alias("y"),
    ).select((F.col("user_id") % 2).cast("int").alias("grp"), "x", "y")
    moments = per_user.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = sx / sy
    nm1 = (F.col("n") - 1).cast("double")

    def cmom(sab, sa, sb):
        return (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast(
            "double"
        ) / (n * nm1)

    var_r = (
        cmom("sxx", "sx", "sx")
        + r * r * cmom("syy", "sy", "sy")
        - 2.0 * r * cmom("sxy", "sx", "sy")
    ) / (n * (sy / n) * (sy / n))
    est = moments.select("grp", r.alias("r"), var_r.alias("var_r"))
    a = est.filter(F.col("grp") == 0).select(
        F.col("r").alias("ra"), F.col("var_r").alias("va")
    )
    b = est.filter(F.col("grp") == 1).select(
        F.col("r").alias("rb"), F.col("var_r").alias("vb")
    )
    return a.crossJoin(b).select(
        F.round("ra", 6).alias("ratio_control"),
        F.round("rb", 6).alias("ratio_treatment"),
        F.round(F.col("rb") - F.col("ra"), 6).alias("diff"),
        F.round(F.sqrt(F.col("va") + F.col("vb")), 6).alias("se"),
        F.round(
            (F.col("rb") - F.col("ra")) / F.sqrt(F.col("va") + F.col("vb")),
            6,
        ).alias("z"),
    )


_Z_ALPHA = 1.959963984540054   # Phi^-1(0.975)
_Z_BETA = 0.8416212335729143   # Phi^-1(0.80)


@query(
    "stats_power_analysis",
    oracle=f"""
    WITH per_user AS ({_RM_PER_USER_SQL}
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx,
             CAST(SUM(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM per_user
    ), s AS (
      SELECT n, n0, n1,
             SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd,
             ABS(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS delta
      FROM m
    )
    SELECT ROUND(sd, 6) AS pooled_sd_cents,
           ROUND(delta, 6) AS observed_diff_cents,
           CAST(CEIL(2.0 * sd * sd
                     * ({_Z_ALPHA!r} + {_Z_BETA!r})
                     * ({_Z_ALPHA!r} + {_Z_BETA!r})
                     / (delta * delta)) AS BIGINT) AS n_required_per_arm,
           ROUND(({_Z_ALPHA!r} + {_Z_BETA!r})
                 * SQRT(2.0 * sd * sd / CAST(LEAST(n0, n1) AS DOUBLE)),
                 6) AS mde_at_current_n
    FROM s
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B POWER ANALYSIS (design side of the experimentation shelf):
    from the observed per-user revenue distribution, the sample size per
    arm needed to detect the currently-observed arm difference at
    α=0.05 / power 0.8 — n = 2σ²(z_crit+z_power)²/δ² — and the minimum
    detectable effect at the CURRENT arm sizes. The z quantiles are
    literal doubles (no inverse-CDF dependency in either engine); σ and
    δ come from exact BIGINT/HUGEINT moments in one pass; the closed
    form is identical trees rounded at 6, the required n an exact CEIL.
    The answer every 'how long must this test run' conversation needs,
    next to stats_ab_srm_check's validity gate and
    stats_ratio_metric_delta's analysis-side inference."""
    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint").alias("x"),
    ).select((F.col("user_id") % 2).cast("int").alias("grp"), "x")
    m = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.when(F.col("grp") == 1, F.col("x")).otherwise(0))
        .cast("bigint").alias("sx1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("x")).otherwise(0))
        .cast("bigint").alias("sx0"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint").alias("n0"),
    )
    n = F.col("n")
    sd = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / (n.cast("double") * (n - 1).cast("double"))
    )
    delta = F.abs(
        F.col("sx1").cast("double") / F.col("n1").cast("double")
        - F.col("sx0").cast("double") / F.col("n0").cast("double")
    )
    zsum = F.lit(_Z_ALPHA) + F.lit(_Z_BETA)
    s = m.select(
        "n0", "n1", sd.alias("sd"), delta.alias("delta")
    )
    return s.select(
        F.round("sd", 6).alias("pooled_sd_cents"),
        F.round("delta", 6).alias("observed_diff_cents"),
        F.ceil(
            2.0 * F.col("sd") * F.col("sd") * zsum * zsum
            / (F.col("delta") * F.col("delta"))
        ).cast("bigint").alias("n_required_per_arm"),
        F.round(
            zsum
            * F.sqrt(
                2.0 * F.col("sd") * F.col("sd")
                / F.least("n0", "n1").cast("double")
            ),
            6,
        ).alias("mde_at_current_n"),
    )


@query(
    "stats_wilson_ci_event_rates",
    oracle=f"""
    WITH counts AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, k,
           ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + {_Z_ALPHA!r} * {_Z_ALPHA!r} / (2.0 * CAST(n AS DOUBLE))
                  - {_Z_ALPHA!r}
                    * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                             / CAST(n AS DOUBLE)
                           + {_Z_ALPHA!r} * {_Z_ALPHA!r}
                             / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE))))
                 / (1.0 + {_Z_ALPHA!r} * {_Z_ALPHA!r} / CAST(n AS DOUBLE)),
                 6) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + {_Z_ALPHA!r} * {_Z_ALPHA!r} / (2.0 * CAST(n AS DOUBLE))
                  + {_Z_ALPHA!r}
                    * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                             / CAST(n AS DOUBLE)
                           + {_Z_ALPHA!r} * {_Z_ALPHA!r}
                             / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE))))
                 / (1.0 + {_Z_ALPHA!r} * {_Z_ALPHA!r} / CAST(n AS DOUBLE)),
                 6) AS wilson_hi
    FROM counts
    """,
)
def stats_wilson_ci_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE intervals for the per-event-type high-value rate
    (P(value > 50)) — the proportion CI that stays inside [0, 1] and
    behaves at k=0/k=n where the naive Wald interval collapses; the form
    every SLO / conversion-rate dashboard should use under small-n
    slices. Exact integer (n, k) per type from one map-side-combined
    agg; the closed form with the literal z (no inverse-CDF in either
    engine) on identical trees, rounded at 6."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0))
        .cast("bigint").alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z = F.lit(_Z_ALPHA)
    half = z * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    center = p + z * z / (2.0 * n)
    denom = 1.0 + z * z / n
    return counts.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@query(
    "stats_gamma_fit_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT CAST(epoch_us(ts)
                  - LAG(epoch_us(ts)) OVER (ORDER BY ts, event_id)
                  AS BIGINT) AS g
      FROM events
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(g) AS s1, SUM(CAST(g AS HUGEINT) * g) AS s2
      FROM gaps WHERE g IS NOT NULL
    )
    SELECT n AS n_gaps,
           ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
             AS mean_gap_sec,
           ROUND((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n * s2 - s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
             AS gamma_shape_k,
           ROUND((CAST(n * s2 - s1 * s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                 / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0, 6)
             AS gamma_scale_sec
    FROM m
    """,
)
def stats_gamma_fit_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments GAMMA FIT of global event interarrival times —
    k = mean²/var, θ = var/mean: the two-parameter arrival model behind
    queueing/capacity math when Poisson (k=1 exactly) is rejected, the
    parametric companion to stats_poisson_dispersion's test (k < 1 ⇔
    overdispersed/bursty, the same verdict events_burstiness reads
    nonparametrically). The GLOBAL time order is consumed only as
    consecutive differences, so it runs distributed: the two-phase
    row number (operators/ranking.py — never a single-partition lag
    over the fact table) followed by a self-join on adjacent ranks;
    moments are exact HUGEINT/decimal(38,0) microsecond sums; k and θ
    are constant-count double algebra on identical trees, seconds for
    readability."""
    from ..operators.ranking import attach_global_order_stats

    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events")
    rn = attach_global_order_stats(
        e.select(F.unix_micros(F.col("ts")).alias("t"), "event_id"),
        [("t", "asc"), ("event_id", "asc")],
        row_number="i",
    ).select("t", "i")
    a, b = rn.alias("a"), rn.alias("b")
    gaps = a.join(b, F.col("b.i") == F.col("a.i") + 1).select(
        (F.col("b.t") - F.col("a.t")).cast("bigint").alias("g")
    )
    m = gaps.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("g").cast(dec)).alias("s1"),
        F.sum(F.col("g").cast(dec) * F.col("g")).alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n.cast("double")
    var = (n * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (
        n.cast("double") * (n - 1).cast("double")
    )
    return m.select(
        n.alias("n_gaps"),
        F.round(mean / 1_000_000.0, 6).alias("mean_gap_sec"),
        F.round(mean * mean / var, 6).alias("gamma_shape_k"),
        F.round(var / mean / 1_000_000.0, 6).alias("gamma_scale_sec"),
    )


# ==========================================================================
# Poisson bootstrap, SPRT, power-user concentration curve
# ==========================================================================


_B = 32  # resamples: bounded by construction, the only fan-out factor

# Truncated-Poisson(1) multiplicity thresholds over the 60-bit hash range:
# P(0)=P(1)=e^-1, P(2)=e^-1/2, P(3)=rest — integer literals so both engines
# bucket identically (never compare floats).
_H_RANGE = 1 << 60
_T0 = int(math.exp(-1.0) * _H_RANGE)           # below: w=0
_T1 = int(2.0 * math.exp(-1.0) * _H_RANGE)     # below: w=1
_T2 = int(2.5 * math.exp(-1.0) * _H_RANGE)     # below: w=2, else w=3


@query(
    "stats_bootstrap_poisson_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ), full_mean AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM per_user
    ), hashed AS (
      SELECT b.b, u.x,
             CAST(('0x' || substr(md5(
               CAST(u.user_id AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)
             ), 1, 15)) AS BIGINT) AS h
      FROM per_user u, UNNEST(range(0, {_B})) AS b(b)
    ), weighted AS (
      SELECT b, x,
             CASE
               WHEN h < {_T0} THEN 0
               WHEN h < {_T1} THEN 1
               WHEN h < {_T2} THEN 2
               ELSE 3
             END AS w
      FROM hashed
    ), boot AS (
      SELECT b,
             ROUND(CAST(SUM(CAST(w AS BIGINT) * x) AS DOUBLE)
                   / CAST(SUM(w) AS BIGINT), 6) AS m
      FROM weighted GROUP BY b
    ), sorted AS (
      SELECT list_sort(list(m)) AS ms FROM boot
    )
    SELECT ROUND(CAST(f.sx AS DOUBLE) / f.n, 6) AS mean_cents,
           s.ms[2] AS boot_lo,
           s.ms[{_B} - 1] AS boot_hi,
           CAST({_B} AS INT) AS n_resamples
    FROM full_mean f, sorted s
    """,
)
def stats_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP confidence interval for mean revenue per user —
    the distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", the method Google popularized): instead of
    drawing n rows with replacement B times (B full shuffles), every user
    draws B independent Poisson(1)-ish multiplicities from a hash of
    (user_id, b), so all B resample means fall out of ONE explode +
    map-side-combinable aggregate — a single pass at any scale. Here the
    multiplicities are truncated-Poisson(1) {0,1,2,3} from integer
    threshold tests on portable_hash64 (deterministic, engine-identical),
    and the interval is the [2nd, 31st] order statistic of the 32 sorted
    resample means — picked via sort_array on the 32-row collect, no
    window, no single-partition sort anywhere. Resample means are rounded
    BEFORE sorting so both engines order identical doubles."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint").alias("x")
    )
    full = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    h = portable_hash64(
        F.concat(F.col("user_id").cast("string"), F.lit(":"),
                 F.col("b").cast("string"))
    )
    w = (
        F.when(h < _T0, 0)
        .when(h < _T1, 1)
        .when(h < _T2, 2)
        .otherwise(3)
    )
    boot = (
        per_user.select(
            "user_id", "x", F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
        )
        .select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w").cast("bigint") * F.col("x")).cast("double")
                / F.sum("w").cast("bigint"),
                6,
            ).alias("m")
        )
    )
    sorted_means = boot.agg(F.sort_array(F.collect_list("m")).alias("ms"))
    return (
        full.crossJoin(F.broadcast(sorted_means))
        .select(
            F.round(F.col("sx").cast("double") / F.col("n"), 6).alias("mean_cents"),
            F.element_at("ms", 2).alias("boot_lo"),
            F.element_at("ms", _B - 1).alias("boot_hi"),
            F.lit(_B).cast("int").alias("n_resamples"),
        )
    )


# SPRT constants: H0 p=0.10 vs H1 p=0.15 high-value rate, alpha=0.05,
# beta=0.20. Per-day LLR term = k*ln(p1/p0) + (n-k)*ln(q1/q0), quantized to
# 1e9 fixed-point per literal factor so the running sum is exact integers.
_L_HIT = round(math.log(0.15 / 0.10) * 1e9)      # per high-value event
_L_MISS = round(math.log(0.85 / 0.90) * 1e9)     # per other event
_A_UPPER = round(math.log((1 - 0.20) / 0.05) * 1e9)  # accept H1 above
_B_LOWER = round(math.log(0.20 / (1 - 0.05)) * 1e9)  # accept H0 below


@query(
    "stats_sprt_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY 1
    ), cum AS (
      SELECT day,
             CAST(SUM(k * {_L_HIT} + (n - k) * ({_L_MISS}))
                  OVER (ORDER BY day) AS BIGINT) AS llr
      FROM daily
    ), crossed AS (
      SELECT MIN(CASE WHEN llr >= {_A_UPPER} OR llr <= {_B_LOWER}
                      THEN day END) AS first_cross_day
      FROM cum
    )
    SELECT c.first_cross_day,
           CASE WHEN x.llr IS NULL THEN 'continue'
                WHEN x.llr >= {_A_UPPER} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           ROUND(CAST((SELECT llr FROM cum ORDER BY day DESC LIMIT 1)
                 AS DOUBLE) / 1e9, 6) AS final_llr
    FROM crossed c
    LEFT JOIN cum x ON x.day = c.first_cross_day
    """,
)
def stats_sprt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT sequential monitor over the daily high-value-event rate
    (H0 p=0.10 vs H1 p=0.15, α=0.05, β=0.20): the cumulative
    log-likelihood ratio in day order, the first day it escapes the
    (ln β/(1−α), ln (1−β)/α) corridor, and the decision — how a live
    experiment stops EARLY with guaranteed error rates instead of waiting
    for a fixed horizon (the sequential member of the experimentation
    shelf next to stats_power_analysis's fixed-n design). Per-day LLR
    terms are exact integers (counts × 1e9-quantized literal log factors)
    so the running sum — a window over the BOUNDED day domain — is
    integer-exact and the boundary comparisons cut identically on both
    engines."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 500, 1).otherwise(0))
        .cast("bigint").alias("k"),
    )
    cum = daily.select(
        "day",
        F.sum(
            F.col("k") * F.lit(_L_HIT) + (F.col("n") - F.col("k")) * F.lit(_L_MISS)
        ).over(Window.orderBy("day")).cast("bigint").alias("llr"),
    )
    crossed = cum.agg(
        F.min(
            F.when(
                (F.col("llr") >= _A_UPPER) | (F.col("llr") <= _B_LOWER),
                F.col("day"),
            )
        ).alias("first_cross_day")
    )
    final = cum.orderBy(F.desc("day")).limit(1).select(
        F.round(F.col("llr").cast("double") / 1e9, 6).alias("final_llr")
    )
    at_cross = cum.withColumnRenamed("day", "first_cross_day")
    return (
        crossed.join(F.broadcast(at_cross), "first_cross_day", "left")
        .crossJoin(F.broadcast(final))
        .select(
            "first_cross_day",
            F.when(F.col("llr").isNull(), "continue")
            .when(F.col("llr") >= _A_UPPER, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            "final_llr",
        )
    )


@query(
    "events_power_user_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS total
      FROM per_user
    ), ranked AS (
      SELECT c,
             ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS r,
             CAST(SUM(c) OVER (ORDER BY c DESC, user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM per_user
    )
    SELECT q.pct AS top_pct,
           CAST(CEIL(q.pct * t.n / 100.0) AS BIGINT) AS n_users,
           ROUND(CAST(x.cum AS DOUBLE) / t.total, 6) AS share_of_events
    FROM tot t,
         UNNEST([1, 5, 10, 50]) AS q(pct)
    JOIN ranked x ON x.r = CAST(CEIL(q.pct * t.n / 100.0) AS BIGINT)
    """,
)
def events_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-USER CONCENTRATION: the share of all events generated by the
    top 1 / 5 / 10 / 50 % most-active users — the "how skewed is our
    load" readout behind rate-limit tiers, cache sizing, and the
    bot-or-whale triage (the events-table sibling of
    agg_customer_ltv_deciles). Users scale WITH the corpus, so the
    descending activity rank + running sum ride the two-phase
    distributed scan (operators/ranking.py::attach_global_order_stats),
    never a bare global window; each checkpoint row is then selected by
    an equi-join on the ceil(q·n) rank. Counts and running sums stay
    integer-exact end to end; the one division is rounded at 6."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
    )
    ranked = attach_global_order_stats(
        per_user,
        [("c", "desc"), ("user_id", "asc")],
        row_number="r",
        cumsum=("c", "cum"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (1, 5, 10, 50)])).alias("top_pct")
    )
    marks = pcts.crossJoin(F.broadcast(tot)).select(
        "top_pct",
        F.ceil(F.col("top_pct") * F.col("n") / 100.0).cast("bigint").alias("n_users"),
        "total",
    )
    return (
        marks.join(ranked, marks.n_users == ranked.r)
        .select(
            "top_pct",
            "n_users",
            F.round(F.col("cum").cast("double") / F.col("total"), 6)
            .alias("share_of_events"),
        )
    )


@query(
    "stats_tost_equivalence",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                      * CAST(ROUND(value * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) AS sxx
      FROM events GROUP BY event_type
    ), g AS (
      SELECT CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) AS gsx,
             CAST(COUNT(*) AS BIGINT) AS gn
      FROM events
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n AS d,
             (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE) / a.n)
               / (a.n - 1) / a.n
             + (CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE) / b.n)
               / (b.n - 1) / b.n AS se2,
             0.02 * (CAST(g.gsx AS DOUBLE) / g.gn) AS delta
      FROM m a JOIN m b ON a.event_type < b.event_type, g
    )
    SELECT type_a, type_b,
           ROUND(d, 6) AS diff_cents,
           ROUND((d + delta) / SQRT(se2), 6) AS t_lower,
           ROUND((delta - d) / SQRT(se2), 6) AS t_upper,
           (ROUND((d + delta) / SQRT(se2), 6) > 1.645
            AND ROUND((delta - d) / SQRT(se2), 6) > 1.645) AS equivalent
    FROM pairs
    """,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST EQUIVALENCE TESTING (two one-sided tests, Schuirmann 1987) —
    the experimentation-shelf member that answers the question a
    significance test can't: "are these two segments' mean revenues
    PROVABLY similar?" For every event-type pair, test H0: |μa − μb| ≥ δ
    against equivalence within δ = 2% of the grand mean, via two
    one-sided Welch z-statistics (large-sample normal critical value
    1.645): equivalent iff BOTH (d+δ)/se and (δ−d)/se clear it. All
    moments are integer-exact cents sums held in decimal(38,0) (the
    overflow rule — this query joins the dual-SF driver_sim cohort);
    means, variances and the two t-statistics are fixed-order arithmetic
    on those exact moments, rounded to 6 BEFORE the boundary comparison
    so the equivalence booleans can't split on an ulp. One groupBy over
    the fact table + a 10-row pair join."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("sx"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("sxx"),
    )
    g = e.agg(
        F.sum(cents.cast("decimal(38,0)")).alias("gsx"),
        F.count("*").cast("bigint").alias("gn"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("an"),
        F.col("sx").alias("asx"),
        F.col("sxx").alias("asxx"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("bn"),
        F.col("sx").alias("bsx"),
        F.col("sxx").alias("bsxx"),
    )
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(g))
        .select(
            "type_a",
            "type_b",
            (
                F.col("asx").cast("double") / F.col("an")
                - F.col("bsx").cast("double") / F.col("bn")
            ).alias("d"),
            (
                (
                    F.col("asxx").cast("double")
                    - F.col("asx").cast("double")
                    * F.col("asx").cast("double")
                    / F.col("an")
                )
                / (F.col("an") - 1)
                / F.col("an")
                + (
                    F.col("bsxx").cast("double")
                    - F.col("bsx").cast("double")
                    * F.col("bsx").cast("double")
                    / F.col("bn")
                )
                / (F.col("bn") - 1)
                / F.col("bn")
            ).alias("se2"),
            (F.lit(0.02) * (F.col("gsx").cast("double") / F.col("gn"))).alias(
                "delta"
            ),
        )
    )
    t_lo = F.round((F.col("d") + F.col("delta")) / F.sqrt("se2"), 6)
    t_hi = F.round((F.col("delta") - F.col("d")) / F.sqrt("se2"), 6)
    return pairs.select(
        "type_a",
        "type_b",
        F.round("d", 6).alias("diff_cents"),
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        ((t_lo > 1.645) & (t_hi > 1.645)).alias("equivalent"),
    )


@query(
    "stats_median_ci_exact",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS r
      FROM spend
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    ks AS (
      SELECT n,
             CAST(FLOOR((n + 1) / 2.0) AS BIGINT) AS k_med_lo,
             CAST(FLOOR(n / 2.0) + 1 AS BIGINT) AS k_med_hi,
             GREATEST(CAST(FLOOR(n / 2.0 - 1.959964 * SQRT(n / 4.0)) AS BIGINT), 1)
               AS k_lo,
             LEAST(CAST(CEIL(n / 2.0 + 1 + 1.959964 * SQRT(n / 4.0)) AS BIGINT), n)
               AS k_hi
      FROM n
    )
    SELECT ks.n AS n_customers,
           ROUND(((SELECT cents FROM ranked WHERE r = ks.k_med_lo)
                  + (SELECT cents FROM ranked WHERE r = ks.k_med_hi)) / 200.0,
                 6) AS median_spend,
           ROUND((SELECT cents FROM ranked WHERE r = ks.k_lo) / 100.0, 6)
             AS ci_lo,
           ROUND((SELECT cents FROM ranked WHERE r = ks.k_hi) / 100.0, 6)
             AS ci_hi
    FROM ks
    """,
)
def stats_median_ci_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL — the exact
    order-statistic CI (binomial/normal-approximation bounds: ranks
    n/2 ∓ z·√(n/4), the nonparametric interval that needs NO variance
    estimate and holds for any continuous distribution): the customer-
    spend median with its 95% CI read off three global ranks. Ranks
    come from the two-phase distributed scan
    (operators/ranking.py::attach_global_order_stats — repartitionByRange
    + per-partition sort + offset collect), never a single-partition
    window; the three target ranks are then picked by one broadcast-able
    equi-join on the rank column. Rank formulas use only n, so both
    engines derive identical integer ranks; spends are exact cents."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = attach_global_order_stats(
        spend, [("cents", "asc"), ("o_custkey", "asc")], row_number="r"
    )
    n_df = ranked.agg(F.count("*").cast("bigint").alias("n"))
    ks = n_df.select(
        "n",
        F.floor((F.col("n") + 1) / 2.0).cast("bigint").alias("k_med_lo"),
        (F.floor(F.col("n") / 2.0) + 1).cast("bigint").alias("k_med_hi"),
        F.greatest(
            F.floor(
                F.col("n") / 2.0 - 1.959964 * F.sqrt(F.col("n") / 4.0)
            ).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("k_lo"),
        F.least(
            F.ceil(
                F.col("n") / 2.0 + 1 + 1.959964 * F.sqrt(F.col("n") / 4.0)
            ).cast("bigint"),
            F.col("n"),
        ).alias("k_hi"),
    )
    picks = ranked.select("r", "cents").join(
        F.broadcast(ks),
        (F.col("r") == F.col("k_med_lo"))
        | (F.col("r") == F.col("k_med_hi"))
        | (F.col("r") == F.col("k_lo"))
        | (F.col("r") == F.col("k_hi")),
    )
    return picks.groupBy("n").agg(
        F.round(
            (
                F.max(F.when(F.col("r") == F.col("k_med_lo"), F.col("cents")))
                + F.max(F.when(F.col("r") == F.col("k_med_hi"), F.col("cents")))
            )
            / 200.0,
            6,
        ).alias("median_spend"),
        F.round(
            F.max(F.when(F.col("r") == F.col("k_lo"), F.col("cents"))) / 100.0, 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("r") == F.col("k_hi"), F.col("cents"))) / 100.0, 6
        ).alias("ci_hi"),
    ).select(
        F.col("n").alias("n_customers"), "median_spend", "ci_lo", "ci_hi"
    )


_PERM_B = 64


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ), sizes AS (
      SELECT CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS na,
             CAST(COUNT(*) AS BIGINT) AS nt
      FROM ev
    ), obs AS (
      SELECT CAST(SUM(cents) FILTER (WHERE event_type = 'click') AS DOUBLE)
               / COUNT(*) FILTER (WHERE event_type = 'click')
             - CAST(SUM(cents) FILTER (WHERE event_type = 'view') AS DOUBLE)
               / COUNT(*) FILTER (WHERE event_type = 'view') AS d_obs
      FROM ev
    ), perms AS (
      SELECT b.b, e.cents,
             (CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':'
                                   || CAST(b.b AS VARCHAR)), 1, 15)) AS BIGINT)
              % s.nt) < s.na AS in_a
      FROM ev e, UNNEST(range(0, {_PERM_B})) AS b(b), sizes s
    ), pd AS (
      SELECT b,
             CAST(SUM(cents) FILTER (WHERE in_a) AS DOUBLE)
               / COUNT(*) FILTER (WHERE in_a)
             - CAST(SUM(cents) FILTER (WHERE NOT in_a) AS DOUBLE)
               / COUNT(*) FILTER (WHERE NOT in_a) AS d
      FROM perms GROUP BY b
    )
    SELECT s.na AS n_click, s.nt - s.na AS n_view,
           ROUND(o.d_obs, 6) AS observed_diff_cents,
           CAST({_PERM_B} AS INT) AS n_perms,
           CAST(COUNT(*) FILTER (WHERE ABS(pd.d) >= ABS(o.d_obs)) AS BIGINT)
             AS n_extreme,
           CAST(COUNT(*) FILTER (WHERE ABS(pd.d) >= ABS(o.d_obs)) + 1 AS DOUBLE)
             / ({_PERM_B} + 1) AS p_value
    FROM pd, obs o, sizes s
    GROUP BY s.na, s.nt, o.d_obs
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-DETERMINISTIC PERMUTATION TEST (randomization inference) —
    does mean revenue differ between click and view events, judged
    against the null distribution built by RELABELING: 64 pseudo-
    permutations assign each event to group A with the exact marginal
    rate n_click/n_total via the INTEGER test hash(event_id, b) % n_total
    < n_click — no float threshold, both engines draw identical
    assignments (the same md5-derived portable hash as the Poisson
    bootstrap). All 64 permuted mean differences fall out of ONE explode
    + map-side-combinable aggregate (never 64 shuffles); the p-value is
    the add-one-smoothed extreme fraction ((#|d_b| ≥ |d_obs|)+1)/(B+1),
    exact integers over exact cents sums, one double division at the
    end. The distribution-free sibling of stats_welch_t_sources /
    stats_bootstrap_poisson_ci on the experimentation shelf."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    ev = e.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    # sizes and the observed difference fall out of ONE 1-row aggregate
    # (they were two separate corpus scans; the permutation explode below
    # is the third — now second — pass over events)
    sizes = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("na"),
        F.count("*").cast("bigint").alias("nt"),
        (
            F.sum(F.when(F.col("event_type") == "click", F.col("cents")))
            .cast("double")
            / F.count(F.when(F.col("event_type") == "click", 1))
            - F.sum(F.when(F.col("event_type") == "view", F.col("cents")))
            .cast("double")
            / F.count(F.when(F.col("event_type") == "view", 1))
        ).alias("d_obs"),
    ).localCheckpoint(eager=False)
    obs = sizes.select("d_obs")
    perms = (
        ev.crossJoin(F.broadcast(sizes))
        .select(
            "event_id",
            "cents",
            "na",
            "nt",
            F.explode(F.array([F.lit(b) for b in range(_PERM_B)])).alias("b"),
        )
        .select(
            "b",
            "cents",
            (
                portable_hash64(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                )
                % F.col("nt")
                < F.col("na")
            ).alias("in_a"),
        )
    )
    pd = perms.groupBy("b").agg(
        (
            F.sum(F.when(F.col("in_a"), F.col("cents"))).cast("double")
            / F.count(F.when(F.col("in_a"), 1))
            - F.sum(F.when(~F.col("in_a"), F.col("cents"))).cast("double")
            / F.count(F.when(~F.col("in_a"), 1))
        ).alias("d")
    )
    extreme = (
        pd.crossJoin(F.broadcast(obs))
        .agg(
            F.count(
                F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1)
            )
            .cast("bigint")
            .alias("n_extreme")
        )
    )
    return (
        extreme.crossJoin(F.broadcast(sizes))
        .select(
            F.col("na").alias("n_click"),
            (F.col("nt") - F.col("na")).alias("n_view"),
            F.round("d_obs", 6).alias("observed_diff_cents"),
            F.lit(_PERM_B).cast("int").alias("n_perms"),
            "n_extreme",
            (
                (F.col("n_extreme") + 1).cast("double") / (_PERM_B + 1)
            ).alias("p_value"),
        )
    )


@query(
    "stats_forecast_backtest_mase",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT day, cents,
             LAG(cents, 7) OVER (ORDER BY day) AS snaive,
             LAG(cents, 1) OVER (ORDER BY day) AS naive1
      FROM daily
    ), scored AS (
      SELECT ABS(cents - snaive) AS e_snaive,
             ABS(cents - naive1) AS e_naive1
      FROM lagged WHERE snaive IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           ROUND(CAST(SUM(e_snaive) AS BIGINT) / 100.0 / COUNT(*), 6)
             AS mae_seasonal_naive,
           ROUND(CAST(SUM(e_naive1) AS BIGINT) / 100.0 / COUNT(*), 6)
             AS mae_naive1,
           ROUND(CAST(SUM(e_snaive) AS DOUBLE) / SUM(e_naive1), 6) AS mase
    FROM scored
    """,
)
def stats_forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST with MASE (Hyndman & Koehler 2006) — the
    scale-free accuracy metric that makes forecast models comparable
    across series: seasonal-naive (value 7 days ago) scored against the
    one-step naive baseline on the same scored days, MASE = Σ|e_snaive|
    / Σ|e_naive1| (< 1 ⇒ the weekly-seasonal model beats naive drift —
    the go/no-go gate a forecasting pipeline runs before promoting any
    model, here backtesting the seasonality the holt/seasonal queries
    model). Errors are exact integer cents; the bounded ~30-day domain
    rides one ordered window over the daily aggregate (calendar-bounded,
    the COVERAGE.md whitelist class)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        F.lag("cents", 7).over(w).alias("snaive"),
        F.lag("cents", 1).over(w).alias("naive1"),
    ).where(F.col("snaive").isNotNull())
    scored = lagged.select(
        F.abs(F.col("cents") - F.col("snaive")).alias("e_snaive"),
        F.abs(F.col("cents") - F.col("naive1")).alias("e_naive1"),
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_days_scored"),
        F.round(
            F.sum("e_snaive").cast("bigint") / 100.0 / F.count("*"), 6
        ).alias("mae_seasonal_naive"),
        F.round(
            F.sum("e_naive1").cast("bigint") / 100.0 / F.count("*"), 6
        ).alias("mae_naive1"),
        F.round(
            F.sum("e_snaive").cast("double") / F.sum("e_naive1"), 6
        ).alias("mase"),
    )


@query(
    "stats_mcnemar_paired",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS did_a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS did_b
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT CAST(SUM(CASE WHEN did_a = 1 AND did_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN did_a = 1 AND did_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN did_a = 0 AND did_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN did_a = 0 AND did_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM per_user
    )
    SELECT n11, n10, n01, n00,
           ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                 / NULLIF(n10 + n01, 0), 6) AS chi2,
           ROUND(CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) AS DOUBLE)
                 / NULLIF(n10 + n01, 0), 6) AS chi2_cc,
           CASE WHEN CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                     / NULLIF(n10 + n01, 0) > 3.841458820694124
                THEN 1 ELSE 0 END AS reject_at_05
    FROM cells
    """,
)
def stats_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST FOR PAIRED BINARY OUTCOMES — the within-subject
    sibling of the two-proportion z-test the experimentation shelf
    already carries: for each user, did they click (outcome A) and did
    they purchase (outcome B)? Only the DISCORDANT cells matter
    (χ² = (n10 − n01)²/(n10 + n01), plus Edwards' continuity-corrected
    variant), so the test isolates users who changed behavior — the
    correct analysis when both measurements come from the SAME subject
    and the z-test's independence assumption breaks. One user-keyed
    aggregate to the 2×2 concordance table (map-side combinable), then
    exact-integer cell arithmetic with a single rounded division; the
    χ²₁ critical value 3.8415 is a literal in both engines."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("did_a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("did_b"),
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("did_a") == 1) & (F.col("did_b") == 1), 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when((F.col("did_a") == 1) & (F.col("did_b") == 0), 1).otherwise(0)).cast("bigint").alias("n10"),
        F.sum(F.when((F.col("did_a") == 0) & (F.col("did_b") == 1), 1).otherwise(0)).cast("bigint").alias("n01"),
        F.sum(F.when((F.col("did_a") == 0) & (F.col("did_b") == 0), 1).otherwise(0)).cast("bigint").alias("n00"),
    )
    d = F.col("n10") - F.col("n01")
    denom = F.nullif(F.col("n10") + F.col("n01"), F.lit(0))
    chi2 = (d * d).cast("double") / denom
    cc = (F.abs(d) - 1) * (F.abs(d) - 1)
    return cells.select(
        "n11", "n10", "n01", "n00",
        F.round(chi2, 6).alias("chi2"),
        F.round(cc.cast("double") / denom, 6).alias("chi2_cc"),
        F.when(chi2 > 3.841458820694124, 1).otherwise(0).alias("reject_at_05"),
    )


@query(
    "events_quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS arm,
             CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS v_q
      FROM events GROUP BY user_id
    ), qs AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(quantile_cont(v_q, 0.25) / 10000, 6) AS q25,
             ROUND(quantile_cont(v_q, 0.50) / 10000, 6) AS q50,
             ROUND(quantile_cont(v_q, 0.75) / 10000, 6) AS q75
      FROM per_user GROUP BY arm
    )
    SELECT t.n AS n_treat, c.n AS n_ctrl,
           ROUND(t.q25 - c.q25, 6) AS qte_25,
           ROUND(t.q50 - c.q50, 6) AS qte_50,
           ROUND(t.q75 - c.q75, 6) AS qte_75,
           t.q50 AS treat_median, c.q50 AS ctrl_median
    FROM (SELECT * FROM qs WHERE arm = 1) t, (SELECT * FROM qs WHERE arm = 0) c
    """,
)
def events_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE TREATMENT EFFECTS — the distributional readout a
    mean-diff A/B test hides: at each quartile of per-user total value,
    how much does the treatment arm (synthetic hash split user_id % 2,
    the repo's standard deterministic assignment) shift the quantile?
    QTE(p) = q_T(p) − q_C(p); a lift concentrated in qte_75 with flat
    qte_25 means the treatment moves whales, not typical users. Per-user
    values are 1e4-quantized integers BEFORE the quantile (so the
    interpolation arithmetic is over identical integers in both engines);
    quantiles are per-arm keyed aggregates — no global window — and the
    final QTE row joins two single-row arms."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("v_q"),
    ).select(
        "user_id", (F.col("user_id") % 2).cast("int").alias("arm"), "v_q"
    )
    qs = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v_q)") / 10000, 6).alias("q25"),
        F.round(F.expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY v_q)") / 10000, 6).alias("q50"),
        F.round(F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY v_q)") / 10000, 6).alias("q75"),
    )
    t = qs.where(F.col("arm") == 1).alias("t")
    c = qs.where(F.col("arm") == 0).alias("c")
    return t.crossJoin(F.broadcast(c)).select(
        F.col("t.n").alias("n_treat"),
        F.col("c.n").alias("n_ctrl"),
        F.round(F.col("t.q25") - F.col("c.q25"), 6).alias("qte_25"),
        F.round(F.col("t.q50") - F.col("c.q50"), 6).alias("qte_50"),
        F.round(F.col("t.q75") - F.col("c.q75"), 6).alias("qte_75"),
        F.col("t.q50").alias("treat_median"),
        F.col("c.q50").alias("ctrl_median"),
    )


@query(
    "stats_levene_brown_forsythe",
    oracle="""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT grp, quantile_cont(cents, 0.5) AS m FROM x GROUP BY grp
    ), z AS (
      SELECT x.grp,
             CAST(2 * ABS(CAST(x.cents AS DOUBLE) - med.m) AS BIGINT) AS z2
      FROM x JOIN med USING (grp)
    ), g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z2) AS BIGINT) AS s,
             CAST(SUM(CAST(z2 AS DECIMAL(38,0)) * z2) AS DECIMAL(38,0)) AS q
      FROM z GROUP BY grp
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    ), terms AS (
      SELECT g.grp, g.n, g.s, tot.nt, tot.k,
             CAST(FLOOR(g.n * POWER(CAST(g.s AS DOUBLE) / g.n
                                    - CAST(tot.st AS DOUBLE) / tot.nt, 2)
                        / 1024 + 0.5) AS BIGINT) AS ssb_q,
             CAST(FLOOR((CAST(g.q AS DOUBLE)
                         - CAST(g.s AS DOUBLE) * g.s / g.n)
                        / 1024 + 0.5) AS BIGINT) AS ssw_q
      FROM g, tot
    ), w AS (
      SELECT CAST(MAX(nt) AS BIGINT) AS n_total,
             CAST(MAX(k) AS BIGINT) AS n_groups,
             FLOOR(((MAX(nt) - MAX(k)) * CAST(SUM(ssb_q) AS DOUBLE))
                   / ((MAX(k) - 1) * CAST(SUM(ssw_q) AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS w_stat
      FROM terms
    )
    SELECT t.grp AS o_orderpriority, t.n AS n_rows,
           FLOOR(CAST(t.s AS DOUBLE) / (2 * t.n) * 1000000 + 0.5) / 1000000
             AS mean_absdev_cents,
           w.n_total, w.n_groups, w.w_stat
    FROM terms t, w
    """,
)
def stats_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE / LEVENE TEST for variance homogeneity across the
    five order-priority groups — the assumption check every ANOVA user
    (stats_anova_dow_revenue) should run first: W = ((N-k)/(k-1)) *
    SSB(z)/SSW(z) where z_ij = |x_ij - median_j| (the median-centered
    Brown-Forsythe variant, robust to non-normality; Levene 1960 /
    Brown & Forsythe 1974). Cross-engine discipline: cents via the
    house FLOOR quantizer; z doubled into exact half-cent BIGINTs (a
    median of an integer sample is a .0/.5 value, so 2z is integer);
    Sz2**2 kept in DECIMAL(38,0) (z2 ~ 1.2e7 squared * row count passes
    2^63 at sf>=0.1 - the dual-SF moment gate applies); each group's SSB
    and SSW contribution quantized to a BIGINT in 1024-half-cent^2 units
    BEFORE the 5-term cross-group sum (per-term discipline - a 5-row
    float SUM is still order-dependent; /1024 is an exact power-of-two
    rescale that keeps the BIGINT under 2^63 at any SF and cancels in
    the SSB/SSW ratio; Spark FLOOR(double) RETURNS a BIGINT, so the
    quantizer itself must not exceed long range). Shape at 100 TB: one keyed agg for medians,
    one keyed agg for moments, then 5-row algebra under a broadcast -
    no global window, no second corpus pass."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    med = x.groupBy("grp").agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)").alias("m")
    )
    z = x.join(med, "grp").select(
        "grp",
        (2 * F.abs(F.col("cents").cast("double") - F.col("m"))).cast("bigint").alias("z2"),
    )
    # r13: the 5-row per-group moment table feeds the grand total AND the
    # final algebra join — checkpoint it so the median + moment corpus
    # aggregations run once (16 parquet scans → 4 in the plan)
    g = z.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z2").cast("bigint").alias("s"),
        F.sum(F.col("z2").cast("decimal(38,0)") * F.col("z2")).cast("decimal(38,0)").alias("q"),
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.count("*").cast("bigint").alias("k"),
    )
    terms = g.crossJoin(F.broadcast(tot)).select(
        "grp", "n", "s", "nt", "k",
        F.floor(
            F.col("n")
            * F.pow(
                F.col("s").cast("double") / F.col("n")
                - F.col("st").cast("double") / F.col("nt"),
                2,
            )
            / 1024
            + F.lit(0.5)
        ).cast("bigint").alias("ssb_q"),
        F.floor(
            (
                F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / 1024
            + F.lit(0.5)
        ).cast("bigint").alias("ssw_q"),
    )
    w = terms.agg(
        F.max("nt").cast("bigint").alias("n_total"),
        F.max("k").cast("bigint").alias("n_groups"),
        (
            F.floor(
                ((F.max("nt") - F.max("k")) * F.sum("ssb_q").cast("double"))
                / ((F.max("k") - 1) * F.sum("ssw_q").cast("double"))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("w_stat"),
    )
    return terms.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("n").alias("n_rows"),
        (
            F.floor(
                F.col("s").cast("double") / (2 * F.col("n")) * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("mean_absdev_cents"),
    ).crossJoin(F.broadcast(w))


@query(
    "stats_ljung_box_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, r FROM daily
    ), diff AS (
      SELECT a.t - 1 AS t, a.r - b.r AS x
      FROM seq a JOIN seq b ON a.t = b.t + 1
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
      FROM diff
    ), lagk AS (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS npair,
             CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x) AS DECIMAL(38,0)) AS sab,
             CAST(SUM(a.x) AS BIGINT) AS sa, CAST(SUM(b.x) AS BIGINT) AS sb
      FROM UNNEST(range(1, 11)) AS k(k)
      JOIN diff a ON TRUE JOIN diff b ON b.t = a.t + k.k
      GROUP BY k.k
    ), rho AS (
      SELECT l.k,
             FLOOR((CAST(l.sab AS DOUBLE)
                    - CAST(m.sx AS DOUBLE) / m.n * l.sb
                    - CAST(m.sx AS DOUBLE) / m.n * l.sa
                    + l.npair * POWER(CAST(m.sx AS DOUBLE) / m.n, 2))
                   / (CAST(m.sxx AS DOUBLE)
                      - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                   * 1000000000 + 0.5) AS rho_q,
             m.n
      FROM lagk l, m
    )
    , qterm AS (
      SELECT n, CAST(FLOOR(POWER(rho_q / 1000000000, 2) / (n - k)
                           * 1000000000000000 + 0.5) AS BIGINT) AS tq
      FROM rho
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_obs,
           CAST(COUNT(*) AS INT) AS n_lags,
           FLOOR(MAX(n) * (MAX(n) + 2.0)
                 * (CAST(SUM(tq) AS DOUBLE) / 1000000000000000)
                 * 1000000 + 0.5) / 1000000 AS q_stat
    FROM qterm
    """,
)
def stats_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST (Ljung & Box 1978) on first-differenced
    daily revenue: Q = n(n+2) * sum_{k=1..10} rho_k^2/(n-k), the standard
    'is anything left in the residuals' white-noise check that a
    forecasting pipeline (stats_forecast_backtest_mase,
    stats_acf_daily_revenue) runs after fitting - large Q rejects
    independence. All moments are exact: daily revenue is an exact cents
    BIGINT, first differences are exact integers, and every cross/self
    moment (sum x_t*x_{t+k}) accumulates in DECIMAL(38,0) (cents-level
    daily sums squared pass 2^63 comfortably - dual-SF moment gate
    applies). rho_k is computed from exact integer moments with the
    identical expression order in both engines, 1e9-quantized, and each
    lag's Q contribution is 1e15-quantized to a BIGINT BEFORE the
    10-term sum (per-term discipline at both accumulation points). Scale shape: one
    calendar-bounded daily agg, then day-domain self-joins (the proven
    lag-join shape of stats_acf_daily_revenue) - nothing corpus-scaled
    ever re-shuffles."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    w = Window.orderBy("d")
    # days are calendar-bounded (a global window over <= ~2,500 rows at any
    # SF) but still routed through a keyed shape: diff against lag-1 join
    seq = daily.select(F.row_number().over(w).alias("t"), "r")
    a = seq.alias("a")
    b = seq.alias("b")
    # r14: diff feeds the global moment agg AND both sides of the 10-lag
    # join — three derivations of the daily rollup + lag join (12 parquet
    # scans). The table is day-domain-sized; materialize it once (§2.4).
    diff = (
        a.join(b, F.col("a.t") == F.col("b.t") + 1)
        .select((F.col("a.t") - 1).alias("t"), (F.col("a.r") - F.col("b.r")).alias("x"))
    ).localCheckpoint(eager=False)
    m = diff.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    da = diff.alias("da")
    db = diff.alias("db")
    lagk = (
        F.broadcast(ks)
        .join(da, F.lit(True))
        .join(db, F.col("db.t") == F.col("da.t") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("npair"),
            F.sum(F.col("da.x").cast("decimal(38,0)") * F.col("db.x"))
            .cast("decimal(38,0)")
            .alias("sab"),
            F.sum("da.x").cast("bigint").alias("sa"),
            F.sum("db.x").cast("bigint").alias("sb"),
        )
    )
    rho = lagk.crossJoin(F.broadcast(m)).select(
        "k",
        "n",
        F.floor(
            (
                F.col("sab").cast("double")
                - F.col("sx").cast("double") / F.col("n") * F.col("sb")
                - F.col("sx").cast("double") / F.col("n") * F.col("sa")
                + F.col("npair")
                * F.pow(F.col("sx").cast("double") / F.col("n"), 2)
            )
            / (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n")
            )
            * 1000000000
            + F.lit(0.5)
        ).alias("rho_q"),
    )
    qterm = rho.select(
        "n",
        F.floor(
            F.pow(F.col("rho_q") / 1000000000, 2)
            / (F.col("n") - F.col("k"))
            * 1000000000000000
            + F.lit(0.5)
        ).cast("bigint").alias("tq"),
    )
    return qterm.agg(
        F.max("n").cast("bigint").alias("n_obs"),
        F.count("*").cast("int").alias("n_lags"),
        (
            F.floor(
                F.max("n")
                * (F.max("n") + 2.0)
                * (F.sum("tq").cast("double") / 1000000000000000)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("q_stat"),
    )
