"""Sketch/approximate aggregates and sampling — the operators that replace
their exact counterparts at 100 TB (mergeable, one-pass, bounded memory).

Engine-specific estimators (HLL++, t-digest) can't hash-match a DuckDB
oracle, so those are rows-only driver checks with error-bound tests.
Everything else is DETERMINISTIC (portable md5 hash / integer-exact bucket
math) and carries a full DuckDB value oracle: ``sample_lineitem`` (a
seeded hash gate instead of Spark's RNG), DDSketch relative-error
quantiles (a bounded-relative-error state that merges by addition) and
temperature-scaled mixture sampling (n^τ-proportional allocation). At
100 TB a sample/sketch that any engine can reproduce row-for-row is
auditable; an RNG-state one is not. Quota/rate/weighted/importance
sampling and train/val/test splits live in plans/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..sources import load_table
from .registry import query


@query("approx_distinct_customers")
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the scale substitute for exact
    countDistinct (no per-group value set, fixed-size sketch, mergeable
    across partitions without a second shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_customers_approx"),
        F.count("*").alias("n_orders"),
    )


@query("approx_percentile_prices")
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10_000
        ).alias("pcts")
    ).select(
        "l_returnflag",
        F.round(F.element_at("pcts", 1), 2).alias("p50_approx"),
        F.round(F.element_at("pcts", 2), 2).alias("p95_approx"),
    )


@query(
    "profile_orders",
    oracle="""
    SELECT COUNT(*)                                        AS n_rows,
           COUNT(o_custkey)                                AS custkey_nonnull,
           COUNT(DISTINCT o_custkey)                       AS custkey_distinct,
           COUNT(DISTINCT o_orderstatus)                   AS status_distinct,
           ROUND(MIN(o_totalprice), 2)                     AS price_min,
           ROUND(MAX(o_totalprice), 2)                     AS price_max,
           ROUND(AVG(o_totalprice), 2)                     AS price_avg,
           CAST(MIN(o_orderdate) AS TIMESTAMP)             AS date_min,
           CAST(MAX(o_orderdate) AS TIMESTAMP)             AS date_max
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (the data-quality screen every
    training-data ingest runs): null/distinct counts, ranges — one scan,
    one aggregate, no shuffle of raw rows."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        F.round(F.avg("o_totalprice"), 2).alias("price_avg"),
        F.min("o_orderdate").alias("date_min"),
        F.max("o_orderdate").alias("date_max"),
    )


@query(
    "sample_lineitem",
    oracle="""
    WITH sampled AS (
      SELECT l_returnflag, l_extendedprice
      FROM lineitem
      WHERE CAST(('0x' || substr(md5(
              CAST(l_orderkey AS VARCHAR) || ':' ||
              CAST(l_linenumber AS VARCHAR) || ':smp42'), 1, 15)) AS BIGINT)
            < 115292150460684697
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(AVG(l_extendedprice), 2) AS avg_price_sampled
    FROM sampled GROUP BY l_returnflag
    """,
)
def sample_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample + aggregate — the scan-reduction primitive
    for estimation pipelines. The gate is a PORTABLE seeded hash on the
    row key (md5 of (l_orderkey, l_linenumber, seed) < p·2^60) rather
    than Spark's `.sample()` RNG: same one-pass pre-shuffle filter shape
    (evaluates in the scan stage, no extra exchange), but any engine
    reproduces the identical sample — which turns this from a rows-only
    row into a value-checked oracle row, and is what makes a 100 TB
    sample AUDITABLE (re-runs and downstream engines agree row-for-row,
    no RNG-state dependence on partition layout)."""
    from ..functions.hashing import portable_hash64

    l = load_table(spark, sf_dir, "lineitem")
    seeded = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
        F.lit(":smp42"),
    )
    # p·2^60 as the EXACT integer (1<<60)//10 — the same literal appears in
    # the oracle so both engines gate on an identical integer comparison
    sampled = l.filter(portable_hash64(seeded) < (1 << 60) // 10)
    return sampled.groupBy("l_returnflag").agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price_sampled"),
    )


# ==========================================================================
# DDSketch quantiles and temperature-scaled mixture sampling
# ==========================================================================


# DDSketch relative accuracy alpha=0.01 -> gamma=(1+a)/(1-a)=101/99. The
# SQL literal below must match bit-for-bit, so both engines spell it as
# the same double division.
_DD_GAMMA = 101.0 / 99.0


@query(
    "sketch_ddsketch_quantiles",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             CAST(ceil(round(ln(l_extendedprice) / ln(101.0/99.0), 9))
                  AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bucket,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM b
    ), q(q) AS (VALUES (CAST(0.50 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
                       (CAST(0.99 AS DOUBLE))),
    sel AS (
      SELECT c.l_returnflag, q.q, MIN(c.bucket) AS qb
      FROM c JOIN q ON c.cum >= CAST(floor(q.q * (c.n - 1)) AS BIGINT) + 1
      GROUP BY 1, 2
    )
    SELECT l_returnflag, q,
           ROUND(2 * pow(101.0/99.0, qb) / (101.0/99.0 + 1), 2) AS price_est
    FROM sel
    """,
)
def sketch_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (Masson/Rim/Lee, VLDB'19): log-γ bucket histogram
    with a guaranteed RELATIVE error α=1% at every quantile.

    Why this beats approx_percentile at 100 TB: the state is a sparse
    integer histogram keyed by ``ceil(log_γ x)`` — a plain groupBy count,
    so the partial aggregate is map-side combined and the merge is
    addition (exactly associative, unlike GK/t-digest whose merge loses
    accuracy). The per-group sketch is O(log(max/min)/α) buckets
    regardless of row count, and because the bucket function is
    deterministic the whole sketch is value-oracle-checkable — Spark and
    DuckDB produce the identical histogram, hence identical estimates.
    The quantile extraction runs on the tiny histogram (cum-sum window +
    a 3-row quantile join), never on raw rows."""
    l = load_table(spark, sf_dir, "lineitem")
    ln_gamma = F.log(F.lit(_DD_GAMMA))
    hist = (
        l.groupBy(
            "l_returnflag",
            F.ceil(F.round(F.log("l_extendedprice") / ln_gamma, 9))
            .cast("bigint")
            .alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qs = spark.createDataFrame([(0.50,), (0.95,), (0.99,)], "q double")
    sel = (
        cum.join(
            F.broadcast(qs),
            cum["cum"]
            >= F.floor(qs["q"] * (cum["n"] - 1)).cast("bigint") + 1,
        )
        .groupBy("l_returnflag", "q")
        .agg(F.min("bucket").alias("qb"))
    )
    gamma = F.lit(_DD_GAMMA)
    return sel.select(
        "l_returnflag",
        "q",
        F.round(2 * F.pow(gamma, F.col("qb")) / (gamma + 1), 2).alias(
            "price_est"
        ),
    )


@query(
    "pipeline_temperature_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), targets AS (
      SELECT source, n_docs,
             CAST(round(200.0 * sqrt(CAST(n_docs AS DOUBLE))
                        / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER (), 0)
                  AS BIGINT) AS target
      FROM counts
    ), h AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || ':mix7'), 1, 15)) AS BIGINT),
                 doc_id) AS rn
      FROM documents
    )
    SELECT t.source, t.n_docs, t.target,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           ROUND(AVG(h.n_chars), 2) AS avg_chars_selected
    FROM targets t JOIN h ON h.source = t.source AND h.rn <= t.target
    GROUP BY 1, 2, 3
    """,
)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (τ=0.5, budget=200 docs): the
    data-mixing step that up-weights small sources — target share per
    source ∝ n_s^τ instead of n_s (τ<1 flattens the source distribution,
    the standard trick for multilingual/multi-domain training mixes).

    Scale shape: the per-source count table is tiny (one row per source),
    so the normalizing window over it is a no-op shuffle; the selection
    is the same deterministic smallest-hash top-k as the reservoir
    operator, driven by a broadcast join of the target table — no global
    sort, no collect of raw rows."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    # one row per source — the unpartitioned window is over a tiny frame
    w_norm = Window.partitionBy()
    targets = counts.select(
        "source",
        "n_docs",
        F.round(
            200.0
            * F.sqrt(F.col("n_docs").cast("double"))
            / F.sum(F.sqrt(F.col("n_docs").cast("double"))).over(w_norm),
            0,
        )
        .cast("bigint")
        .alias("target"),
    )
    w_rank = Window.partitionBy("source").orderBy(
        portable_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(":mix7"))
        ),
        "doc_id",
    )
    ranked = d.select(
        "source", "doc_id", "n_chars", F.row_number().over(w_rank).alias("rn")
    )
    picked = ranked.join(F.broadcast(targets), "source").filter(
        F.col("rn") <= F.col("target")
    )
    return picked.groupBy("source", "n_docs", "target").agg(
        F.count("*").alias("n_selected"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars_selected"),
    )


@query(
    "pipeline_neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    ), sd AS (
      SELECT source, nh,
             SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
                  / (nh - 1)) AS sigma
      FROM strata WHERE nh > 1
    ), tot AS (
      SELECT SUM(nh * sigma) AS t FROM sd
    )
    SELECT sd.source, sd.nh AS stratum_size,
           ROUND(sd.sigma, 6) AS sigma_chars,
           CAST(ROUND(1000.0 * sd.nh * sd.sigma / tot.t, 0) AS BIGINT)
             AS neyman_n
    FROM sd, tot
    """,
)
def pipeline_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation across source strata for a
    1,000-doc quality-audit budget: n_h ∝ N_h·σ_h (big AND internally
    varied strata get more auditors) — the statistically-correct version
    of the proportional split pipeline_sample_per_source draws, and the
    table a labeling vendor is handed. Per-stratum σ comes from exact
    BIGINT power sums of n_chars (the audited measure); the allocation
    is one ratio per stratum against the Σ N_h σ_h total — both engines
    evaluate the identical tree (sums of ≤20 same-magnitude terms),
    rounded to whole docs. One groupBy to the strata table."""
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("nh"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("s2"),
    )
    sigma = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("nh")
        )
        / (F.col("nh") - 1)
    )
    sd = strata.filter(F.col("nh") > 1).select(
        "source", "nh", sigma.alias("sigma")
    )
    tot = sd.agg(F.sum(F.col("nh") * F.col("sigma")).alias("t"))
    return sd.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("nh").alias("stratum_size"),
        F.round("sigma", 6).alias("sigma_chars"),
        F.round(1000.0 * F.col("nh") * F.col("sigma") / F.col("t"), 0)
        .cast("bigint").alias("neyman_n"),
    )


@query(
    "sketch_ddsketch_error_audit",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             CAST(ceil(round(ln(l_extendedprice) / ln(101.0/99.0), 9))
                  AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bucket,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM b
    ), q(q) AS (VALUES (CAST(0.50 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
                       (CAST(0.99 AS DOUBLE))),
    est AS (
      SELECT c.l_returnflag, q.q,
             2 * pow(101.0/99.0, MIN(c.bucket)) / (101.0/99.0 + 1) AS est
      FROM c JOIN q ON c.cum >= CAST(floor(q.q * (c.n - 1)) AS BIGINT) + 1
      GROUP BY 1, 2
    ), v AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), vc AS (
      SELECT l_returnflag, cents,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    ), exact AS (
      SELECT vc.l_returnflag, q.q,
             CAST(MIN(vc.cents) AS DOUBLE) / 100 AS exact
      FROM vc JOIN q ON vc.cum >= CAST(floor(q.q * (vc.n - 1)) AS BIGINT) + 1
      GROUP BY 1, 2
    )
    SELECT e.l_returnflag, e.q,
           ROUND(e.est, 2) AS price_est,
           ROUND(x.exact, 2) AS price_exact,
           ROUND(ABS(e.est - x.exact) / x.exact, 6) AS rel_error,
           CASE WHEN ROUND(ABS(e.est - x.exact) / x.exact, 6) <= 0.0101
                THEN 1 ELSE 0 END AS within_alpha
    FROM est e JOIN exact x ON e.l_returnflag = x.l_returnflag AND e.q = x.q
    """,
)
def sketch_ddsketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSKETCH GUARANTEE CERTIFICATION — the sketch's α=1% relative-error
    promise checked IN DATA, not assumed: the log-γ estimate is joined
    against the EXACT quantile (same lower-order-statistic rank
    convention floor(q·(n−1))+1, computed on the bounded distinct-cents
    value histogram — the whitelisted exact-quantile plan class), and
    every row reports the realized relative error plus a within-α flag
    (cut at 0.0101 for the γ-boundary rounding slack). This is the audit
    a platform runs once per sketch deployment to certify threshold
    picks; both histograms are map-side-combined aggregates and the
    windows are group-keyed — nothing scales past the value domain."""
    l = load_table(spark, sf_dir, "lineitem")
    ln_gamma = F.log(F.lit(_DD_GAMMA))
    qs = spark.createDataFrame([(0.50,), (0.95,), (0.99,)], "q double")

    hist = l.groupBy(
        "l_returnflag",
        F.ceil(F.round(F.log("l_extendedprice") / ln_gamma, 9))
        .cast("bigint").alias("bucket"),
    ).agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("l_returnflag").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag", "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    est = (
        cum.join(
            F.broadcast(qs),
            cum["cum"] >= F.floor(qs["q"] * (cum["n"] - 1)).cast("bigint") + 1,
        )
        .groupBy("l_returnflag", "q")
        .agg(
            (
                F.lit(2.0) * F.pow(F.lit(_DD_GAMMA), F.min("bucket"))
                / (F.lit(_DD_GAMMA) + 1)
            ).alias("est")
        )
    )
    vals = l.groupBy(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("cents"),
    ).agg(F.count("*").alias("cnt"))
    wv_cum = (
        Window.partitionBy("l_returnflag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vcum = vals.select(
        "l_returnflag", "cents",
        F.sum("cnt").over(wv_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    exact = (
        vcum.join(
            F.broadcast(qs),
            vcum["cum"] >= F.floor(qs["q"] * (vcum["n"] - 1)).cast("bigint") + 1,
        )
        .groupBy("l_returnflag", "q")
        .agg((F.min("cents").cast("double") / 100).alias("exact"))
    )
    rel = F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6)
    return est.join(exact, ["l_returnflag", "q"]).select(
        "l_returnflag", "q",
        F.round("est", 2).alias("price_est"),
        F.round("exact", 2).alias("price_exact"),
        rel.alias("rel_error"),
        F.when(rel <= 0.0101, 1).otherwise(0).alias("within_alpha"),
    )
