"""ML-prep & model-evaluation shelf — the queries a training-data /
feature-engineering pipeline runs BETWEEN the warehouse and the trainer:
exact ROC-AUC and threshold metrics over a deterministic scored corpus,
calibration / ECE bins, gains & lift deciles, mutual information and
WOE/IV feature screens, equal-frequency binning, the hashing-trick
collision audit, and the referential-integrity orphan audit.

Shared deterministic score: every ml_* query scores orders with a
RECENCY-INVERTED min-max normalized order date quantized into 1000
integer buckets (sq = floor((dmax-d)/(dmax-dmin) * 1000), capped 999) and
labels y = 1 when o_orderstatus = 'F'. The generator draws status
uniformly at random (measured |corr| < 0.04 against price/date/custkey),
so the honest expected AUC is ~0.5 — the queries verify the METRIC
MACHINERY exactly (tests pin the rank-sum identity against brute-force
pair counting), not synthetic label separability. The
quantization makes the score domain BOUNDED (<= 1000 distinct values):
per-bucket counts are one map-side-combinable aggregate over the corpus,
and every downstream cumulative / threshold / decile computation runs on
the <= 1000-row bucket table — so the whole family costs ONE corpus scan
each at any scale, and the only windows are over the bounded bucket
domain (never over corpus rows). Epoch-day ints and single-expression
double arithmetic are engine-identical, so the oracle checks every value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import session_memo
from ..sources.tables import load_table
from .registry import query

# ---------------------------------------------------------------------------
# shared scored-corpus CTE (DuckDB) and its Spark twin
# ---------------------------------------------------------------------------

_SCORED_CTES = """
    base AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
      FROM orders
    ),
    ds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM base),
    scored AS (
      SELECT y,
             LEAST(CAST(FLOOR(
               CASE WHEN dmax > dmin
                    THEN CAST(dmax - d AS DOUBLE) / (dmax - dmin)
                    ELSE 0.5 END * 1000) AS BIGINT), 999) AS sq
      FROM base, ds
    ),
    buckets AS (
      SELECT sq,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) - CAST(SUM(y) AS BIGINT) AS neg
      FROM scored GROUP BY sq
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, sq) rows: label + 1000-bucket quantized recency score. The
    min/max come from a broadcast 1-row agg; the ratio / floor sequence
    is the exact same float64 op order as the oracle's, so bucket
    assignment is engine-identical (the _scaled precedent,
    sources/layout.py:70)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("d"),
    )
    ds = base.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    return base.crossJoin(F.broadcast(ds)).select(
        "y",
        F.least(
            F.floor(
                F.when(
                    F.col("dmax") > F.col("dmin"),
                    (F.col("dmax") - F.col("d")).cast("double")
                    / (F.col("dmax") - F.col("dmin")),
                ).otherwise(F.lit(0.5))
                * 1000
            ).cast("bigint"),
            F.lit(999).cast("bigint"),
        ).alias("sq"),
    )


def _buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored(spark, sf_dir).groupBy("sq").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"),
    )


def _buckets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ≤1000-row (sq, pos, neg) bucket table: four consumers (threshold
    sweep, calibration, gains, brier). AUC keeps deriving it live as the
    family's canonical plan, so the sweep gates inspect the real
    scored-corpus derivation."""
    return session_memo(spark, "ml_buckets", sf_dir, lambda: _buckets(spark, sf_dir))


_Q6 = "1000000"  # the house 1e-6 FLOOR quantizer scale


def _q6(col):
    """FLOOR(x*1e6+0.5)/1e6 — the engine-stable rounding (ROUND splits
    engines on exact .5 ties; see tests/test_oracle_parity.py)."""
    return F.floor(col * 1000000 + F.lit(0.5)) / 1000000


# ---------------------------------------------------------------------------
# 1. exact ROC-AUC
# ---------------------------------------------------------------------------


@query(
    "ml_roc_auc_exact",
    oracle=f"""
    WITH {_SCORED_CTES},
    cum AS (
      SELECT sq, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY sq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
      FROM buckets
    ),
    u AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cneg + neg)) AS BIGINT) AS u2
      FROM cum
    )
    SELECT n_pos, n_neg,
           FLOOR(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) * {_Q6} + 0.5)
             / {_Q6} AS auc,
           FLOOR((CAST(u2 AS DOUBLE) / (n_pos * n_neg) - 1.0) * {_Q6} + 0.5)
             / {_Q6} AS gini
    FROM u
    """,
)
def ml_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the rank-sum identity AUC = U/(n1*n0), with the
    tie-corrected U computed from per-score-value counts: for each score
    bucket v, positives there beat cneg(v) strictly-lower negatives and
    half-tie the bucket's own negatives, so 2U = sum_v pos_v * (2*cneg_v
    + neg_v) — an EXACT INTEGER (no 0.5 terms, no float rank averaging).
    This is the scale shape: the corpus contributes one map-side
    combinable (score-bucket x label) count, and U folds over the <=1000
    bucket rows; a naive rank-based AUC would global-sort the corpus.
    2U <= 2*n1*n0 stays under 2^53 up to ~10^8 graded rows (the
    magnitude gate rechecks per SF); gini = 2*AUC - 1 is derived from
    the same exact u2."""
    b = _buckets(spark, sf_dir)
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    cum = b.select(
        "sq", "pos", "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cneg"),
    )
    u = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cneg") + F.col("neg")))
        .cast("bigint").alias("u2"),
    )
    return u.select(
        "n_pos",
        "n_neg",
        _q6(
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
        _q6(
            F.col("u2").cast("double") / (F.col("n_pos") * F.col("n_neg"))
            - F.lit(1.0)
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# 2. threshold sweep
# ---------------------------------------------------------------------------

_THRESHOLDS = (100, 300, 500, 700, 900)


@query(
    "ml_threshold_metrics_sweep",
    oracle=f"""
    WITH {_SCORED_CTES},
    t(thr) AS (VALUES {", ".join(f"({t})" for t in _THRESHOLDS)}),
    m AS (
      SELECT thr,
             CAST(SUM(CASE WHEN sq >= thr THEN pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN sq >= thr THEN neg ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN sq <  thr THEN pos ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN sq <  thr THEN neg ELSE 0 END) AS BIGINT) AS tn
      FROM buckets, t GROUP BY thr
    )
    SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
           FLOOR(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) * {_Q6} + 0.5)
             / {_Q6} AS prec,
           FLOOR(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) * {_Q6} + 0.5)
             / {_Q6} AS rec,
           FLOOR(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0)
                 * {_Q6} + 0.5) / {_Q6} AS f1,
           FLOOR(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * {_Q6} + 0.5)
             / {_Q6} AS acc
    FROM m
    """,
)
def ml_threshold_metrics_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION-MATRIX SWEEP at 5 decision thresholds: TP/FP/FN/TN and
    precision / recall / F1 / accuracy per threshold, all from the SAME
    <=1000-row score-bucket table — the corpus is scanned exactly once
    no matter how many thresholds the sweep carries (add 100 more and the
    plan doesn't change shape). F1 is computed in its single-division
    form 2tp/(2tp+fp+fn) so there is exactly one rounding site; empty
    predicted-positive / actual-positive sets degrade to NULL via NULLIF
    rather than dividing by zero. The 5-row threshold table rides a
    broadcast nested-loop join (the allowed scalar shape) against the
    bucket table."""
    b = _buckets_cached(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _THRESHOLDS], "thr bigint"
    )
    m = b.crossJoin(F.broadcast(thr)).groupBy("thr").agg(
        F.sum(F.when(F.col("sq") >= F.col("thr"), F.col("pos")).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when(F.col("sq") >= F.col("thr"), F.col("neg")).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when(F.col("sq") < F.col("thr"), F.col("pos")).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when(F.col("sq") < F.col("thr"), F.col("neg")).otherwise(0))
        .cast("bigint").alias("tn"),
    )
    return m.select(
        "thr", "tp", "fp", "fn", "tn",
        _q6(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
        ).alias("prec"),
        _q6(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
        ).alias("rec"),
        _q6(
            (2 * F.col("tp")).cast("double")
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0))
        ).alias("f1"),
        _q6(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"))
        ).alias("acc"),
    )


# ---------------------------------------------------------------------------
# 3. calibration bins + ECE terms
# ---------------------------------------------------------------------------


@query(
    "ml_calibration_bins_ece",
    oracle=f"""
    WITH {_SCORED_CTES},
    tot AS (SELECT CAST(SUM(pos + neg) AS BIGINT) AS n FROM buckets),
    bins AS (
      SELECT CAST(sq // 100 AS BIGINT) AS bin,
             CAST(SUM(pos + neg) AS BIGINT) AS n_rows,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM((pos + neg) * sq) AS BIGINT) AS ssq
      FROM buckets GROUP BY 1
    )
    SELECT bin, n_rows, n_pos,
           FLOOR(CAST(ssq AS DOUBLE) / n_rows / 1000 * {_Q6} + 0.5)
             / {_Q6} AS conf,
           FLOOR(CAST(n_pos AS DOUBLE) / n_rows * {_Q6} + 0.5)
             / {_Q6} AS acc,
           FLOOR(ABS(CAST(n_pos AS DOUBLE) / n_rows
                     - CAST(ssq AS DOUBLE) / n_rows / 1000)
                 * n_rows / t.n * {_Q6} + 0.5) / {_Q6} AS ece_term
    FROM bins, tot t
    """,
)
def ml_calibration_bins_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY DIAGRAM + ECE TERMS: 10 equal-width probability bins
    of the (score/1000) pseudo-probability; per bin the mean predicted
    probability (conf), the observed positive rate (acc), and the bin's
    expected-calibration-error contribution |acc - conf| * n_b/N — sum
    the ece_term column and you have ECE(10). conf comes from the exact
    INTEGER sum of quantized scores (sum of sq, never a float sum over
    corpus rows), so both engines aggregate identical integers and the
    only float ops are the final per-bin divisions — the corpus scan is
    the same single bucket-count pass the rest of the ml_* family
    shares."""
    b = _buckets_cached(spark, sf_dir)
    tot = b.agg(F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n"))
    bins = b.groupBy(F.floor(F.col("sq") / 100).cast("bigint").alias("bin")).agg(
        F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n_rows"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum((F.col("pos") + F.col("neg")) * F.col("sq"))
        .cast("bigint").alias("ssq"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin", "n_rows", "n_pos",
        _q6(
            F.col("ssq").cast("double") / F.col("n_rows") / 1000
        ).alias("conf"),
        _q6(F.col("n_pos").cast("double") / F.col("n_rows")).alias("acc"),
        _q6(
            F.abs(
                F.col("n_pos").cast("double") / F.col("n_rows")
                - F.col("ssq").cast("double") / F.col("n_rows") / 1000
            )
            * F.col("n_rows")
            / F.col("n")
        ).alias("ece_term"),
    )


# ---------------------------------------------------------------------------
# 4. gains / lift deciles
# ---------------------------------------------------------------------------


@query(
    "ml_gains_lift_deciles",
    oracle=f"""
    WITH {_SCORED_CTES},
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS tpos,
             CAST(SUM(pos + neg) AS BIGINT) AS n
      FROM buckets
    ),
    cumd AS (
      SELECT sq, pos, neg,
             COALESCE(SUM(pos + neg) OVER (ORDER BY sq DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM buckets
    ),
    dec AS (
      SELECT LEAST(CAST(FLOOR(10.0 * cb / n) AS BIGINT), 9) AS decile,
             pos, neg
      FROM cumd, tot
    ),
    g AS (
      SELECT decile,
             CAST(SUM(pos + neg) AS BIGINT) AS n_rows,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM dec GROUP BY decile
    )
    SELECT decile, n_rows, n_pos,
           FLOOR(CAST(SUM(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / t.tpos * {_Q6} + 0.5) / {_Q6} AS cum_capture,
           FLOOR(CAST(n_pos AS DOUBLE) / n_rows
                 / (CAST(t.tpos AS DOUBLE) / t.n) * {_Q6} + 0.5)
             / {_Q6} AS lift
    FROM g, tot t
    """,
)
def ml_gains_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAINS TABLE / LIFT CHART: rows ranked by score descending, cut
    into 10 deciles, per decile the positive count, the CUMULATIVE
    capture rate (share of all positives reached by decile d — the gains
    curve), and the lift (decile positive rate over base rate). The
    decile cut comes from the bucket-table CDF — decile(bucket) =
    floor(10 * rows_above / N) — NOT from an NTILE over the corpus, so
    there is no global row sort at any scale (ties inside one score
    bucket all land in the same decile, which is the well-defined
    bucketed-score decile). Windows run over <=1000 bucket rows and 10
    decile rows."""
    b = _buckets_cached(spark, sf_dir)
    tot = b.agg(
        F.sum("pos").cast("bigint").alias("tpos"),
        F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n"),
    )
    w = Window.orderBy(F.desc("sq")).rowsBetween(Window.unboundedPreceding, -1)
    cumd = b.select(
        "sq", "pos", "neg",
        F.coalesce(F.sum(F.col("pos") + F.col("neg")).over(w), F.lit(0))
        .alias("cb"),
    )
    dec = cumd.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.floor(F.lit(10.0) * F.col("cb") / F.col("n")).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("decile"),
        "pos", "neg",
    )
    g = dec.groupBy("decile").agg(
        F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n_rows"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "decile", "n_rows", "n_pos",
        _q6(
            F.sum("n_pos").over(wc).cast("double") / F.col("tpos")
        ).alias("cum_capture"),
        _q6(
            F.col("n_pos").cast("double") / F.col("n_rows")
            / (F.col("tpos").cast("double") / F.col("n"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# 5. mutual information feature screen
# ---------------------------------------------------------------------------


@query(
    "features_mutual_information",
    oracle=f"""
    WITH j AS (
      SELECT o_orderpriority AS x, o_orderstatus AS yv,
             CAST(COUNT(*) AS BIGINT) AS nxy
      FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM j GROUP BY x),
    my AS (SELECT yv, CAST(SUM(nxy) AS BIGINT) AS ny FROM j GROUP BY yv),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM j),
    s AS (
      SELECT CAST(SUM(CAST(FLOOR(
               nxy * LN(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS miq
      FROM j JOIN mx USING (x) JOIN my USING (yv), tot
    ),
    hx AS (
      SELECT CAST(SUM(CAST(FLOOR(nx * LN(CAST(n AS DOUBLE) / nx)
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS hq
      FROM mx, tot
    ),
    hy AS (
      SELECT CAST(SUM(CAST(FLOOR(ny * LN(CAST(n AS DOUBLE) / ny)
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS hq
      FROM my, tot
    )
    SELECT t.n AS n_rows,
           FLOOR(CAST(s.miq AS DOUBLE) / 1000000000 / t.n * {_Q6} + 0.5)
             / {_Q6} AS mi_nats,
           FLOOR(CAST(hx.hq AS DOUBLE) / 1000000000 / t.n * {_Q6} + 0.5)
             / {_Q6} AS h_priority,
           FLOOR(CAST(hy.hq AS DOUBLE) / 1000000000 / t.n * {_Q6} + 0.5)
             / {_Q6} AS h_status,
           FLOOR(CAST(s.miq AS DOUBLE) / LEAST(hx.hq, hy.hq) * {_Q6} + 0.5)
             / {_Q6} AS nmi
    FROM s, hx, hy, tot t
    """,
)
def features_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION feature screen between o_orderpriority and
    o_orderstatus: MI = sum_ij p_ij ln(p_ij/(p_i p_j)) in nats, both
    marginal entropies, and the normalized MI = MI/min(H_x, H_y) — the
    scale-free 'is this feature worth keeping' association score that
    (unlike Cramer's V, stats_cramers_v_matrix) is comparable across
    alphabet sizes. One map-side-combinable (x, y) count over the
    corpus; the 15-cell joint table drives everything else. Each MI/H
    term is 1e9-quantized to an INTEGER before the cross-cell SUM (the
    house ln-parity discipline: per-term quantized sums absorb engine
    summation-order differences, and the final 1e-6 rounding absorbs
    the <=1-ulp libm-vs-JVM ln flips a 1e9 quantizer can admit). The
    n_ij*N products stay exact in float64 up to ~10^8 graded rows; the
    dual-SF magnitude gate rechecks per SF."""
    o = load_table(spark, sf_dir, "orders")
    # r14: the 15-cell joint table fed mx, my, tot AND the term join —
    # four derivations of the corpus aggregate (18 parquet scans).
    # Materialize the cell-count table once; everything downstream is
    # alphabet-scale (§2.4).
    j = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("yv"),
    ).agg(F.count("*").cast("bigint").alias("nxy")).localCheckpoint(eager=False)
    mx = j.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = j.groupBy("yv").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = j.agg(F.sum("nxy").cast("bigint").alias("n"))
    terms = (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "yv")
        .crossJoin(F.broadcast(tot))
    )
    s = terms.agg(
        F.sum(
            F.floor(
                F.col("nxy")
                * F.log(
                    F.col("nxy").cast("double") * F.col("n")
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint")
        ).cast("bigint").alias("miq")
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                F.col("nx") * F.log(F.col("n").cast("double") / F.col("nx"))
                * 1000000000 + F.lit(0.5)
            ).cast("bigint")
        ).cast("bigint").alias("hq")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                F.col("ny") * F.log(F.col("n").cast("double") / F.col("ny"))
                * 1000000000 + F.lit(0.5)
            ).cast("bigint")
        ).cast("bigint").alias("hq")
    )
    return (
        s.crossJoin(F.broadcast(hx.withColumnRenamed("hq", "hqx")))
        .crossJoin(F.broadcast(hy.withColumnRenamed("hq", "hqy")))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_rows"),
            _q6(
                F.col("miq").cast("double") / 1000000000 / F.col("n")
            ).alias("mi_nats"),
            _q6(
                F.col("hqx").cast("double") / 1000000000 / F.col("n")
            ).alias("h_priority"),
            _q6(
                F.col("hqy").cast("double") / 1000000000 / F.col("n")
            ).alias("h_status"),
            _q6(
                F.col("miq").cast("double") / F.least("hqx", "hqy")
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# 6. WOE / IV screen
# ---------------------------------------------------------------------------


@query(
    "features_woe_iv",
    oracle=f"""
    WITH b AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN FLOOR(o.o_totalprice * 100 + 0.5) >= 15000000
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT seg, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) - CAST(SUM(y) AS BIGINT) AS neg
      FROM b GROUP BY seg
    ),
    t AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS tpos,
             CAST(SUM(neg) AS BIGINT) AS tneg
      FROM g
    )
    SELECT seg, pos + neg AS n, pos AS n_pos,
           FLOOR(LN(CAST(pos AS DOUBLE) * t.tneg
                    / (CAST(neg AS DOUBLE) * t.tpos)) * {_Q6} + 0.5)
             / {_Q6} AS woe,
           FLOOR((CAST(pos AS DOUBLE) / t.tpos - CAST(neg AS DOUBLE) / t.tneg)
                 * LN(CAST(pos AS DOUBLE) * t.tneg
                      / (CAST(neg AS DOUBLE) * t.tpos)) * {_Q6} + 0.5)
             / {_Q6} AS iv_term
    FROM g, t
    """,
)
def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE + INFORMATION VALUE — the credit-scoring
    feature screen: per market segment, WOE = ln((pos_c/pos)/(neg_c/neg))
    (computed in the engine-identical single-ln form ln(pos_c*tneg /
    (neg_c*tpos))) and the segment's IV contribution (p_pos - p_neg)*WOE;
    sum iv_term for the feature's total IV (the classic <0.02 = useless,
    >0.3 = strong screen). Label = high-value order on exact cents (the
    same y as features_target_encoding_loo, so the two screens are
    directly comparable). One fact-to-dim shuffle join on custkey + a
    5-row category algebra under a broadcast; at 100 TB the join is the
    only corpus-sized stage. Cells are guaranteed non-empty at graded
    SFs (thousands of rows per segment on both sides of the price
    threshold), so no smoothing term clouds the oracle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    b = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) >= 15000000, 1
        ).otherwise(0).alias("y"),
    )
    g = b.groupBy("seg").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"),
    )
    t = g.agg(
        F.sum("pos").cast("bigint").alias("tpos"),
        F.sum("neg").cast("bigint").alias("tneg"),
    )
    woe = F.log(
        F.col("pos").cast("double") * F.col("tneg")
        / (F.col("neg").cast("double") * F.col("tpos"))
    )
    return g.crossJoin(F.broadcast(t)).select(
        "seg",
        (F.col("pos") + F.col("neg")).alias("n"),
        F.col("pos").alias("n_pos"),
        _q6(woe).alias("woe"),
        _q6(
            (
                F.col("pos").cast("double") / F.col("tpos")
                - F.col("neg").cast("double") / F.col("tneg")
            )
            * woe
        ).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# 7. equal-frequency binning
# ---------------------------------------------------------------------------


@query(
    "features_quantile_binning",
    oracle="""
    WITH cb AS (
      SELECT CAST(FLOOR(c_acctbal) AS BIGINT) AS dollar,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nc FROM cb),
    cum AS (
      SELECT dollar, n, cents,
             COALESCE(SUM(n) OVER (ORDER BY dollar
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM cb
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(10.0 * below / nc) AS BIGINT), 9) AS bin,
             dollar, n, cents
      FROM cum, tot
    ),
    oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM orders GROUP BY 1
    ),
    percust AS (
      SELECT b.bin, COALESCE(oc.n_ord, 0) AS n_ord
      FROM customer c
      JOIN (SELECT DISTINCT bin, dollar FROM binned) b
        ON b.dollar = CAST(FLOOR(c.c_acctbal) AS BIGINT)
      LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    ),
    ordstats AS (
      SELECT bin, CAST(SUM(n_ord) AS BIGINT) AS total_orders
      FROM percust GROUP BY bin
    )
    SELECT b.bin,
           CAST(SUM(b.n) AS BIGINT) AS n_customers,
           CAST(MIN(b.dollar) AS BIGINT) AS lo_dollar,
           CAST(MAX(b.dollar) AS BIGINT) AS hi_dollar,
           FLOOR(CAST(SUM(b.cents) AS DOUBLE) / SUM(b.n) / 100
                 * 1000000 + 0.5) / 1000000 AS mean_bal,
           FLOOR(CAST(MAX(o.total_orders) AS DOUBLE) / SUM(b.n)
                 * 1000000 + 0.5) / 1000000 AS orders_per_customer
    FROM binned b JOIN ordstats o USING (bin)
    GROUP BY b.bin
    """,
)
def features_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUAL-FREQUENCY (DECILE) BINNING of c_acctbal with per-bin target
    stats — the numeric-feature discretization step before WOE/monotone
    encoding: 10 approximately-equal-population bins, each with its
    dollar edges, exact-cents mean balance, and the per-customer order
    rate (the 'target' a scorecard would model). The cut points come
    from the BOUNDED dollar-bucket CDF (the acctbal domain is ~11k
    dollar values regardless of corpus size) — floor(10 * rows_below /
    N) — not from an NTILE global sort, the same scale argument as
    ml_gains_lift_deciles; ties inside one dollar bucket stay together,
    which is the well-defined dollar-resolution decile. Corpus cost: one
    customer scan for the CDF, one orders count, one customer-to-binmap
    broadcast join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cb = c.groupBy(
        F.floor(F.col("c_acctbal")).cast("bigint").alias("dollar")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("cents"),
    )
    tot = cb.agg(F.sum("n").cast("bigint").alias("nc"))
    w = Window.orderBy("dollar").rowsBetween(Window.unboundedPreceding, -1)
    cum = cb.select(
        "dollar", "n", "cents",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("below"),
    )
    binned = cum.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.floor(F.lit(10.0) * F.col("below") / F.col("nc")).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        "dollar", "n", "cents",
    )
    oc = o.groupBy("o_custkey").agg(F.count("*").cast("bigint").alias("n_ord"))
    binmap = binned.select("bin", "dollar").distinct()
    percust = (
        c.join(
            F.broadcast(binmap),
            binmap["dollar"] == F.floor(c["c_acctbal"]).cast("bigint"),
        )
        .join(oc, oc["o_custkey"] == c["c_custkey"], "left")
        .select("bin", F.coalesce(F.col("n_ord"), F.lit(0)).alias("n_ord"))
    )
    ordstats = percust.groupBy("bin").agg(
        F.sum("n_ord").cast("bigint").alias("total_orders")
    )
    return (
        binned.join(F.broadcast(ordstats), "bin")
        .groupBy("bin")
        .agg(
            F.sum("n").cast("bigint").alias("n_customers"),
            F.min("dollar").cast("bigint").alias("lo_dollar"),
            F.max("dollar").cast("bigint").alias("hi_dollar"),
            _q6(
                F.sum("cents").cast("double") / F.sum("n") / 100
            ).alias("mean_bal"),
            _q6(
                F.max("total_orders").cast("double") / F.sum("n")
            ).alias("orders_per_customer"),
        )
    )


# ---------------------------------------------------------------------------
# 8. hashing-trick collision audit
# ---------------------------------------------------------------------------


@query(
    "features_hashing_trick",
    oracle="""
    WITH feats AS (
      SELECT DISTINCT c_mktsegment AS seg, c_nationkey AS nat FROM customer
    ),
    hb AS (
      SELECT CAST(('0x' || substr(md5(seg || '#' || CAST(nat AS VARCHAR)),
                   1, 15)) AS BIGINT) % 64 AS bucket
      FROM feats
    ),
    pb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_feats
      FROM hb GROUP BY bucket
    )
    SELECT CAST(SUM(n_feats) AS BIGINT) AS n_features,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(MAX(n_feats) AS BIGINT) AS max_bucket_load,
           CAST(SUM(CASE WHEN n_feats > 1 THEN n_feats - 1 ELSE 0 END)
                AS BIGINT) AS n_collided
    FROM pb
    """,
)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHING-TRICK COLLISION AUDIT (Weinberger et al. 2009): hash the
    distinct (segment, nation) categorical cross into 64 feature buckets
    with the portable 60-bit md5 hash and report how many raw features
    share a bucket — the information you need before choosing the
    hashed-feature dimension (n_collided features' signals are
    irrecoverably summed). The distinct feature list is DOMAIN-bounded
    (|segments| x |nations|), so after one map-side-combinable DISTINCT
    the audit is constant-size algebra at any corpus scale. md5-based
    bucketing in BOTH engines (Spark's native hash() has no DuckDB
    twin — the layout_shuffle_skew_forecast precedent)."""
    from ..functions.hashing import portable_hash64

    c = load_table(spark, sf_dir, "customer")
    feats = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).distinct()
    hb = feats.select(
        (
            portable_hash64(
                F.concat(F.col("seg"), F.lit("#"), F.col("nat").cast("string"))
            )
            % 64
        ).alias("bucket")
    )
    pb = hb.groupBy("bucket").agg(F.count("*").cast("bigint").alias("n_feats"))
    return pb.agg(
        F.sum("n_feats").cast("bigint").alias("n_features"),
        F.count("*").cast("bigint").alias("n_buckets_used"),
        F.max("n_feats").cast("bigint").alias("max_bucket_load"),
        F.sum(
            F.when(F.col("n_feats") > 1, F.col("n_feats") - 1).otherwise(0)
        ).cast("bigint").alias("n_collided"),
    )


# ---------------------------------------------------------------------------
# 9. referential-integrity orphan audit
# ---------------------------------------------------------------------------


@query(
    "quality_referential_orphans",
    oracle="""
    WITH e AS (
      SELECT 'customer.c_nationkey->nation' AS edge,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_child,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
              LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
              WHERE n.n_nationkey IS NULL) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderkey IS NULL)
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              LEFT JOIN part p ON p.p_partkey = l.l_partkey
              WHERE p.p_partkey IS NULL)
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
              WHERE s.s_suppkey IS NULL)
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              LEFT JOIN customer c ON c.c_custkey = o.o_custkey
              WHERE c.c_custkey IS NULL)
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier s
              LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
              WHERE n.n_nationkey IS NULL)
    )
    SELECT edge, n_child, n_orphans,
           CAST(FLOOR(1000000.0 * n_orphans / n_child) AS BIGINT) AS orphan_ppm
    FROM e
    """,
)
def quality_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY ORPHAN AUDIT over every FK edge of the
    schema — the data-quality gate a warehouse runs after ingest and a
    training pipeline runs before a join-heavy featurization (an orphan
    fact row silently vanishes from every inner join downstream). Per
    edge: child row count, orphan count (child keys with no parent), and
    orphans-per-million. Each edge is one LEFT ANTI join shuffled on the
    key — the exact plan a 1000-executor run wants (no broadcast of
    corpus-scaled parents; nation-sized dims auto-broadcast) — and the
    audit degrades gracefully: a clean corpus reports six zero rows, and
    THAT is the assertion."""
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in (
            "customer", "lineitem", "orders", "part", "supplier", "nation"
        )
    }
    edges_def = [
        ("customer.c_nationkey->nation",
         "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.l_orderkey->orders",
         "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part",
         "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier",
         "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer",
         "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.s_nationkey->nation",
         "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    # r14: the old shape ran, PER EDGE, a full child count plus a separate
    # corpus-sized anti-join — the child table was scanned twice per edge
    # (lineitem 8 times across its edges; 36 parquet scans). Aggregate
    # before the join instead (§2.3): one scan per edge builds per-key
    # counts (map-side combine — shuffle bytes = distinct keys, not rows),
    # then ONE left join of the key-count table against the parent keys
    # yields both n_child (Σc over all groups) and n_orphans (Σc over
    # unmatched groups) — identical integers. NULL child keys form a key
    # group that never equi-matches, exactly like the anti-join replaced.
    # (A fully-merged variant — one explode-tagged scan per child table +
    # a single string-keyed join over all edges — was A/B'd and LOST 2×:
    # it traded AQE-broadcastable integer joins for a forced corpus
    # shuffle on a string key; this per-edge form keeps the broadcast.)
    def edge(name: str, child: str, key: str, parent: str, pkey: str) -> DataFrame:
        kc = tables[child].groupBy(F.col(key).alias("k")).agg(
            F.count("*").alias("c")
        )
        pa = tables[parent].select(F.col(pkey).alias("pk"))
        j = kc.join(pa, F.col("k") == F.col("pk"), "left")
        return j.agg(
            F.sum("c").cast("bigint").alias("n_child"),
            F.sum(F.when(F.col("pk").isNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("bigint").alias("n_orphans"),
        ).select(
            F.lit(name).alias("edge"),
            "n_child",
            "n_orphans",
            F.floor(
                F.lit(1000000.0) * F.col("n_orphans") / F.col("n_child")
            ).cast("bigint").alias("orphan_ppm"),
        )

    edges = [edge(*e) for e in edges_def]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


# ---------------------------------------------------------------------------
# 10. Brier score + log-loss
# ---------------------------------------------------------------------------


@query(
    "ml_brier_logloss",
    oracle=f"""
    WITH {_SCORED_CTES},
    tot AS (SELECT CAST(SUM(pos + neg) AS BIGINT) AS n FROM buckets),
    t AS (
      SELECT CAST(SUM(pos * (2001 - 2 * sq) * (2001 - 2 * sq)
                     + neg * (2 * sq + 1) * (2 * sq + 1)) AS BIGINT)
               AS brier_num,
             CAST(SUM(CAST(FLOOR(
               -(pos * LN(CAST(2 * sq + 1 AS DOUBLE) / 2002)
                 + neg * LN(CAST(2001 - 2 * sq AS DOUBLE) / 2002))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS ll_q
      FROM buckets
    )
    SELECT t2.n AS n_rows,
           FLOOR(CAST(brier_num AS DOUBLE) / 2002 / 2002 / t2.n
                 * {_Q6} + 0.5) / {_Q6} AS brier,
           FLOOR(CAST(ll_q AS DOUBLE) / 1000000000 / t2.n
                 * {_Q6} + 0.5) / {_Q6} AS logloss_nats
    FROM t, tot t2
    """,
)
def ml_brier_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE + LOG-LOSS of the pseudo-probability p = (sq+0.5)/1001
    (Laplace-smoothed so p is never 0 or 1 and ln stays finite) against
    the binary label — the two proper scoring rules that complete the
    eval shelf beside the ranking metric (AUC) and the calibration bins.
    Brier is computed as an EXACT INTEGER: with p = (2sq+1)/2002, the
    per-bucket numerator pos*(2001-2sq)^2 + neg*(2sq+1)^2 is integer
    arithmetic (max ~N*2001^2, inside 2^53 up to ~10^9 graded rows) and
    only the final division rounds. Log-loss terms carry one ln each,
    1e9-quantized per bucket before the cross-bucket sum (the house ln
    discipline: integer sums absorb engine summation order, final 1e-6
    rounding absorbs ulp-level libm-vs-JVM ln differences). Same single
    corpus scan as the rest of the family."""
    b = _buckets_cached(spark, sf_dir)
    tot = b.agg(F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n"))
    t = b.agg(
        F.sum(
            F.col("pos") * (2001 - 2 * F.col("sq")) * (2001 - 2 * F.col("sq"))
            + F.col("neg") * (2 * F.col("sq") + 1) * (2 * F.col("sq") + 1)
        ).cast("bigint").alias("brier_num"),
        F.sum(
            F.floor(
                -(
                    F.col("pos")
                    * F.log((2 * F.col("sq") + 1).cast("double") / 2002)
                    + F.col("neg")
                    * F.log((2001 - 2 * F.col("sq")).cast("double") / 2002)
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint")
        ).cast("bigint").alias("ll_q"),
    )
    return t.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_rows"),
        _q6(
            F.col("brier_num").cast("double") / 2002 / 2002 / F.col("n")
        ).alias("brier"),
        _q6(
            F.col("ll_q").cast("double") / 1000000000 / F.col("n")
        ).alias("logloss_nats"),
    )


# ---------------------------------------------------------------------------
# 11. blocking-quality audit (record linkage)
# ---------------------------------------------------------------------------

_BLOCK_CAP = 64


def _blocking_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH truth AS MATERIALIZED ({ORACLES["dedup_ngram_jaccard"]}),
    d AS (
      SELECT doc_id, lower(substr(text, 1, 12)) AS blk FROM documents
    ),
    bc AS (SELECT blk, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY blk),
    ok_blocks AS (SELECT blk FROM bc WHERE n <= {_BLOCK_CAP}),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a
      JOIN d b ON b.blk = a.blk AND a.doc_id < b.doc_id
      JOIN ok_blocks ob ON ob.blk = a.blk
    ),
    nums AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bc) AS n_blocks,
             (SELECT CAST(SUM(CASE WHEN n > {_BLOCK_CAP} THEN 1 ELSE 0 END)
                      AS BIGINT) FROM bc) AS n_oversize_blocks,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
              JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hits
    )
    SELECT n_docs, n_truth, n_blocks, n_oversize_blocks, n_candidate_pairs,
           n_hits,
           FLOOR(CAST(n_hits AS DOUBLE) / NULLIF(n_truth, 0)
                 * {_Q6} + 0.5) / {_Q6} AS pair_completeness,
           FLOOR((1.0 - CAST(n_candidate_pairs AS DOUBLE)
                        / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2))
                 * {_Q6} + 0.5) / {_Q6} AS reduction_ratio
    FROM nums
    """


@query("dedup_blocking_quality_audit", oracle=_blocking_oracle())
def dedup_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-QUALITY AUDIT (the record-linkage evaluation pair from
    Christen's survey): score a cheap candidate-generation scheme —
    12-char lowercase prefix blocking, the fuzzy-dedup prefix-block
    family's key — against the n-gram-Jaccard near-dup pairs as ground
    truth. PAIR COMPLETENESS = |candidates ∩ truth| / |truth| (recall of
    the blocker: how many real near-dup pairs survive into the compare
    stage) and REDUCTION RATIO = 1 − |candidates| / (n(n−1)/2) (how much
    of the all-pairs work the blocker eliminates) — the two numbers that
    justify every blocking choice BEFORE burning the expensive pairwise
    stage at 100 TB. Scale shape: the within-block self-join runs only on
    blocks with <= 64 members (oversize blocks are counted and
    excluded — the same df-cap discipline as the banded joins), so
    candidates are ≤ cap·n; the truth intersection is one equi-join on
    the canonical (id_a < id_b) pair key. The truth table reuses the
    session-memoized jaccard pair table (plans/graph.py::_jaccard_pairs)
    — derived once per session, not re-scanned here."""
    from .graph import _jaccard_pairs

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 12)).alias("blk")
    )
    truth = _jaccard_pairs(spark, sf_dir)
    bc = d.groupBy("blk").agg(F.count("*").cast("bigint").alias("n"))
    ok_blocks = bc.filter(F.col("n") <= _BLOCK_CAP).select(
        F.col("blk").alias("okblk")
    )
    a = d.alias("a")
    b = d.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .join(ok_blocks, F.col("a.blk") == F.col("okblk"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_truth = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    bstats = bc.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("n") > _BLOCK_CAP, 1).otherwise(0))
        .cast("bigint").alias("n_oversize_blocks"),
    )
    n_cand = cand.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs")
    )
    n_hits = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    return (
        n_docs.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_docs", "n_truth", "n_blocks", "n_oversize_blocks",
            "n_candidate_pairs", "n_hits",
            _q6(
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("pair_completeness"),
            _q6(
                F.lit(1.0)
                - F.col("n_candidate_pairs").cast("double")
                / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1) / 2)
            ).alias("reduction_ratio"),
        )
    )
