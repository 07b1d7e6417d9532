"""Data-layout queries: the Z-order curve code that drives multi-column
clustering (sources/layout.py::write_zordered).

The code itself is registered as an oracle query — pure integer bit
arithmetic after a min-max scale, so DuckDB reproduces every value — and
the layout EFFECT (per-file min/max ranges tight on BOTH columns) is
pinned by tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from ..sources.layout import _scaled, hilbert_code_levels, morton_code
from .registry import query

_BITS = 8


@query(
    "layout_zorder_code",
    oracle=f"""
    WITH stats AS (
      SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
             MIN(o_totalprice) AS ymin, MAX(o_totalprice) AS ymax
      FROM orders
    ), scaled AS (
      SELECT o_orderkey,
             LEAST(CAST(FLOOR(
               CASE WHEN xmax - xmin > 0
                    THEN (o_custkey - xmin) / CAST(xmax - xmin AS DOUBLE)
                    ELSE 0 END * {(1 << _BITS) - 1}) AS BIGINT),
               {(1 << _BITS) - 1}) AS sx,
             LEAST(CAST(FLOOR(
               CASE WHEN ymax - ymin > 0
                    THEN (o_totalprice - ymin) / CAST(ymax - ymin AS DOUBLE)
                    ELSE 0 END * {(1 << _BITS) - 1}) AS BIGINT),
               {(1 << _BITS) - 1}) AS sy
      FROM orders, stats
    )
    SELECT o_orderkey,
           CAST(SUM((((sx >> i.i) & 1) << (2 * i.i))
                    + (((sy >> i.i) & 1) << (2 * i.i + 1))) AS BIGINT) AS zcode
    FROM scaled, UNNEST(range(0, {_BITS})) AS i(i)
    GROUP BY o_orderkey
    """,
)
def layout_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) curve code over (o_custkey, o_totalprice): the
    clustering key write_zordered sorts by, so every parquet file covers
    a small rectangle of the 2-D space and min/max stats prune range
    predicates on EITHER column. Min-max scale from a broadcast 1-row
    agg, then pure integer bit interleave — one projection, and the
    oracle checks every code value."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").alias("xmin"), F.max("o_custkey").alias("xmax"),
        F.min("o_totalprice").alias("ymin"), F.max("o_totalprice").alias("ymax"),
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        morton_code(
            _scaled(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS),
            _scaled(F.col("o_totalprice"), F.col("ymin"), F.col("ymax"), _BITS),
            bits=_BITS,
        ).alias("zcode"),
    )


@query(
    "layout_compaction_bins",
    oracle="""
    WITH files AS (
      SELECT date_trunc('month', l_shipdate) AS mon,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ), planned AS (
      SELECT mon, n_rows,
             CAST(COALESCE(SUM(n_rows) OVER (
               ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // 16384 AS BIGINT) AS bin_id
      FROM files
    )
    SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MIN(mon) AS DATE) AS first_month,
           CAST(MAX(mon) AS DATE) AS last_month
    FROM planned GROUP BY 1
    """,
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE / bin-packing step
    every lakehouse table needs): monthly lineitem "files" (row counts
    standing in for byte sizes) packed in ship-date order into ~16,384-row
    output bins via bin_id = floor(running_total_before / target). The
    date-ordered cumulative pack — rather than first-fit-decreasing —
    keeps each output file CLUSTERED on the sort key, so min/max pruning
    survives compaction (the same argument as the Z-order row above).
    Exact integer row counts end-to-end; the plan is one metadata-sized
    keyed agg + one ordered window over the FILE LIST (not the data), so
    at 100 TB it reads table metadata, never the table."""
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mon")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    w = Window.orderBy("mon").rowsBetween(Window.unboundedPreceding, -1)
    planned = files.select(
        "mon",
        "n_rows",
        F.floor(
            F.coalesce(F.sum("n_rows").over(w), F.lit(0)) / 16384
        ).cast("bigint").alias("bin_id"),
    )
    return planned.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("mon").cast("date").alias("first_month"),
        F.max("mon").cast("date").alias("last_month"),
    )


@query(
    "layout_equi_depth_histogram",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT v, c,
             CAST(COALESCE(SUM(c) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS below,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM vals
    ), buckets AS (
      SELECT b.b AS bucket, (b.b * (SELECT MAX(n) FROM cum)) // 8 AS lo_rank,
             ((b.b + 1) * (SELECT MAX(n) FROM cum)) // 8 AS hi_rank
      FROM UNNEST(range(0, 8)) AS b(b)
    )
    SELECT bucket,
           CAST(SUM(CASE WHEN below < hi_rank AND hi_rank <= below + c
                         THEN v ELSE 0 END) AS BIGINT) AS upper_cents,
           CAST(MAX(hi_rank - lo_rank) AS BIGINT) AS depth
    FROM buckets, cum
    GROUP BY bucket
    """,
)
def layout_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram of o_totalprice (8 buckets) — the statistic a
    cost-based optimizer keeps per column (equal ROW counts per bucket,
    so selectivity estimates stay accurate in skewed tails where
    equi-WIDTH buckets collapse): the b-th boundary is the exact value at
    rank ⌊(b+1)·n/8⌋, selected by the order-statistic machinery on the
    distinct-cent domain (agg_exact_quartiles_price generalized to a
    boundary VECTOR — one cumulative pass serves all 8 ranks via a
    broadcast bucket spec). Depths are exact integers; boundaries exact
    cents."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.groupBy(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_ord), F.lit(0)).cast("bigint").alias("below"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    buckets = spark.range(8).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    j = cum.crossJoin(F.broadcast(buckets)).select(
        "bucket",
        "v",
        "c",
        "below",
        (F.col("bucket") * F.col("n") / 8).cast("bigint").alias("lo_rank"),
        ((F.col("bucket") + 1) * F.col("n") / 8).cast("bigint").alias(
            "hi_rank"
        ),
    )
    hit = (F.col("below") < F.col("hi_rank")) & (
        F.col("hi_rank") <= F.col("below") + F.col("c")
    )
    return j.groupBy("bucket").agg(
        F.sum(F.when(hit, F.col("v")).otherwise(0)).cast("bigint").alias(
            "upper_cents"
        ),
        F.max(F.col("hi_rank") - F.col("lo_rank")).cast("bigint").alias(
            "depth"
        ),
    )


_ZM_ROWS = 1024  # rows per simulated file
_ZM_LO, _ZM_HI = "1995-01-01", "1995-12-31"


@query(
    "layout_zonemap_pruning",
    oracle=f"""
    WITH natural_files AS (
      SELECT o_orderkey // {_ZM_ROWS} AS file_id, o_orderdate AS d
      FROM orders
    ), clustered AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
               // {_ZM_ROWS} AS file_id,
             o_orderdate AS d
      FROM orders
    ), both_layouts AS (
      SELECT 'natural' AS layout, file_id, d FROM natural_files
      UNION ALL
      SELECT 'clustered', file_id, d FROM clustered
    ), zones AS (
      SELECT layout, file_id,
             MIN(d) AS min_d, MAX(d) AS max_d,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM both_layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN max_d < DATE '{_ZM_LO}'
                           OR min_d > DATE '{_ZM_HI}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
           CAST(SUM(CASE WHEN max_d < DATE '{_ZM_LO}'
                           OR min_d > DATE '{_ZM_HI}'
                    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_pruned,
           ROUND(CAST(SUM(CASE WHEN max_d < DATE '{_ZM_LO}'
                                 OR min_d > DATE '{_ZM_HI}'
                          THEN n_rows ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n_rows) AS DOUBLE), 6) AS row_prune_ratio
    FROM zones GROUP BY layout
    """,
)
def layout_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP (min/max statistics) pruning audit — the number every
    layout decision is ultimately about: for a one-year order-date
    predicate, how many simulated 1024-row files can be SKIPPED
    from their (min, max) o_orderdate alone, under the NATURAL insert
    order (file = orderkey range — TPC-H orderkeys are date-uncorrelated,
    so nearly every file straddles the predicate) vs a DATE-CLUSTERED
    rewrite (file = rank range in (o_orderdate, o_orderkey) order, the
    write_zordered/compaction-bins story, where pruning approaches the
    selectivity). The clustered rank comes from the two-phase distributed
    scan (operators/ranking.py — orders are fact-scaled, no single-
    partition window); zone stats are a file-keyed agg, the audit runs on
    the FILE LIST. Exact integer counts; one ratio rounded at 6."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    natural = o.select(
        F.lit("natural").alias("layout"),
        (F.col("o_orderkey") / _ZM_ROWS).cast("bigint").alias("file_id"),
        F.col("o_orderdate").alias("d"),
    )
    clustered = attach_global_order_stats(
        o,
        [("o_orderdate", "asc"), ("o_orderkey", "asc")],
        row_number="__rn2",
    ).select(
        F.lit("clustered").alias("layout"),
        ((F.col("__rn2") - 1) / _ZM_ROWS).cast("bigint").alias("file_id"),
        F.col("o_orderdate").alias("d"),
    )
    zones = natural.unionByName(clustered).groupBy("layout", "file_id").agg(
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    pruned = (F.col("max_d") < F.lit(_ZM_LO).cast("date")) | (
        F.col("min_d") > F.lit(_ZM_HI).cast("date")
    )
    return zones.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.when(pruned, 1).otherwise(0)).cast("bigint").alias(
            "files_pruned"
        ),
        F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
        .cast("bigint").alias("rows_pruned"),
        F.round(
            F.sum(F.when(pruned, F.col("n_rows")).otherwise(0)).cast("double")
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("row_prune_ratio"),
    )


@query(
    "layout_clustering_depth",
    oracle=f"""
    WITH natural_files AS (
      SELECT o_orderkey // {_ZM_ROWS} AS file_id, o_orderdate AS d
      FROM orders
    ), clustered AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
               // {_ZM_ROWS} AS file_id,
             o_orderdate AS d
      FROM orders
    ), both_layouts AS (
      SELECT 'natural' AS layout, file_id, d FROM natural_files
      UNION ALL
      SELECT 'clustered', file_id, d FROM clustered
    ), zones AS (
      SELECT layout, file_id, MIN(d) AS min_d, MAX(d) AS max_d
      FROM both_layouts GROUP BY 1, 2
    ), deltas AS (
      SELECT layout, t, SUM(dd) AS dd FROM (
        SELECT layout, min_d AS t, 1 AS dd FROM zones
        UNION ALL
        SELECT layout, max_d + INTERVAL 1 DAY, -1 FROM zones
      ) GROUP BY 1, 2
    ), depth AS (
      SELECT layout, t,
             CAST(SUM(dd) OVER (PARTITION BY layout ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS depth
      FROM deltas
    ), starts AS (
      SELECT z.layout, z.file_id, x.depth
      FROM zones z JOIN depth x
        ON x.layout = z.layout AND x.t = z.min_d
    )
    SELECT s.layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           (SELECT CAST(MAX(depth) AS BIGINT) FROM depth
            WHERE depth.layout = s.layout) AS max_depth,
           ROUND(CAST(SUM(s.depth) AS DOUBLE) / COUNT(*), 6)
             AS avg_depth_at_starts
    FROM starts s GROUP BY s.layout
    """,
)
def layout_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTERING DEPTH (the OPTIMIZE-quality metric lakehouses report):
    how many files' (min, max) o_orderdate zones overlap at once — depth 1
    means perfectly disjoint zones (every point-date predicate touches one
    file), depth ≈ n_files means every file straddles everything and zone
    maps prune nothing. Computed for the same two simulated layouts as
    layout_zonemap_pruning: NATURAL orderkey-range files (date-uncorrelated
    → depth ≈ file count) vs the DATE-CLUSTERED rewrite on the two-phase
    distributed rank (depth ≈ 1-2) — the before/after every clustering
    decision is judged by. The sweep sums +1/−1 zone endpoints GROUPED BY
    DATE first (so intra-date event order can never skew the running
    maximum), then one window over the bounded date domain; per-file depth
    is read back at each zone's start via an equi-join on the file list.
    Exact integers except the one rounded average."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    natural = o.select(
        F.lit("natural").alias("layout"),
        (F.col("o_orderkey") / _ZM_ROWS).cast("bigint").alias("file_id"),
        F.col("o_orderdate").alias("d"),
    )
    clustered = attach_global_order_stats(
        o,
        [("o_orderdate", "asc"), ("o_orderkey", "asc")],
        row_number="__rn2",
    ).select(
        F.lit("clustered").alias("layout"),
        ((F.col("__rn2") - 1) / _ZM_ROWS).cast("bigint").alias("file_id"),
        F.col("o_orderdate").alias("d"),
    )
    # r14: zones fed deltas twice (one select per endpoint) and starts
    # once — THREE derivations of the distributed rank over orders; depth
    # fed max_depth and starts — two more. zones (~2·n_files rows) and
    # depth (date-domain rows) are both file/date-scale, so materialize
    # each once (§2.4) and emit the ±1 endpoints with one explode.
    zones = natural.unionByName(clustered).groupBy("layout", "file_id").agg(
        F.min("d").alias("min_d"), F.max("d").alias("max_d")
    ).localCheckpoint(eager=False)
    deltas = (
        zones.select(
            "layout",
            F.explode(
                F.array(
                    F.struct(F.col("min_d").alias("t"), F.lit(1).alias("dd")),
                    F.struct(
                        (F.col("max_d") + F.expr("INTERVAL 1 DAY")).alias("t"),
                        F.lit(-1).alias("dd"),
                    ),
                )
            ).alias("p"),
        )
        .select("layout", "p.t", "p.dd")
        .groupBy("layout", "t")
        .agg(F.sum("dd").alias("dd"))
    )
    w = Window.partitionBy("layout").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    depth = deltas.select(
        "layout", "t", F.sum("dd").over(w).cast("bigint").alias("depth")
    ).localCheckpoint(eager=False)
    max_depth = depth.groupBy("layout").agg(
        F.max("depth").cast("bigint").alias("max_depth")
    )
    starts = zones.join(
        depth.withColumnRenamed("t", "min_d"), ["layout", "min_d"]
    )
    per_layout = starts.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.round(F.sum("depth").cast("double") / F.count("*"), 6).alias(
            "avg_depth_at_starts"
        ),
    )
    return per_layout.join(F.broadcast(max_depth), "layout").select(
        "layout", "n_files", "max_depth", "avg_depth_at_starts"
    )


@query(
    "layout_shuffle_skew_forecast",
    oracle="""
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(event_type), 1, 15)) AS BIGINT) % 32
               AS bucket,
             event_type
      FROM events
    ), per_bucket AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_keys
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(MAX(n_rows) AS BIGINT) AS max_rows
      FROM per_bucket
    )
    SELECT p.bucket, p.n_rows, p.n_keys,
           FLOOR(CAST(t.max_rows AS DOUBLE) * t.n_buckets / t.total
                 * 1000000 + 0.5) / 1000000 AS skew_factor
    FROM per_bucket p, tot t
    """,
)
def layout_shuffle_skew_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-SHUFFLE SKEW FORECAST — the planning audit you run BEFORE
    keying a 100 TB join or aggregation: hash every row's prospective
    shuffle key (here events.event_type, a low-cardinality key that
    genuinely skews) into the target partition count (32) with the
    portable 60-bit md5 hash, and report per-bucket row counts, distinct
    keys per bucket, and the skew factor max/mean — the multiplier the
    straggler partition pays. skew_factor >> 1 says 'salt this key or
    let AQE split it' (operators/skew.py) BEFORE burning the shuffle;
    keys-per-bucket 1 with huge n_rows distinguishes one-hot keys (need
    salting) from unlucky bucket collisions (need more partitions). One
    map-side-combinable aggregate over the corpus, 32-row algebra under
    a broadcast - the audit costs one scan at any scale. Bucketing is
    md5-based in BOTH engines (Spark's own hash() has no DuckDB twin)."""
    from ..functions.hashing import portable_hash64

    e = load_table(spark, sf_dir, "events")
    b = e.select(
        (portable_hash64(F.col("event_type")) % 32).alias("bucket"),
        "event_type",
    )
    per_bucket = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("event_type").cast("bigint").alias("n_keys"),
    )
    tot = per_bucket.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
    )
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        "n_keys",
        (
            F.floor(
                F.col("max_rows").cast("double")
                * F.col("n_buckets")
                / F.col("total")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("skew_factor"),
    )


def _hilbert_oracle(bits: int = _BITS) -> str:
    """Unrolled xy2d levels as a linear CTE chain — each level reads the
    previous level's named columns, so the SQL never duplicates
    subexpressions (the AS MATERIALIZED exponential-inline hazard only
    bites DAG-shaped unrolls; this chain is a straight line)."""
    n = 1 << bits
    mx = n - 1
    lvls = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        lvls.append(f"""
    l{i} AS (
      SELECT o_orderkey,
             hd + {s * s} * xor(3 * ((x >> {i}) & 1), (y >> {i}) & 1) AS hd,
             CASE WHEN ((y >> {i}) & 1) = 1 THEN x
                  WHEN ((x >> {i}) & 1) = 1 THEN {mx} - y
                  ELSE y END AS x,
             CASE WHEN ((y >> {i}) & 1) = 1 THEN y
                  WHEN ((x >> {i}) & 1) = 1 THEN {mx} - x
                  ELSE x END AS y
      FROM l{i + 1}
    )""")
    chain = ",".join(lvls)
    return f"""
    WITH stats AS (
      SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
             MIN(o_totalprice) AS ymin, MAX(o_totalprice) AS ymax
      FROM orders
    ),
    l{bits} AS (
      SELECT o_orderkey,
             CAST(0 AS BIGINT) AS hd,
             LEAST(CAST(FLOOR(
               CASE WHEN xmax - xmin > 0
                    THEN (o_custkey - xmin) / CAST(xmax - xmin AS DOUBLE)
                    ELSE 0 END * {mx}) AS BIGINT), {mx}) AS x,
             LEAST(CAST(FLOOR(
               CASE WHEN ymax - ymin > 0
                    THEN (o_totalprice - ymin) / CAST(ymax - ymin AS DOUBLE)
                    ELSE 0 END * {mx}) AS BIGINT), {mx}) AS y
      FROM orders, stats
    ),{chain}
    SELECT o_orderkey, CAST(hd AS BIGINT) AS hcode FROM l0
    """


@query("layout_hilbert_code", oracle=_hilbert_oracle())
def layout_hilbert_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT curve code over (o_custkey, o_totalprice) — the
    clustering key that strictly improves on layout_zorder_code's Morton
    interleave: every unit step of the Hilbert index moves to a
    grid-adjacent cell (no quadrant-seam jumps), so curve-ordered files
    get tighter per-file bounding boxes and zone maps prune MORE of every
    2-D range predicate (the reason Delta/Iceberg grew hilbert_curve
    alongside zorder). Same plan shape as the Z-order row: min-max scale
    from a broadcast 1-row agg, then 8 levels of pure integer bit
    arithmetic (sources/layout.py::hilbert_code_levels — one projection
    per level, no shuffle, no UDF), and the oracle re-derives every code
    value through the identical unrolled level chain."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").alias("xmin"), F.max("o_custkey").alias("xmax"),
        F.min("o_totalprice").alias("ymin"), F.max("o_totalprice").alias("ymax"),
    )
    scaled = o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        _scaled(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS)
        .alias("sx"),
        _scaled(F.col("o_totalprice"), F.col("ymin"), F.col("ymax"), _BITS)
        .alias("sy"),
    )
    return hilbert_code_levels(scaled, "sx", "sy", "hcode", bits=_BITS)


_LOC_ROWS = 256  # rows per simulated file in the locality audit


def _curve_locality_oracle(bits: int = _BITS, rows: int = _LOC_ROWS) -> str:
    n = 1 << bits
    mx = n - 1
    lvls = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        lvls.append(f"""
    l{i} AS (
      SELECT o_orderkey, sx0, sy0,
             hd + {s * s} * xor(3 * ((x >> {i}) & 1), (y >> {i}) & 1) AS hd,
             CASE WHEN ((y >> {i}) & 1) = 1 THEN x
                  WHEN ((x >> {i}) & 1) = 1 THEN {mx} - y
                  ELSE y END AS x,
             CASE WHEN ((y >> {i}) & 1) = 1 THEN y
                  WHEN ((x >> {i}) & 1) = 1 THEN {mx} - x
                  ELSE x END AS y
      FROM l{i + 1}
    )""")
    chain = ",".join(lvls)
    zterms = " + ".join(
        f"(((sx0 >> {i}) & 1) << {2 * i}) + (((sy0 >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH stats AS (
      SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
             MIN(o_totalprice) AS ymin, MAX(o_totalprice) AS ymax
      FROM orders
    ),
    scaled AS (
      SELECT o_orderkey,
             LEAST(CAST(FLOOR(
               CASE WHEN xmax - xmin > 0
                    THEN (o_custkey - xmin) / CAST(xmax - xmin AS DOUBLE)
                    ELSE 0 END * {mx}) AS BIGINT), {mx}) AS sx0,
             LEAST(CAST(FLOOR(
               CASE WHEN ymax - ymin > 0
                    THEN (o_totalprice - ymin) / CAST(ymax - ymin AS DOUBLE)
                    ELSE 0 END * {mx}) AS BIGINT), {mx}) AS sy0
      FROM orders, stats
    ),
    l{bits} AS (
      SELECT o_orderkey, sx0, sy0, CAST(0 AS BIGINT) AS hd,
             sx0 AS x, sy0 AS y
      FROM scaled
    ),{chain},
    codes AS (
      SELECT o_orderkey, sx0, sy0, hd AS hcode,
             CAST({zterms} AS BIGINT) AS zcode
      FROM l0
    ),
    ranked AS (
      SELECT 'hilbert' AS curve, sx0, sy0,
             (ROW_NUMBER() OVER (ORDER BY hcode, o_orderkey) - 1)
               // {rows} AS file_id
      FROM codes
      UNION ALL
      SELECT 'zorder', sx0, sy0,
             (ROW_NUMBER() OVER (ORDER BY zcode, o_orderkey) - 1)
               // {rows} AS file_id
      FROM codes
    ),
    files AS (
      SELECT curve, file_id,
             MAX(sx0) - MIN(sx0) + MAX(sy0) - MIN(sy0) AS halfperim
      FROM ranked GROUP BY 1, 2
    )
    SELECT curve,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           FLOOR(CAST(SUM(halfperim) AS DOUBLE) / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS avg_halfperim,
           CAST(MAX(halfperim) AS BIGINT) AS max_halfperim
    FROM files GROUP BY curve
    """


@query("layout_curve_locality_audit", oracle=_curve_locality_oracle())
def layout_curve_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURVE LOCALITY AUDIT — the measurement that justifies picking
    Hilbert over Z-order for a clustered rewrite: lay the SAME rows out
    in 256-row files by each curve's order and report the average and
    worst per-file bounding-box half-perimeter (sx-span + sy-span) in
    curve grid units. Tighter boxes = tighter per-file min/max zone maps
    on BOTH columns = more pruning for every 2-D range predicate;
    Hilbert's unit-step adjacency (tests/test_layout.py) shows up
    here as a strictly smaller average than Morton's quadrant-seam
    jumps. Both file assignments use the two-phase distributed rank
    (operators/ranking.py::attach_global_order_stats) — no
    single-partition window over the corpus; the oracle's ROW_NUMBER is
    the same total order (code, orderkey) verbatim."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").alias("xmin"), F.max("o_custkey").alias("xmax"),
        F.min("o_totalprice").alias("ymin"), F.max("o_totalprice").alias("ymax"),
    )
    scaled = o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        _scaled(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS)
        .alias("sx0"),
        _scaled(F.col("o_totalprice"), F.col("ymin"), F.col("ymax"), _BITS)
        .alias("sy0"),
    )
    with_h = hilbert_code_levels(
        scaled.select(
            "o_orderkey", "sx0", "sy0",
            F.col("sx0").alias("hx"), F.col("sy0").alias("hy"),
        ),
        "hx", "hy", "hcode", bits=_BITS,
    )
    codes = with_h.withColumn(
        "zcode", morton_code(F.col("sx0"), F.col("sy0"), bits=_BITS)
    ).localCheckpoint(eager=False)

    def files_for(code_col: str, curve: str) -> DataFrame:
        ranked = attach_global_order_stats(
            codes.select("o_orderkey", "sx0", "sy0", code_col),
            [(code_col, "asc"), ("o_orderkey", "asc")],
            row_number="__rn",
        ).select(
            F.lit(curve).alias("curve"),
            ((F.col("__rn") - 1) / _LOC_ROWS).cast("bigint").alias("file_id"),
            "sx0", "sy0",
        )
        return ranked.groupBy("curve", "file_id").agg(
            (
                F.max("sx0") - F.min("sx0") + F.max("sy0") - F.min("sy0")
            ).alias("halfperim")
        )

    files = files_for("hcode", "hilbert").unionByName(
        files_for("zcode", "zorder")
    )
    return files.groupBy("curve").agg(
        F.count("*").cast("bigint").alias("n_files"),
        (
            F.floor(
                F.sum("halfperim").cast("double") / F.count("*")
                * 1000000 + F.lit(0.5)
            ) / 1000000
        ).alias("avg_halfperim"),
        F.max("halfperim").cast("bigint").alias("max_halfperim"),
    )
