"""Layout utilities: partition pruning must show in the plan; compaction
must hit the target file count."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.sources import load_table
from kafka_avro_pipeline_java_spark.sources.layout import (
    compact,
    hilbert_code_levels,
    write_partitioned,
    write_sorted_by,
)


SF_DIR = "/root/testdata/sf0.001"


def test_partition_pruning(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_by_type")
    e = load_table(spark, sf_dir, "events")
    write_partitioned(e, path, ["event_type"])

    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the clicks
    assert df.count() == e.filter(F.col("event_type") == "click").count()


def test_sorted_layout_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_sorted")
    o = load_table(spark, sf_dir, "orders")
    write_sorted_by(o, path, "o_orderdate", num_files=4)
    back = spark.read.parquet(path)
    assert back.count() == o.count()
    # range predicate still correct over the re-laid-out data
    lo = F.lit("1996-01-01").cast("timestamp")
    assert (
        back.filter(F.col("o_orderdate") < lo).count()
        == o.filter(F.col("o_orderdate") < lo).count()
    )


def test_compact_reduces_file_count(spark, sf_dir, tmp_path):
    import os

    frag, out = str(tmp_path / "frag"), str(tmp_path / "compacted")
    o = load_table(spark, sf_dir, "orders")
    o.repartition(40).write.parquet(frag)  # simulate streaming-sink fragmentation
    n_before = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    assert n_before >= 40
    n_target = compact(spark, frag, out, target_file_mb=128)
    n_after = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_after == n_target < n_before
    assert spark.read.parquet(out).count() == o.count()


def test_zorder_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered files must carry TIGHT per-file ranges on BOTH curve
    columns (the pruning surface); a single-column sort leaves the other
    column's per-file range at ~full width."""
    import glob

    import pyarrow.parquet as pq

    from kafka_avro_pipeline_java_spark.sources.layout import (
        write_sorted_by,
        write_zordered,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def avg_span(path, col):
        spans, lo, hi = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is None:
                continue
            spans.append(fmax - fmin)
            lo = fmin if lo is None else min(lo, fmin)
            hi = fmax if hi is None else max(hi, fmax)
        return (sum(spans) / len(spans)) / (hi - lo)

    zp, sp = str(tmp_path / "zord"), str(tmp_path / "bykey")
    write_zordered(o, zp, "o_custkey", "o_totalprice", n_files=16)
    write_sorted_by(o, sp, "o_custkey", num_files=16)

    # single-column sort: custkey tight, totalprice ~full width per file
    assert avg_span(sp, "o_custkey") < 0.2
    assert avg_span(sp, "o_totalprice") > 0.8
    # z-order: BOTH columns substantially narrowed
    assert avg_span(zp, "o_custkey") < 0.5
    assert avg_span(zp, "o_totalprice") < 0.5


# ---------------------------------------------------------------------------
# shuffle skew forecast
# ---------------------------------------------------------------------------


def test_shuffle_skew_forecast_invariants(spark):
    """Bucket counts sum to the corpus, the skew factor is >= 1, and
    every bucket holds at least one key."""
    import duckdb

    from kafka_avro_pipeline_java_spark.plans import QUERIES

    rows = QUERIES["layout_shuffle_skew_forecast"](spark, SF_DIR).collect()
    con = duckdb.connect()
    total = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["n_rows"] for r in rows) == total
    assert all(r["n_keys"] >= 1 for r in rows)
    assert rows[0]["skew_factor"] >= 1.0


# ---------------------------------------------------------------------------
# Hilbert curve
# ---------------------------------------------------------------------------


def _xy2d(n: int, x: int, y: int) -> int:
    """Independent reference: the classic Wikipedia xy2d bit loop."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_reference_is_a_unit_adjacent_bijection():
    """The reference itself must be a true Hilbert curve: a bijection
    cell -> [0, n^2) where consecutive indices are GRID-ADJACENT (the
    locality property Z-order lacks — Morton jumps at quadrant seams)."""
    n = 16
    d2cell = {}
    for x in range(n):
        for y in range(n):
            d = _xy2d(n, x, y)
            assert d not in d2cell
            d2cell[d] = (x, y)
    assert sorted(d2cell) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = d2cell[d], d2cell[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, d2cell[d], d2cell[d + 1])


def test_hilbert_spark_levels_match_reference(spark):
    """sources/layout.py::hilbert_code_levels reproduces the reference on
    every cell of the 16x16 grid (bits=4 covers all rotate/reflect
    branches — each deeper bit only recurses the same four cases)."""
    bits, n = 4, 16
    cells = [(x * n + y, x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(cells, "k long, sx long, sy long")
    got = {
        r["k"]: r["hcode"]
        for r in hilbert_code_levels(df, "sx", "sy", "hcode", bits=bits).collect()
    }
    for k, x, y in cells:
        assert got[k] == _xy2d(n, x, y), (x, y, got[k])


def test_hilbert_adjacent_codes_are_closer_than_zorder(spark):
    """The reason layout_hilbert_code exists: mean grid distance between
    cells at CONSECUTIVE curve positions is exactly 1.0 for Hilbert
    (unit-adjacent by construction) and > 1 for the Morton/Z-order curve
    on the same grid."""
    from kafka_avro_pipeline_java_spark.sources.layout import morton_code
    from pyspark.sql import functions as F

    bits, n = 4, 16
    cells = [(x * n + y, x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(cells, "k long, sx long, sy long")
    h = {}
    for _, x, y in cells:
        h[_xy2d(n, x, y)] = (x, y)
    z = {}
    zdf = df.select(
        "sx", "sy", morton_code(F.col("sx"), F.col("sy"), bits=bits).alias("z")
    )
    for r in zdf.collect():
        z[r["z"]] = (r["sx"], r["sy"])

    def mean_step(curve):
        steps = [
            abs(curve[d][0] - curve[d + 1][0]) + abs(curve[d][1] - curve[d + 1][1])
            for d in range(n * n - 1)
        ]
        return sum(steps) / len(steps)

    assert mean_step(h) == 1.0
    assert mean_step(z) > 1.0
