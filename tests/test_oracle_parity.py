"""Mirror of the driver's correctness harness: every query with an oracle is
run on Spark AND on DuckDB over the same parquet tables, then compared by
row count, column names, and exact canonicalized values (order-insensitive).

This is intentionally STRICTER than necessary (exact string canonical form,
not tolerance-based) so anything the driver's value-hash would flag fails
here first.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.plans import ORACLES, QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # queries round explicitly; 12 significant digits canonicalization
        # catches any residual engine noise without masking real diffs
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs oracle {len(drows)}"
    sc, dc = _canon(srows, scols), _canon(drows, dcols)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
    assert sc == dc, f"{name}: value mismatch, first diffs: {mismatches}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


# ---------------------------------------------------------------------------
# engine parity of the hash and quantizer primitives
# ---------------------------------------------------------------------------


def test_conv_48bit_hex_matches_python_and_duckdb(spark):
    """agg_table_fingerprint's per-row hash is conv(substr(md5(s),1,12),
    16,10) cast to BIGINT — pin that Spark's conv on a 12-hex-digit
    (48-bit) prefix equals Python's int(hex,16) AND DuckDB's
    ('0x'||prefix)::BIGINT for strings covering leading-zero, all-f and
    ordinary prefixes. 48 bits never exceeds BIGINT, so the cast is
    lossless by construction; this test pins the base-conversion path on
    all three engines."""
    samples = [
        "1|10|O|17345|1996-01-02|5-LOW",
        "",
        "a",
        "leading-zero-md5-hunt-%d",
    ]
    # hunt a string whose md5 prefix has a leading zero so the test
    # covers the zero-pad class deterministically
    probe = next(
        s for s in (samples[-1] % i for i in range(200))
        if hashlib.md5(s.encode()).hexdigest().startswith("0")
    )
    samples[-1] = probe
    sdf = spark.createDataFrame([(s,) for s in samples], ["s"]).select(
        "s",
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("bigint").alias("fp"),
    )
    got = {r["s"]: r["fp"] for r in sdf.collect()}
    con = duckdb.connect()
    for s in samples:
        expect = int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
        assert got[s] == expect, (s, got[s], expect)
        duck = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 12)) AS BIGINT)", [s]
        ).fetchone()[0]
        assert duck == expect, (s, duck, expect)


def test_floor_quantizer_agrees_on_half_ties(spark):
    """The house FLOOR(x*100+0.5) cents quantizer must agree between
    Spark and DuckDB on the exact-tie class that splits ROUND(x*100,0):
    doubles whose *100 lands exactly on .5 in binary (x = k + 0.005
    representable ties like 128.005 → 12800.5). ROUND diverges here
    (Spark HALF_UPs the shortest-repr decimal, DuckDB rounds the binary
    value); FLOOR(x+0.5) is a single binary add + floor on both engines."""
    # values chosen so x*100 is EXACTLY n+0.5 in float64
    ties = [(2**i + 0.5) / 100.0 * (2**0) for i in range(4, 10)]
    ties = [t for t in ties if (t * 100) % 1 == 0.5]
    assert ties, "need at least one exact .5 tie in the probe set"
    sdf = spark.createDataFrame([(v,) for v in ties], ["x"]).select(
        F.floor(F.col("x") * 100 + F.lit(0.5)).cast("bigint").alias("c")
    )
    got = [r["c"] for r in sdf.collect()]
    con = duckdb.connect()
    for v, g in zip(ties, got):
        d = con.execute(
            "SELECT CAST(FLOOR(? * 100 + 0.5) AS BIGINT)", [v]
        ).fetchone()[0]
        p = int((v * 100) + 0.5)
        assert g == d == p, (v, g, d, p)


def test_duckdb_decimal_literal_vs_double_floor(spark):
    """Pin the r12 self-review lesson: DuckDB's bare 0.85 is DECIMAL(3,2),
    so 0.85*w stays exact where Spark's float64 path already rounded -
    FLOOR flips by one on boundary terms. The oracle-side fix is
    CAST(0.85 AS DOUBLE); this test keeps the divergence visible and the
    fix honest on the concrete triple that reproduced it."""
    import math

    import duckdb

    con = duckdb.connect()
    w, wd, r = 193, 3281, 1978490850
    duck_decimal = con.execute(
        f"SELECT FLOOR(0.85 * {w} / {wd} * {r} + 0.5)"
    ).fetchone()[0]
    duck_double = con.execute(
        f"SELECT FLOOR(CAST(0.85 AS DOUBLE) * {w} / {wd} * {r} + 0.5)"
    ).fetchone()[0]
    py_double = math.floor(0.85 * w / wd * r + 0.5)
    from pyspark.sql import functions as F

    spark_val = (
        spark.range(1)
        .select(
            F.floor(
                F.lit(0.85) * F.lit(w) / F.lit(wd) * F.lit(r) + F.lit(0.5)
            ).alias("v")
        )
        .collect()[0]["v"]
    )
    # the divergence exists...
    assert duck_decimal != py_double
    # ...and the CAST fix restores three-way agreement
    assert duck_double == py_double == spark_val
