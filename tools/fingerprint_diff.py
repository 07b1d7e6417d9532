"""Row-level fingerprint diff: localize an agg_table_fingerprint divergence.

agg_table_fingerprint combines EVERY orders row into one commutative
SUM/XOR, so a single divergent row anywhere flips the table hash with no
signal about WHICH row. This harness recomputes the per-row canonical
fingerprint on BOTH engines, diffs them ENGINE-SIDE (Spark writes its
per-row fingerprints to parquet; DuckDB computes its own and FULL OUTER
JOINs the two on disk — nothing corpus-scaled is ever collected to the
driver, so the harness works at any SF), and prints only the first N
differing rows with each engine's canonical string and 48-bit fp side by
side — turning "hash_match: false" into a named row and column.

Usage: python tools/fingerprint_diff.py [SF_DIR] [N]
Exit 0 = identical per-row fingerprints; 1 = diffs printed.
"""
import sys
import tempfile

sys.path.insert(0, "/root/repo")
import duckdb
from pyspark.sql import SparkSession, functions as F

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
N = int(sys.argv[2]) if len(sys.argv) > 2 else 10

# Canonical forms pinned to plans/relational.py::agg_table_fingerprint —
# keep in lockstep with the graded query (and its oracle SQL) or the diff
# harness will report false divergence. Since r13 the date term is epoch
# DAYS (integer, format-string-free) and the fp parse is strpos-based.
_CANON_DUCK = """concat_ws('|',
         CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         o_orderstatus,
         CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS VARCHAR),
         o_orderpriority)"""

DUCK_SQL = f"""
WITH h AS (
  SELECT o_orderkey, {_CANON_DUCK} AS canon,
         substr(md5({_CANON_DUCK}), 1, 12) AS hx
  FROM read_parquet('{SF}/orders.parquet')
)
SELECT o_orderkey, canon,
       (strpos('0123456789abcdef', substr(hx,  1, 1)) - 1) * 17592186044416
     + (strpos('0123456789abcdef', substr(hx,  2, 1)) - 1) * 1099511627776
     + (strpos('0123456789abcdef', substr(hx,  3, 1)) - 1) * 68719476736
     + (strpos('0123456789abcdef', substr(hx,  4, 1)) - 1) * 4294967296
     + (strpos('0123456789abcdef', substr(hx,  5, 1)) - 1) * 268435456
     + (strpos('0123456789abcdef', substr(hx,  6, 1)) - 1) * 16777216
     + (strpos('0123456789abcdef', substr(hx,  7, 1)) - 1) * 1048576
     + (strpos('0123456789abcdef', substr(hx,  8, 1)) - 1) * 65536
     + (strpos('0123456789abcdef', substr(hx,  9, 1)) - 1) * 4096
     + (strpos('0123456789abcdef', substr(hx, 10, 1)) - 1) * 256
     + (strpos('0123456789abcdef', substr(hx, 11, 1)) - 1) * 16
     + (strpos('0123456789abcdef', substr(hx, 12, 1)) - 1) AS fp
FROM h
"""

spark = (
    SparkSession.builder.master("local[16]")
    .appName("fingerprint-diff")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
canon = F.concat_ws(
    "|",
    F.col("o_orderkey").cast("string"),
    F.col("o_custkey").cast("string"),
    F.col("o_orderstatus"),
    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
    F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("string"),
    F.col("o_orderpriority"),
)
sdf = (
    spark.read.parquet(f"{SF}/orders.parquet")
    .select(
        "o_orderkey",
        canon.alias("canon"),
        F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("bigint").alias("fp"),
    )
)
with tempfile.TemporaryDirectory(prefix="fpdiff_") as tmp:
    spark_out = f"{tmp}/spark_fp"
    sdf.write.mode("overwrite").parquet(spark_out)
    # Engine-side diff: DuckDB FULL OUTER JOINs its own per-row result
    # against Spark's parquet dump and returns ONLY differing keys
    # (limit N+! sentinel for the total count) — driver memory is O(N).
    con = duckdb.connect()
    con.execute(f"CREATE VIEW duck_fp AS {DUCK_SQL}")
    con.execute(
        f"CREATE VIEW spark_fp AS SELECT * FROM read_parquet('{spark_out}/*.parquet')"
    )
    n_diff_total, n_spark, n_duck = con.execute(
        """
        SELECT
          (SELECT COUNT(*) FROM spark_fp s FULL OUTER JOIN duck_fp d USING (o_orderkey)
            WHERE s.canon IS DISTINCT FROM d.canon OR s.fp IS DISTINCT FROM d.fp),
          (SELECT COUNT(*) FROM spark_fp),
          (SELECT COUNT(*) FROM duck_fp)
        """
    ).fetchone()
    diffs = con.execute(
        f"""
        SELECT o_orderkey, s.canon, s.fp, d.canon, d.fp
        FROM spark_fp s FULL OUTER JOIN duck_fp d USING (o_orderkey)
        WHERE s.canon IS DISTINCT FROM d.canon OR s.fp IS DISTINCT FROM d.fp
        ORDER BY o_orderkey LIMIT {N}
        """
    ).fetchall()

for k, sc, sfp, dc, dfp in diffs:
    print(f"DIFF o_orderkey={k}")
    print(f"  spark: canon={sc!r} fp={sfp}")
    print(f"  duck : canon={dc!r} fp={dfp}")
print(
    f"RESULT: {n_diff_total} differing rows ({len(diffs)} shown) of "
    f"{n_spark} spark / {n_duck} duck"
)
spark.stop()
sys.exit(1 if n_diff_total else 0)
