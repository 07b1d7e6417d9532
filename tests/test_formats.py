"""File-format connector round-trips (SURVEY §2B "File formats /
connectors"): CSV, JSON-lines, and ORC must carry a mixed-type table
losslessly, parquet must merge evolved schemas, and a partitioned write
must prune to the matching partition directory on read. The CSV path is
also on the graded surface as `source_csv_roundtrip`
(plans/relational.py) with a DuckDB value oracle; these tests pin the
byte-level behavior the query relies on plus the formats the oracle
can't reach."""
from __future__ import annotations

from kafka_avro_pipeline_java_spark.sources import load_table

CUSTOMER_DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip_exact(spark, sf_dir, tmp_path):
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    out = str(tmp_path / "csv")
    c.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema(CUSTOMER_DDL).option("header", True).csv(out)
    )
    assert back.schema == c.schema
    assert _rows(back) == _rows(c)


def test_jsonl_roundtrip_exact(spark, sf_dir, tmp_path):
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    out = str(tmp_path / "json")
    c.write.mode("overwrite").json(out)
    back = spark.read.schema(CUSTOMER_DDL).json(out)
    assert _rows(back) == _rows(c)


def test_orc_roundtrip_exact(spark, sf_dir, tmp_path):
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    out = str(tmp_path / "orc")
    c.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    # ORC is self-describing: schema must survive without being supplied
    assert back.schema == c.schema
    assert _rows(back) == _rows(c)


def test_parquet_schema_evolution_mergeschema(spark, sf_dir, tmp_path):
    """Old files written before a column existed must surface as nulls
    when read together with new files under mergeSchema — the evolution
    path every long-lived 100 TB table hits."""
    c = load_table(spark, sf_dir, "customer")
    base = tmp_path / "evolve"
    c.select("c_custkey", "c_name").write.parquet(str(base / "v1"))
    c.select("c_custkey", "c_name", "c_acctbal").write.parquet(
        str(base / "v2")
    )
    merged = (
        spark.read.option("mergeSchema", True)
        .parquet(str(base / "v1"), str(base / "v2"))
    )
    assert set(merged.columns) == {"c_custkey", "c_name", "c_acctbal"}
    n = c.count()
    assert merged.count() == 2 * n
    assert merged.filter(merged.c_acctbal.isNull()).count() == n


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """partitionBy layout + a partition-column filter must scan ONLY the
    matching directory — the physical guarantee that makes hive-style
    layout the first-line pruning tool at scale."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "parted")
    c.write.partitionBy("c_mktsegment").parquet(out)
    seg = c.select("c_mktsegment").first()[0]
    filtered = spark.read.parquet(out).filter(f"c_mktsegment = '{seg}'")
    # inputFiles() reports the pre-pruning file index, so probe what the
    # EXECUTED scan actually read: input_file_name() at runtime must only
    # ever come from the matching partition directory
    files = [
        r[0]
        for r in filtered.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "pruned read returned no files"
    assert all(f"c_mktsegment={seg}" in f for f in files)
    # and the plan itself must carry the predicate as a PartitionFilter,
    # not a post-scan Filter
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "c_mktsegment" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    want = c.filter(c.c_mktsegment == seg).count()
    assert filtered.count() == want
