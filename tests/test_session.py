"""Session-level settings of ``get_spark`` that change how queries run."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compilations(spark) -> int:
    """Janino compilations in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_reexecuted_query_reuses_generated_code(spark):
    """A query run again after about a hundred others keeps its compiled
    classes: the session's codegen cache holds more than Spark's default
    100 entries, which a mix of queries evicts every round."""

    def query(i: int):
        return (
            spark.range(0, 1000, 1, 1)
            .selectExpr(f"id * {i} + {i} AS x")
            .groupBy(F.col("x") % 7)
            .count()
            .collect()
        )

    first = sorted(query(1))
    for i in range(2, 122):  # each literal gets classes of its own
        query(i)
    before = _compilations(spark)
    assert sorted(query(1)) == first
    assert _compilations(spark) == before
