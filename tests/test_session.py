"""Session-level settings of ``get_spark`` that change how queries run, and
the session memos that queries share."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark import session
from kafka_avro_pipeline_java_spark.session import (
    release_transient_checkpoints,
    session_memo,
)


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


def _persistent_ids(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_session_memo_builds_once_and_records_its_seconds(spark):
    from kafka_avro_pipeline_java_spark.plans import graph

    builds = []

    def build():
        builds.append(1)
        return spark.range(100).selectExpr("id * 2 AS x")

    n0 = len(graph.PAIR_MEMO_BUILD_SEC)
    first = session_memo(spark, "test_once", "sf-once", build)
    again = session_memo(spark, "test_once", "sf-once", build)
    assert again is first and len(builds) == 1
    assert first.agg({"x": "sum"}).first()[0] == 9900
    recorded = graph.PAIR_MEMO_BUILD_SEC[n0:]
    assert len(recorded) == 1
    sf_dir, seconds = recorded[0]
    assert sf_dir == "sf-once" and isinstance(seconds, float) and seconds >= 0


def test_session_memo_survives_release_of_transient_checkpoints(spark):
    before = _persistent_ids(spark)
    memo = session_memo(
        spark, "test_survives", "sf-s",
        lambda: spark.range(1000).selectExpr("id", "id % 7 AS m"),
    )
    memo_ids = _persistent_ids(spark) - before
    transient = spark.range(500).localCheckpoint(eager=True)
    transient_ids = _persistent_ids(spark) - before - memo_ids
    assert memo_ids and transient_ids
    release_transient_checkpoints(spark)
    remaining = _persistent_ids(spark)
    assert memo_ids <= remaining
    assert not (transient_ids & remaining)
    assert memo.count() == 1000
    assert memo.agg({"m": "sum"}).first()[0] == sum(i % 7 for i in range(1000))


def test_session_memo_evicts_the_oldest_sf_dir(spark):
    limit = session._MEMO_MAX_SF_DIRS
    ids, memos = [], []
    for i in range(limit + 1):
        before = _persistent_ids(spark)
        memos.append(
            session_memo(
                spark, "test_fifo", f"sf-{i}",
                lambda i=i: spark.range(100 + i).selectExpr("id"),
            )
        )
        ids.append(_persistent_ids(spark) - before)
    remaining = _persistent_ids(spark)
    assert not (ids[0] & remaining), "the oldest memo kept its blocks"
    assert all(rdd_ids <= remaining for rdd_ids in ids[1:])
    assert not (ids[0] & {rid for _, rid in session._MEMOS.values()})
    release_transient_checkpoints(spark)
    assert [m.count() for m in memos[1:]] == [100 + i for i in range(1, limit + 1)]
