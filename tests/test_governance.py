"""Governance plans (plans/governance.py): privacy audits and
leave-one-out target encoding."""

from kafka_avro_pipeline_java_spark.plans import QUERIES


SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# leave-one-out encoding and k-anonymity
# ---------------------------------------------------------------------------


def test_loo_encoding_excludes_own_label(spark, tmp_path):
    """(Σy − yᵢ)/(n − 1): in a category with labels [1, 0, 0], the row
    with y=1 must see 0.0 and the rows with y=0 must see 0.5; a category
    of size 1 yields NULL, never a division error."""
    rows = [
        (1, "A", 200000.00), (2, "A", 10.0), (3, "A", 10.0),  # y = 1,0,0
        (4, "B", 200000.00),                                   # singleton
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {r["o_orderkey"]: (r["y"], r["loo_enc"]) for r in
           QUERIES["features_target_encoding_loo"](spark, str(tmp_path)).collect()}
    assert got[1] == (1, 0.0)
    assert got[2] == (0, 0.5) and got[3] == (0, 0.5)
    assert got[4][1] is None  # n=1: no peers to borrow a mean from


def test_k_anonymity_flags_unique_rows(spark, tmp_path):
    """A table where every row is its own QI class must report ALL rows
    below every k threshold and min_class_size 1."""
    rows = [(i, f"SEG{i}", i, float(i)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_mktsegment string, c_nationkey long, c_acctbal double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    r = QUERIES["privacy_k_anonymity_audit"](spark, str(tmp_path)).collect()[0]
    assert r["n_classes"] == 10 and r["min_class_size"] == 1
    assert r["rows_lt_2"] == 10 and r["classes_lt_10"] == 10


# ---------------------------------------------------------------------------
# t-closeness
# ---------------------------------------------------------------------------


def test_t_closeness_thresholds_monotone(spark):
    """TVD is in [0, 1], and the class counts above increasing t
    thresholds are non-increasing."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    r = QUERIES["privacy_t_closeness_audit"](spark, SF_DIR).collect()[0]
    assert 0.0 <= r["max_t"] <= 1.0
    assert r["classes_t_gt_020"] >= r["classes_t_gt_035"] >= r["classes_t_gt_050"]
    assert r["classes_t_gt_020"] <= r["n_classes"]
