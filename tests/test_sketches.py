"""Sketch operators (operators/sketches.py): estimator accuracy and the
Count-Min overestimate-only guarantee."""

from collections import Counter

from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators import sketches
from kafka_avro_pipeline_java_spark.operators.sketches import (
    heavy_hitters_exact,
    misra_gries_partition_summaries,
)


def test_kmv_estimate_within_theory_bound(spark):
    # 4000 distinct keys, k=64 → σ ≈ 1/√k ≈ 12.5%; assert within 3σ
    df = spark.range(4000).select(
        F.lit("grp").alias("g"), F.concat(F.lit("user-"), "id").alias("u")
    )
    out = sketches.kmv_distinct(df, "g", "u", k=64).collect()[0]
    assert abs(out.est_distinct - 4000) / 4000 < 0.375


def test_kmv_exact_below_k(spark):
    df = spark.range(40).select(
        F.lit("small").alias("g"), F.col("id").alias("u")
    )
    out = sketches.kmv_distinct(df, "g", "u", k=64).collect()[0]
    assert out.est_distinct == 40.0  # sketch IS the set below k


def test_countmin_never_underestimates(spark):
    # zipf-ish stream: token i appears (100 - i) times
    rows = [(f"tok{i}",) for i in range(100) for _ in range(100 - i)]
    items = spark.createDataFrame(rows, "tok string")
    true = items.groupBy("tok").agg(F.count("*").alias("t"))
    est = sketches.countmin_estimate(
        items, "tok", true.select("tok"), "tok", depth=3, width=256
    )
    joined = true.join(est, true.tok == est.probe).select("t", "est_count")
    bad = joined.filter(F.col("est_count") < F.col("t")).count()
    assert bad == 0
    # with 100 tokens in 256 cols ×3 rows, most probes should be exact
    exact = joined.filter(F.col("est_count") == F.col("t")).count()
    assert exact >= 80


def test_countmin_absent_probe_reports_zero(spark):
    # a probe never seen in the stream must report est_count 0 (its empty
    # cells win the min via the left join + coalesce), not vanish from the
    # output or overestimate from only its occupied cells
    items = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
    probes = spark.createDataFrame(
        [("a",), ("never-seen-1",), ("never-seen-2",)], "tok string"
    )
    out = {
        r.probe: r.est_count
        for r in sketches.countmin_estimate(
            items, "tok", probes, "tok", depth=3, width=1024
        ).collect()
    }
    assert set(out) == {"a", "never-seen-1", "never-seen-2"}
    assert out["a"] >= 2
    # 3 items into 3×1024 cells: astronomically unlikely all 3 of a probe's
    # cells collide, and min() needs only ONE empty cell to return 0
    assert out["never-seen-1"] == 0
    assert out["never-seen-2"] == 0


def test_hll_estimate_within_theory_bound(spark):
    # m=64 → σ ≈ 1.04/√64 = 13%; assert within 3σ on 4000 distinct
    df = spark.range(4000).select(
        F.lit("grp").alias("g"), F.concat(F.lit("user-"), "id").alias("u")
    )
    out = sketches.hll_distinct(df, "g", "u", m=64).collect()[0]
    assert abs(out.est_distinct - 4000) / 4000 < 0.39


def test_hll_duplicates_do_not_move_estimate(spark):
    base = spark.range(500).select(
        F.lit("g").alias("g"), F.concat(F.lit("k-"), "id").alias("u")
    )
    dup = base.unionAll(base).unionAll(base)
    e1 = sketches.hll_distinct(base, "g", "u").collect()[0].est_distinct
    e3 = sketches.hll_distinct(dup, "g", "u").collect()[0].est_distinct
    assert e1 == e3  # register max is insensitive to multiplicity


def test_countmin_weighted_cells_match_raw_stream(spark):
    """r14: a sketch built from the pre-aggregated (item, count) table
    with weight_col must be CELL-IDENTICAL to one built from the raw
    stream — integer regrouping, the property the one-tokenize countmin
    plans rely on."""
    from pyspark.sql import functions as F

    from kafka_avro_pipeline_java_spark.operators import sketches

    raw = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "tok string"
    )
    counts = raw.groupBy("tok").agg(F.count("*").alias("n"))
    cells_raw = {
        (r["row"], r["col"]): r["c"]
        for r in sketches.countmin_cells(raw, "tok", depth=3, width=64).collect()
    }
    cells_w = {
        (r["row"], r["col"]): r["c"]
        for r in sketches.countmin_cells(
            counts, "tok", depth=3, width=64, weight_col="n"
        ).collect()
    }
    assert cells_raw == cells_w


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters and KMV set operations
# ---------------------------------------------------------------------------


def test_mg_partition_summaries_never_miss_local_heavy_hitter(spark):
    # 1 partition, n=100, k=10: any item with freq > 10 must survive
    items = ["hot"] * 30 + ["warm"] * 15 + [f"cold{i}" for i in range(55)]
    df = spark.createDataFrame([(x,) for x in items], "tok string").coalesce(1)
    kept = {r.tok for r in misra_gries_partition_summaries(df, "tok", k=10).collect()}
    assert {"hot", "warm"} <= kept
    assert len(kept) <= 10


def test_mg_summary_weight_lower_bound(spark):
    # MG weight ≥ true_freq − n/k for every surviving item
    items = ["a"] * 40 + ["b"] * 25 + [f"z{i % 20}" for i in range(35)]
    df = spark.createDataFrame([(x,) for x in items], "tok string").coalesce(1)
    true = Counter(items)
    n, k = len(items), 8
    for r in misra_gries_partition_summaries(df, "tok", k=k).collect():
        assert r.weight >= true[r.tok] - n / k
        assert r.weight <= true[r.tok]


def test_heavy_hitters_exact_matches_bruteforce_across_partitions(spark):
    items = (["x"] * 200 + ["y"] * 90 + ["w"] * 40
             + [f"t{i % 300}" for i in range(600)])
    df = spark.createDataFrame([(x,) for x in items], "tok string").repartition(7)
    k = 16
    got = {(r.tok, r.cnt) for r in heavy_hitters_exact(df, "tok", k=k).collect()}
    true = Counter(items)
    want = {(t, c) for t, c in true.items() if c > len(items) / k}
    assert got == want
    assert ("x", 200) in got


def test_heavy_hitters_null_items_ignored(spark):
    df = spark.createDataFrame(
        [("a",)] * 9 + [(None,)] * 5 + [("b",)] * 1, "tok string"
    )
    got = {(r.tok, r.cnt) for r in heavy_hitters_exact(df, "tok", k=3).collect()}
    # n counts non-null items only (F.count(col)); a=9 > 10/3
    assert got == {("a", 9)}


def test_kmv_setops_exact_below_k(spark):
    # two sets smaller than k: the sketch IS the set — estimates exact
    from kafka_avro_pipeline_java_spark.operators.sketches import kmv_set_ops

    rows = [("a", i) for i in range(30)] + [("b", i) for i in range(20, 50)]
    df = spark.createDataFrame(rows, "g string, k long")
    [r] = kmv_set_ops(df, "g", "k", k=64).collect()
    assert (r.g_a, r.g_b) == ("a", "b")
    assert r.est_union == 50.0
    assert abs(r.est_jaccard - 10 / 50) < 1e-9
    assert abs(r.est_intersect - 10.0) < 1e-9


def test_kmv_setops_disjoint_sets(spark):
    from kafka_avro_pipeline_java_spark.operators.sketches import kmv_set_ops

    rows = [("a", i) for i in range(40)] + [("b", i + 1000) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, k long")
    [r] = kmv_set_ops(df, "g", "k", k=128).collect()
    assert r.est_jaccard == 0.0
    assert r.est_intersect == 0.0
    assert r.est_union == 80.0


def test_kmv_setops_estimate_error_above_k(spark):
    # 2000-element sets with 50% overlap, k=256: theta-sketch relative
    # error ~1/sqrt(k) ≈ 6%; assert a loose 3x bound
    from kafka_avro_pipeline_java_spark.operators.sketches import kmv_set_ops

    rows = [("a", i) for i in range(2000)] + [("b", i + 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, k long")
    [r] = kmv_set_ops(df, "g", "k", k=256).collect()
    assert abs(r.est_union - 3000) / 3000 < 0.2
    assert abs(r.est_jaccard - 1000 / 3000) < 0.1
    assert abs(r.est_intersect - 1000) / 1000 < 0.35
