"""SCD2 merge (operators/merge.py): multi-batch history evolution."""

from collections import Counter

from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators.merge import cdc_apply, scd2_apply


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, seg string, valid_from int, valid_to int"
    )


def test_scd2_two_batches_build_history_chain(spark):
    dim = _dim(spark, [(1, "A", 0, None), (2, "B", 0, None), (3, "C", 0, None)])
    u1 = spark.createDataFrame([(1, "X"), (2, "B")], "k long, seg string")
    v1 = scd2_apply(dim, u1, "k", ["seg"], new_version=1)
    u2 = spark.createDataFrame([(1, "Y")], "k long, seg string")
    v2 = scd2_apply(v1, u2, "k", ["seg"], new_version=2)

    rows = {(r.k, r.seg, r.valid_from, r.valid_to) for r in v2.collect()}
    assert rows == {
        (1, "A", 0, 1),      # closed by batch 1
        (1, "X", 1, 2),      # opened by batch 1, closed by batch 2
        (1, "Y", 2, None),   # current
        (2, "B", 0, None),   # batch-1 no-op (same attrs) — untouched
        (3, "C", 0, None),   # never updated
    }


def test_scd2_inserts_brand_new_keys(spark):
    # a key absent from the dimension is a pure insert: open row at
    # new_version, no closed row, nothing dropped silently
    dim = _dim(spark, [(1, "A", 0, None)])
    u = spark.createDataFrame([(1, "B"), (99, "Z")], "k long, seg string")
    out = scd2_apply(dim, u, "k", ["seg"], new_version=1)
    rows = {(r.k, r.seg, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "A", 0, 1),      # closed
        (1, "B", 1, None),   # updated current
        (99, "Z", 1, None),  # inserted current — previously vanished
    }


def test_scd2_exactly_one_current_row_per_key(spark):
    dim = _dim(spark, [(i, "A", 0, None) for i in range(20)])
    u = spark.createDataFrame(
        [(i, "B") for i in range(0, 20, 2)], "k long, seg string"
    )
    out = scd2_apply(dim, u, "k", ["seg"], new_version=1)
    cur = out.filter(F.col("valid_to").isNull()).groupBy("k").count()
    assert cur.filter(F.col("count") != 1).count() == 0
    assert out.count() == 20 + 10  # 10 closed rows added


def test_scd2_streaming_maintenance_matches_batch(spark, tmp_path):
    """SCD2 as a STREAMING sink: CDC batches arriving as files are applied
    to the dimension in foreachBatch (one scd2_apply per micro-batch,
    version = batch ordinal) and the final history must equal applying
    the same batches sequentially in batch mode — the warehouse family's
    streaming<->batch parity, same discipline as the window/funnel/HLL
    twins."""
    import os

    spool = str(tmp_path / "cdc")
    os.makedirs(spool)
    u1 = spark.createDataFrame([(1, "X"), (2, "B")], "k long, seg string")
    u2 = spark.createDataFrame([(1, "Y"), (9, "Z")], "k long, seg string")
    # two files -> two micro-batches (maxFilesPerTrigger=1); write in order
    u1.coalesce(1).write.parquet(spool + "/b1")
    u2.coalesce(1).write.parquet(spool + "/b2")

    dim0 = _dim(spark, [(1, "A", 0, None), (2, "B", 0, None), (3, "C", 0, None)])
    state = {"dim": dim0, "version": 0}

    def apply_batch(batch_df, batch_id):
        rows = batch_df.collect()
        if not rows:
            return
        state["version"] += 1
        updates = spark.createDataFrame(rows, batch_df.schema)
        state["dim"] = scd2_apply(
            state["dim"], updates, "k", ["seg"], new_version=state["version"]
        ).localCheckpoint(eager=True)

    stream = (
        spark.readStream.schema("k long, seg string")
        .option("maxFilesPerTrigger", 1)
        .parquet(spool + "/b*")
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = scd2_apply(
        scd2_apply(dim0, u1, "k", ["seg"], new_version=1),
        u2, "k", ["seg"], new_version=2,
    )
    got_rows = {tuple(r) for r in state["dim"].collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert state["version"] == 2  # two micro-batches actually happened
    assert got_rows == want_rows


def test_scd2_mixed_version_and_end_types(spark):
    # valid_from int, valid_to timestamp: each NULL/close cast must use its
    # OWN column's type (regression: both casts once used valid_from's)
    dim = spark.createDataFrame(
        [(1, "A", 0, None), (2, "B", 0, None)],
        "k long, seg string, valid_from int, valid_to timestamp",
    )
    u = spark.createDataFrame([(1, "X"), (9, "Z")], "k long, seg string")
    out = scd2_apply(dim, u, "k", ["seg"], new_version=1)
    types = dict(out.dtypes)
    assert types["valid_from"] == "int"
    assert types["valid_to"] == "timestamp"
    # closed row's valid_to is new_version cast to timestamp (epoch second 1)
    closed = out.filter(F.col("k") == 1).filter(F.col("valid_to").isNotNull())
    assert closed.count() == 1


def test_incremental_minmax_all_branches(spark):
    from kafka_avro_pipeline_java_spark.operators.merge import (
        incremental_minmax_apply,
    )

    # base facts per group:
    #   a: [1, 5, 9]          — insert-only delta (clean, bounds widen)
    #   b: [2, 4, 8]          — delete 4 (not at a bound: clean path)
    #   c: [3, 6, 7]          — delete 3 (AT the min: dirty, bound moves)
    #   d: [5, 5, 10]         — delete ONE 5 (duplicate min: dirty, bound survives)
    #   e: [6]                — delete 6 (count → 0: group drops)
    #   f: (absent)           — brand-new group via inserts
    base = [
        ("a", v) for v in (1.0, 5.0, 9.0)
    ] + [("b", v) for v in (2.0, 4.0, 8.0)] + [
        ("c", v) for v in (3.0, 6.0, 7.0)
    ] + [("d", v) for v in (5.0, 5.0, 10.0)] + [("e", 6.0)]
    facts = spark.createDataFrame(base, "g string, v double")
    base_agg = facts.groupBy("g").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    delta_rows = [
        ("a", 1, 0.5), ("a", 1, 20.0),          # widen both bounds
        ("b", -1, 4.0),                          # interior delete
        ("c", -1, 3.0),                          # delete the min
        ("d", -1, 5.0),                          # one of two min copies
        ("e", -1, 6.0),                          # group empties
        ("f", 1, 7.0), ("f", 1, 2.0),            # new group
    ]
    delta = spark.createDataFrame(delta_rows, "g string, sign int, v double")
    # post-merge fact table (what the warehouse has after applying delta)
    removed = {("b", 4.0), ("c", 3.0), ("e", 6.0)}
    after_rows = [r for r in base if r not in removed]
    # ("d", 5.0) appears twice; remove exactly one copy
    after_rows.remove(("d", 5.0))
    after_rows += [("a", 0.5), ("a", 20.0), ("f", 7.0), ("f", 2.0)]
    facts_after = spark.createDataFrame(after_rows, "g string, v double")

    out = {
        r["g"]: (r["cnt"], r["mn"], r["mx"])
        for r in incremental_minmax_apply(
            base_agg, delta, facts_after, ["g"], "v"
        ).collect()
    }
    assert out == {
        "a": (5, 0.5, 20.0),   # algebraic widen
        "b": (2, 2.0, 8.0),    # clean delete, bounds unchanged
        "c": (2, 6.0, 7.0),    # dirty: min moved via pruned rescan
        "d": (2, 5.0, 10.0),   # dirty: duplicate min survives rescan
        "f": (2, 2.0, 7.0),    # brand-new group
    }                           # e: dropped at count 0

    # the rescan branch must touch ONLY dirty groups: recompute with a
    # facts_after missing the CLEAN groups entirely — result unchanged,
    # proving clean groups never consult the base
    pruned_facts = facts_after.filter(F.col("g").isin("c", "d"))
    out2 = {
        r["g"]: (r["cnt"], r["mn"], r["mx"])
        for r in incremental_minmax_apply(
            base_agg, delta, pruned_facts, ["g"], "v"
        ).collect()
    }
    assert out2 == out


def test_incremental_minmax_new_group_insert_then_delete(spark):
    # r8-advice regression: a delta that both INSERTS and DELETES rows of a
    # brand-new group (no base row) must dirty the group — otherwise the
    # deleted value survives as the bound while cnt is correct.
    from kafka_avro_pipeline_java_spark.operators.merge import (
        incremental_minmax_apply,
    )

    base_agg = spark.createDataFrame(
        [("a", 1, 2.0, 2.0)], "g string, cnt long, mn double, mx double"
    )
    delta = spark.createDataFrame(
        # new group n: insert 3 and 9, delete the 9 in the SAME batch
        [("n", 1, 3.0), ("n", 1, 9.0), ("n", -1, 9.0)],
        "g string, sign int, v double",
    )
    facts_after = spark.createDataFrame(
        [("a", 2.0), ("n", 3.0)], "g string, v double"
    )
    out = {
        r["g"]: (r["cnt"], r["mn"], r["mx"])
        for r in incremental_minmax_apply(
            base_agg, delta, facts_after, ["g"], "v"
        ).collect()
    }
    assert out == {"a": (1, 2.0, 2.0), "n": (1, 3.0, 3.0)}


# ---------------------------------------------------------------------------
# CDC apply-changes and incremental aggregates
# ---------------------------------------------------------------------------


def _log(spark, rows):
    return spark.createDataFrame(rows, "k long, seq int, op string, v string")


def test_cdc_latest_change_wins_and_deletes_drop(spark):
    log = _log(
        spark,
        [
            (1, 1, "I", "a"),
            (1, 2, "U", "a2"),  # winner for key 1
            (2, 1, "I", "b"),
            (2, 2, "D", None),  # key 2 deleted
            (3, 1, "I", "c"),  # untouched insert
        ],
    )
    out = {(r.k, r.seq, r.op, r.v) for r in
           cdc_apply(log, ["k"], seq_col="seq", op_col="op").collect()}
    assert out == {(1, 2, "U", "a2"), (3, 1, "I", "c")}


def test_cdc_out_of_order_log_same_result(spark):
    # the log arrives shuffled (Kafka partitions interleave); seq decides
    rows = [(1, 3, "U", "v3"), (1, 1, "I", "v1"), (1, 2, "U", "v2")]
    for perm in (rows, rows[::-1], [rows[1], rows[0], rows[2]]):
        out = cdc_apply(_log(spark, perm), ["k"], seq_col="seq", op_col="op")
        assert [(r.k, r.v) for r in out.collect()] == [(1, "v3")]


def test_cdc_reinsert_after_delete(spark):
    log = _log(spark, [(1, 1, "I", "a"), (1, 2, "D", None), (1, 3, "I", "a2")])
    out = cdc_apply(log, ["k"], seq_col="seq", op_col="op").collect()
    assert [(r.k, r.seq, r.v) for r in out] == [(1, 3, "a2")]


def test_cdc_plan_has_partial_aggregation(spark):
    # the max_by formulation must keep map-side combine: a partial + final
    # aggregate pair (struct-buffered max_by plans as SortAggregate), never
    # a Window sort over the full log
    log = _log(spark, [(1, 1, "I", "a")])
    plan = cdc_apply(log, ["k"], seq_col="seq", op_col="op")._jdf.queryExecution().executedPlan().toString()
    n_aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert n_aggs >= 2, plan
    assert "Window" not in plan


def _base_agg(spark, rows):
    return spark.createDataFrame(rows, "g string, cnt long, s double")


def test_incremental_agg_insert_update_delete(spark):
    from kafka_avro_pipeline_java_spark.operators.merge import (
        incremental_agg_apply,
    )

    base = _base_agg(spark, [("x", 2, 10.0), ("y", 1, 5.0)])
    delta = spark.createDataFrame(
        [
            ("x", 1, 4.0),    # insert into existing group
            ("y", -1, 5.0),   # delete the only y row → group drops
            ("z", 1, 7.0),    # brand-new group
        ],
        "g string, sign int, s double",
    )
    got = {
        r.g: (r.cnt, r.s)
        for r in incremental_agg_apply(
            base, delta, ["g"], count_col="cnt", sum_cols=["s"]
        ).collect()
    }
    assert got == {"x": (3, 14.0), "z": (1, 7.0)}


def test_incremental_agg_matches_direct_recompute(spark):
    import random

    from kafka_avro_pipeline_java_spark.operators.merge import (
        incremental_agg_apply,
    )
    from pyspark.sql import functions as SF

    rng = random.Random(7)
    facts = [(f"g{rng.randrange(5)}", float(rng.randrange(100)))
             for _ in range(300)]
    base_rows = facts[:200]
    inserts = facts[200:]
    deletes = base_rows[::7]
    fdf = spark.createDataFrame(base_rows, "g string, v double")
    base = fdf.groupBy("g").agg(
        SF.count("*").alias("cnt"), SF.sum("v").alias("v")
    )
    delta = spark.createDataFrame(
        [(g, 1, v) for g, v in inserts] + [(g, -1, v) for g, v in deletes],
        "g string, sign int, v double",
    )
    got = {
        r.g: (r.cnt, round(r.v, 6))
        for r in incremental_agg_apply(
            base, delta, ["g"], count_col="cnt", sum_cols=["v"]
        ).collect()
    }
    from collections import defaultdict

    remaining = list(base_rows)
    for d in deletes:
        remaining.remove(d)
    remaining += inserts
    want_cnt = Counter(g for g, _ in remaining)
    want_sum = defaultdict(float)
    for g, v in remaining:
        want_sum[g] += v
    want = {g: (want_cnt[g], round(want_sum[g], 6)) for g in want_cnt}
    assert got == want
