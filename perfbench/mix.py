"""``queries_mix``: one client runs a fixed list of registered analytics
queries, one at a time, over tables generated from the seed.

Set-up generates the tables, runs one untimed warm-up pass (where the
session memos build) and checks every result against its DuckDB oracle.
The timed part then runs the list in a fixed order, round after round,
until the measuring time is used, materializing results the way
``bench.py`` does: collect for small results, the ``noop`` sink for the
rest. Latency is per query, at the median of its executions.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import duckdb

from kafka_avro_pipeline_java_spark.plans import ORACLES, QUERIES
from kafka_avro_pipeline_java_spark.plans.graph import PAIR_MEMO_BUILD_SEC
from kafka_avro_pipeline_java_spark.session import release_transient_checkpoints

import datagen
from helpers import canonical_rows, median, percentile, tree_cpu_s
from sparkstats import catalyst_phases, job_stats

# The 8 TPC-H queries whose plans are frozen (bench.py's _TPCH_CONTROL_R1):
# their summed medians are the host-speed control ...
TPCH_CONTROL = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q9_product_profit",
    "q13_customer_distribution", "q21_waiting_suppliers",
]
# ... and their sum at this scale on the reference host (4 CPUs,
# local[4], Python 3.11, PySpark 4.1, Java 17), so a ratio far from 1
# means the host, not the code, changed.
TPCH_CONTROL_REF_S = 3.2
# ... plus one query from each family bench.py's R1_CORE misses, covering
# the shared code paths later changes rewrite: session memos, checkpoint
# materialization, gated broadcasts and Python workers.
FAMILIES = [
    "graph_pagerank_neardup", "graph_hierarchy_closure", "ml_calibration_bins_ece",
    "dedup_jaro_winkler", "stats_spearman_corr", "sketch_join_cardinality",
    "pipeline_source_overlap", "text_bm25_search", "agg_percentiles",
    "merge_scd2_customers", "layout_zorder_code", "scalar_json_events",
]
MIX = TPCH_CONTROL + FAMILIES

# results small enough to collect (bench.py's COLLECT_THRESHOLD_QUERIES
# restricted to this mix); the rest go through the noop sink
COLLECT = {
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "text_bm25_search",
    "pipeline_source_overlap",
}


def _oracle_rows(con, name: str):
    res = con.execute(ORACLES[name])
    return canonical_rows([d[0] for d in res.description], res.fetchall())


def prepare_mix(ctx) -> dict:
    gen_times = []
    for i in range(3):  # set up several times; the median is the set-up cost
        data = os.path.join(ctx.work, f"sf{datagen.SF}-{i}")
        t = time.perf_counter()
        counts = datagen.write_tables(ctx.seed, data)
        gen_times.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(ctx.work, f"sf{datagen.SF}-{i - 1}"))
    con = duckdb.connect()
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = {n: _oracle_rows(con, n) for n in MIX}
    con.close()

    memo_before = len(PAIR_MEMO_BUILD_SEC)
    failures = []
    warmup_query_s = {}
    t = time.perf_counter()
    for name in MIX:  # warm-up pass: every result against its oracle
        ctx.sc.setJobGroup(f"warmup:{name}", name)
        tq = time.perf_counter()
        try:
            df = QUERIES[name](ctx.spark, data)
            if canonical_rows(df.columns, df.collect()) != oracle[name]:
                failures.append(f"{name}: warm-up result differs from its oracle")
        except Exception:
            failures.append(f"{name}: warm-up raised {traceback.format_exc(limit=2)}")
        release_transient_checkpoints(ctx.spark)
        warmup_query_s[name] = time.perf_counter() - tq
    warmup_s = time.perf_counter() - t
    return {"data": data, "rows": counts, "oracle": oracle, "failures": failures,
            "gen_s": median(gen_times), "gen_extra_s": sum(gen_times) - median(gen_times),
            "warmup_s": warmup_s, "warmup_query_s": warmup_query_s,
            "memo_before": memo_before}


def _execute(ctx, name: str, data: str, group: str, layers: dict):
    """One timed execution → (seconds, collected rows or None)."""
    tr = ctx.tracer
    ctx.sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    with tr.span("query", trace=group):
        with tr.span("plans.build"):
            df = QUERIES[name](ctx.spark, data)
        if ctx.trace:
            with tr.span("catalyst"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec"):
            if name in COLLECT:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = None
    dt = time.perf_counter() - t0
    if ctx.trace:
        for phase, ms in catalyst_phases(df).items():
            key = f"catalyst.{phase}_ms"
            layers[key] = layers.get(key, 0) + ms
        for k, v in job_stats(ctx.sc, group).items():
            layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v
    return dt, (df.columns, rows)


def measure_mix(ctx, state: dict) -> dict:
    data, oracle = state["data"], state["oracle"]
    layers: dict = {}
    per_query: dict[str, list[float]] = {n: [] for n in MIX}
    failures = list(state["failures"])
    attempted = len(MIX)
    executions = 0
    cpu0 = tree_cpu_s()
    start = time.monotonic()
    # the list in a fixed order, round after round, until the measuring
    # time is used and every query ran once: a run ends on a query, not a
    # round, so a slightly faster host adds a few samples, not a whole round
    while executions < len(MIX) or time.monotonic() - start < ctx.seconds:
        name = MIX[executions % len(MIX)]
        executions += 1
        attempted += 1
        try:
            dt, (cols, rows) = _execute(ctx, name, data, f"mix:{name}:{executions}", layers)
        except Exception:
            failures.append(f"{name}: execution {executions} raised {traceback.format_exc(limit=2)}")
            continue
        per_query[name].append(dt)
        if rows is not None and canonical_rows(cols, rows) != oracle[name]:
            failures.append(f"{name}: execution {executions} result differs from its oracle")
        with ctx.tracer.span("session.release"):
            release_transient_checkpoints(ctx.spark)
    cpu_s = tree_cpu_s() - cpu0
    medians = {n: median(ts) for n, ts in per_query.items() if ts}
    # each query counts once, at its median, however many times it ran
    p50, n_queries, _ = percentile(list(medians.values()), 0.5)
    p90, _, beyond = percentile(list(medians.values()), 0.9)
    control = sum(medians.get(q, 0.0) for q in TPCH_CONTROL)
    layers["memo.build_s"] = sum(s for _, s in PAIR_MEMO_BUILD_SEC[state["memo_before"]:])
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "problems": failures,
        "e2e": {
            # a pass at per-query median speed, so one slow execution
            # moves the rate by its query's share only
            "throughput_per_s": len(medians) / sum(medians.values()),
            "latency_p50_ms": p50 * 1000,
            "cpu_ms_per_op": cpu_s * 1000 / executions,
        },
        "named": {
            "queries_total_s": (sum(medians.values()), "s"),
            "query_p50_s": (p50, "s"),
            "query_p90_s": (p90, "s"),
            "latency_samples": (n_queries, "queries"),
            "query_p90_samples_beyond": (beyond, "count"),
            "executions": (executions, "count"),
            "tpch_control_s": (control, "s"),
            "tpch_control_ratio": (control / TPCH_CONTROL_REF_S, "ratio"),
        },
        "layers": layers,
        "setup_parts": {"datagen_median_s": state["gen_s"], "warmup_pass_s": state["warmup_s"],
                        "memo_build_s": layers["memo.build_s"]},
        "setup_repeats_extra_s": state["gen_extra_s"],
        "per_query_median_s": medians,
        "per_query_s": per_query,
        "warmup_query_s": state["warmup_query_s"],
    }
