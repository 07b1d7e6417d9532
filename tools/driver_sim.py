"""Replica of the driver harness: entry smoke + per-query DuckDB oracle compare.

Usage: python tools/driver_sim.py [SF_DIR] [query_name ...]
Extra args restrict the sweep to the named queries (targeted re-check
after touching one plan); no names = all registered queries.

Round-10/11 gates (VERDICT r09 items 6-7, VERDICT r10 item 4):

1. UNPARTITIONED-WINDOW GATE — every swept query's optimized logical plan
   is scanned for Window/WindowInPandas nodes with an EMPTY partitionSpec
   (the "Moving all data to a single partition" plan shape). Any hit from
   a query not on GLOBAL_WINDOW_WHITELIST fails the sweep: the whitelist
   names the queries whose global window provably runs over a BOUNDED
   domain (months, hours, deciles, distinct cent values, top-k survivors
   — the classes COVERAGE.md documents); everything entity-scaled must go
   through operators/ranking.py::attach_global_order_stats. This makes
   "the next unbounded global window can't land silently" a sweep
   property instead of a per-query test.

2. CARTESIAN-PRODUCT GATE — every swept query's pre-adaptive physical
   plan is scanned for CartesianProduct nodes (a non-equi join where
   NEITHER side was broadcastable — n·m at scale). Hits outside
   CARTESIAN_WHITELIST (audited bounded-domain aggregate × aggregate
   joins) fail the sweep. BroadcastNestedLoopJoin — the documented
   bounded-scalar shape — stays allowed.

3. BANDED-JOIN SCALE-GUARD SOURCE SCAN — every banded_explode call site
   in the package must declare scale_guard= (the operator API also
   raises at runtime), and every graded plan calling the cappable banded
   operators (embedding_near_pairs_bucketed, bucketed_topk_neighbors)
   must pass max_bucket=. Source-scan, so unexecuted paths can't hide.

4. DUAL-SF DECIMAL-MOMENT CHECK — any query whose oracle SQL mentions
   DECIMAL(38/HUGEINT (the big-moment overflow zone: Σcents² etc.) is
   ALSO compared at sf0.001. The r9 gamma-fit lesson: a bigint product
   formed BEFORE the decimal cast overflows at one SF and not another,
   so single-SF green is not green.

5. RESULT-MAGNITUDE / OUTPUT-TYPE GATE (r13, VERDICT r12 item 2) — every
   oracled query's OUTPUT must be driver-coercion-proof: every column
   type on BOTH engines from the safe set (BIGINT/INT/DOUBLE/VARCHAR/
   BOOLEAN/DATE/TIMESTAMP — no DECIMAL, no HUGEINT), and every integer
   cell |v| < 2^53 on BOTH engines. Rationale: the r11/r12
   agg_table_fingerprint driver-red — per-row fingerprints bit-identical
   at every SF, yet hash_match false for two rounds — was a >2^53
   DECIMAL(38,0) output (the registry's unique one) that a float64
   coercion anywhere in a result-comparison pipeline corrupts while
   rows/schema still match. DECIMAL stays legal (and mandatory, per the
   overflow rule) as an INTERMEDIATE; the gate bans it from graded
   output, and bans corpus-linear integer outputs (cent sums ~2^37 at
   sf0.1 cross 2^53 by construction at larger SFs) from shipping
   unreduced.
"""
import datetime, json, math, os, re, sys
# this checkout's root, so a sweep of any copy imports that copy
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
import duckdb
from pyspark.sql import SparkSession
import __spark_entry__ as E

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
# A full sweep is logged under the head it ran (tools/sweep_status.py::
# clean_head), read before any code runs and again at the end.
from tools.sweep_status import clean_head
_START_HEAD = clean_head(_ROOT)
spark = (SparkSession.builder.master("local[16]").appName("driver-sim")
         .config("spark.sql.shuffle.partitions", "16")
         # skip per-API-call Python call-site capture (see session.py) —
         # plan-construction-only speedup, no effect on results
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.ui.enabled", "false").getOrCreate())

df = E.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={df.schema.simpleString()[:80]}")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def connect(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return c

con = connect(SF)

# Second SF for the decimal-moment overflow zone: compare at the sparser
# sibling too (sf0.001 when sweeping sf0.01 and vice versa).
ALT_SF = None
if SF.rstrip("/").endswith("sf0.01"):
    ALT_SF = SF.rstrip("/")[: -len("sf0.01")] + "sf0.001"
elif SF.rstrip("/").endswith("sf0.001"):
    ALT_SF = SF.rstrip("/")[: -len("sf0.001")] + "sf0.01"
alt_con = connect(ALT_SF) if ALT_SF and os.path.isdir(ALT_SF) else None
DECIMAL_MOMENT_RE = re.compile(r"(?i)decimal\s*\(\s*38|hugeint")

# Queries whose global (no-PARTITION-BY) window runs over a domain BOUNDED
# by construction — audited name-by-name, documented in COVERAGE.md
# ("bounded-domain global windows"). Everything else with an empty
# partitionSpec FAILS the sweep.
GLOBAL_WINDOW_WHITELIST = {
    # distinct value domain (cents / durations-in-days of a priced column)
    "agg_exact_quartiles_price", "agg_trimmed_mean_price",
    "agg_weighted_median_price", "layout_equi_depth_histogram",
    "stats_ks_two_sample", "stats_mann_whitney_u", "stats_spearman_corr",
    "stats_kaplan_meier_shipping", "stats_logrank_priority",
    # calendar-bounded (months / days / hours)
    "agg_monthly_revenue_yoy", "events_changepoint_cusum", "stats_sprt_daily",
    "events_peak_hours", "events_seasonal_decompose",
    "layout_compaction_bins", "stats_autocorr_revenue",
    "stats_runs_test_daily_revenue", "stats_theil_sen_trend",
    "stats_forecast_backtest_mase", "stats_ljung_box_daily",
    # post-aggregate tiny tables (deciles / sources / types / digits)
    "agg_lorenz_curve_deciles", "pipeline_temperature_mixture",
    "stats_benford_price", "stats_entropy_rate_events",
    "stats_fdr_bh_sources", "events_square_wave_periodogram",
    "stats_holm_bonferroni",
    # top-k survivors / fixed sketch state
    "pipeline_weighted_sample", "search_hybrid_rrf",
    "sketch_histogram_quantiles", "sketch_kmv_merge",
    "text_ndcg_bm25", "text_zipf_slope",
    # r13 ml-prep shelf: cumulative windows over the 1000-value quantized
    # score-bucket domain / 10 decile rows / ~11k dollar-bucket domain
    # (plans/mlprep.py module docstring)
    "ml_roc_auc_exact", "ml_gains_lift_deciles", "features_quantile_binning",
}

# Gate 3 (r11, VERDICT r10 item 4a): physical CartesianProduct nodes. A
# CartesianProduct in the PHYSICAL plan means Spark could not broadcast
# either side of a non-equi join — at scale that is an n·m shuffle-free
# full materialization. BroadcastNestedLoopJoin (the bounded-scalar /
# months² shape) is allowed; bare CartesianProduct must be whitelisted
# with an audited bounded-domain justification (documented in COVERAGE.md).
CARTESIAN_WHITELIST: set = set()
# Empty by audit: the r11 full sweep found 71 queries with LOGICAL cross
# joins, every one planning physically as BroadcastNestedLoopJoin over a
# constant-size side — zero CartesianProduct nodes across all registered
# queries. A future entry needs the same bounded-domain justification the
# window whitelist uses (document in COVERAGE.md).

def cartesian_count(d):
    """Count CartesianProduct nodes in the pre-adaptive physical plan
    (plan-only: no execution)."""
    return d._jdf.queryExecution().sparkPlan().toString().count("CartesianProduct")

# Gate 4 (r11, VERDICT r10 item 4b): banded/blocked candidate joins must
# declare their scale guard at the call site — banded_explode requires a
# scale_guard kwarg (the API raises without one), and graded plans must
# pass max_bucket to the cappable banded operators. Source-scan (shared
# with tests/test_plan_properties.py via tools/scan_guards.py) so a
# non-executed code path can't dodge the runtime raise.
from tools.scan_guards import banded_guard_violations as _scan_guards

_PKG_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_avro_pipeline_java_spark",
)

def banded_guard_violations():
    return _scan_guards(_PKG_ROOT)

def global_window_count(d):
    """Count Window/WindowInPandas nodes with an empty partitionSpec in the
    optimized logical plan (plan-only: no execution)."""
    pj = json.loads(d._jdf.queryExecution().optimizedPlan().prettyJson())
    hits = 0
    for node in pj:
        cls = node.get("class", "").rsplit(".", 1)[-1]
        if cls in ("Window", "WindowInPandas") and node.get("partitionSpec") == []:
            hits += 1
    return hits

def canon(v):
    if v is None: return "N"
    if isinstance(v, float): return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (datetime.datetime, datetime.date)): return v.isoformat()
    return repr(v)

# Gate 5: graded-output type/magnitude guard — shared implementation in
# tools/result_guards.py (pytest mirror: tests/test_plan_properties.py).
from tools.result_guards import result_guard_violations

def compare(sdf, c, sql, name=None, guards=None):
    srows, scols = sdf.collect(), sdf.columns
    res = c.execute(sql); dcols = [d[0] for d in res.description]; drows = res.fetchall()
    if guards is not None:
        guards.extend(result_guard_violations(name, sdf, srows, c, sql, drows))
    so = sorted(range(len(scols)), key=lambda i: scols[i]); do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = sorted(tuple(canon(r[i]) for i in so) for r in srows)
    dset = sorted(tuple(canon(r[i]) for i in do) for r in drows)
    return sorted(scols) == sorted(dcols) and sset == dset, len(srows), len(drows)

qs, os_ = E.queries(), E.oracle_sql()
ok = bad = gated = 0
unknown = ONLY - set(qs)
if unknown:
    sys.exit(f"unknown queries: {sorted(unknown)}")
for v in banded_guard_violations():
    gated += 1
    print(f"GATE source-scan: {v}")
for name, fn in sorted(qs.items()):
    if ONLY and name not in ONLY:
        continue
    sdf = fn(spark, SF)
    gw = global_window_count(sdf)
    if gw and name not in GLOBAL_WINDOW_WHITELIST:
        gated += 1
        print(f"GATE {name}: {gw} unpartitioned Window node(s) and not on "
              f"the bounded-domain whitelist")
    cp = cartesian_count(sdf)
    if cp and name not in CARTESIAN_WHITELIST:
        gated += 1
        print(f"GATE {name}: {cp} physical CartesianProduct node(s) and not "
              f"on the bounded-domain whitelist")
    if name not in os_:
        print(f"ROWSONLY {name}: {sdf.count()} rows"); continue
    guard_hits = []
    match, ns, nd = compare(sdf, con, os_[name], name=name, guards=guard_hits)
    ok += match; bad += not match
    print(f"{'MATCH' if match else 'MISMATCH'} {name}: spark={ns} oracle={nd}")
    if alt_con is not None and DECIMAL_MOMENT_RE.search(os_[name]):
        m2, ns2, nd2 = compare(fn(spark, ALT_SF), alt_con, os_[name],
                               name=f"{name}@alt", guards=guard_hits)
        ok += m2; bad += not m2
        tag = ALT_SF.rstrip('/').rsplit('/', 1)[-1]
        print(f"{'MATCH' if m2 else 'MISMATCH'} {name}@{tag}: spark={ns2} oracle={nd2}")
    for g in guard_hits:
        gated += 1
        print(f"GATE result-guard: {g}")
    # query boundary: release unpinned checkpoint block sets (r13, see
    # kafka_avro_pipeline_java_spark/session.py) so the 400-query sweep
    # doesn't accumulate executor storage; memo artifacts stay pinned
    from kafka_avro_pipeline_java_spark.session import (
        release_transient_checkpoints,
    )
    release_transient_checkpoints(spark)

# Gate 6 (r13, VERDICT r12 item 7): SWEEP-FRESHNESS. The invariant "a
# full sf0.1 oracle sweep ran at the shipping head" is structural, not
# convention: any run that is NOT itself a full sf0.1 sweep fails when
# the newest sf0.1 sweep record predates a commit touching the query
# surface or the gate tooling (tools/sweep_status.py::STALE_PATHS). A
# doc-only commit stays green; a code commit after the last sweep turns
# this red until the sweep is re-run.
_THIS_IS_FULL_SF01 = (not ONLY) and SF.rstrip("/").endswith("sf0.1")
if not _THIS_IS_FULL_SF01:
    from tools.sweep_status import latest_sf01_sweep
    _sw = latest_sf01_sweep(_ROOT)
    if _sw is not None and _sw.get("stale"):
        gated += 1
        print(f"GATE sweep-stale: newest full sf0.1 sweep ran at {_sw['head']} "
              f"but the query surface / gate tooling changed since — re-run "
              f"`python tools/driver_sim.py /root/testdata/sf0.1` at HEAD")
print(f"RESULT: {ok} match, {bad} mismatch, {gated} gate failures")
# Full sweeps (no name restriction) append a SWEEPLOG record so "a full
# sf0.1 sweep ran this round at this commit" is a checkable artifact
# (VERDICT r11 item 5) — bench.py surfaces the latest sf0.1 entry's git
# head in its JSON line, which the driver archives as BENCH_r{N}.json.
# A tree with uncommitted query-surface or gate edits is not HEAD, so its
# sweep is not logged.
if not ONLY:
    import time
    head = clean_head(_ROOT)
    if head is None or head != _START_HEAD:
        print("SWEEPLOG: not appended — uncommitted edits under "
              "tools/sweep_status.py::STALE_PATHS, or HEAD moved during the "
              "sweep; commit and re-run to log this sweep")
    else:
        rec = {"sf_dir": SF, "match": ok, "mismatch": bad, "gated": gated,
               "head": head, "ts": time.time()}
        with open(os.path.join(_ROOT, "SWEEPLOG.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(f"SWEEPLOG: appended {rec}")
spark.stop()
if bad or gated:
    sys.exit(1)
