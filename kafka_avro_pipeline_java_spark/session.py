"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
config below is chosen to also make sense on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- shuffle partitions sized for the local box, overridable — on a real
  cluster AQE coalesces from a high initial number;
- Arrow enabled for the few Pandas-UDF code paths (vector/codec ops);
- session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kafka-avro-pipeline-spark", *, master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r13 (guide §1.2 "per-task work" applied to the DRIVER): PySpark 4
        # wraps every DataFrame/Column API call to capture the Python call
        # site for error messages — an inspect-stack walk plus extra py4j
        # round trips (including a conf.get) PER CALL. Queries that embed
        # literal centroid/plane matrices make thousands of such calls;
        # disabling the debug capture measured plan-construction time
        # knn_topk_bucketed 3.4 s → 1.5 s with identical plans/results.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark keeps generated classes in a least-recently-used cache of
        # 100 entries by default. One round of the perfbench queries_mix
        # needs about 280 classes (about 360 over the whole mix session),
        # so each execution evicted the next query's classes and ran
        # Janino and the JIT again: 279 compilations per round, and the
        # JIT threads used about half the JVM's CPU. A kept class costs 11
        # to 32 KB of metaspace, so 2000 entries stay under about 64 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cap per-task input so huge files split into parallel tasks
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally provided session
    (the driver hands us one in ``__spark_entry__.entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # NOTE: spark.python.sql.dataFrameDebugging.enabled (see get_spark) is
    # a STATIC conf — it cannot be applied to an externally provided
    # session here; only plan-construction speed is affected, never results.
    # spark.sql.codegen.cache.maxEntries is static too: a provided session
    # keeps its own cache size, so repeated queries may recompile classes.
    return spark


# ---------------------------------------------------------------------------
# Checkpoint storage lifecycle (r13, guide §5: "unpersist when done").
#
# Operators materialize expensive intermediates (signature tables, assigned
# sides, edge lists) behind localCheckpoints so multi-consumer plans don't
# re-derive them once AQE's broadcast conversions defeat plain exchange
# reuse. Those checkpoint blocks are registered in the context's persistent-
# RDD map and are NOT reclaimed by garbage collection in PySpark (measured:
# a dropped lazily-checkpointed DataFrame's RDD survives Python gc +
# JVM System.gc indefinitely under the py4j pinned-thread gateway), so a
# long-lived session sweeping hundreds of queries accumulates storage that
# competes with execution memory (ADVICE r12). The explicit lifecycle:
#
# - per-query transient checkpoints need no bookkeeping; the JOB DRIVER
#   (bench.py / tools/driver_sim.py — anything that runs queries to
#   completion one after another) calls ``release_transient_checkpoints``
#   between queries, when no transient frame can be re-executed;
# - cross-query session artifacts (the plans/graph.py and plans/mlprep.py
#   memo tables) are created through ``checkpoint_session_artifact`` which
#   PINS their block sets so the release pass never touches them — a
#   released localCheckpoint cannot be recomputed (truncated lineage).
# ---------------------------------------------------------------------------

#: (applicationId → pinned RDD ids). Keyed by application so ids from a
#: stopped context can never shadow a new context's (RDD ids restart per
#: SparkContext); stale entries are dropped on the next pin.
_PINNED_RDD_IDS: dict[str, set[int]] = {}


def _persistent_ids(spark: SparkSession) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def checkpoint_session_artifact(df):
    """Eagerly localCheckpoint ``df`` and pin its block set for the life of
    the session: ``release_transient_checkpoints`` will skip it. Single-
    threaded creation assumed (the memo caches fill inside one query)."""
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    for stale in [a for a in _PINNED_RDD_IDS if a != app]:
        _PINNED_RDD_IDS.pop(stale)
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True)
    pins = _PINNED_RDD_IDS.setdefault(app, set())
    try:
        # precise pin: the checkpointed Dataset's plan is a LogicalRDD over
        # exactly the persisted RDD — transient lazy checkpoints INSIDE the
        # build (e.g. a signature table) also materialize during the eager
        # action and must NOT be pinned with it
        pins.add(int(out._jdf.queryExecution().analyzed().rdd().id()))
    except Exception:
        # fallback: pin everything that appeared (over-pins inner
        # transients — safe, merely keeps their blocks for the session)
        pins.update(_persistent_ids(spark) - before)
    return out


def release_session_artifact(df) -> None:
    """Unpin and release a frame created by ``checkpoint_session_artifact``
    (r14, ADVICE r13). ``DataFrame.unpersist()`` is a NO-OP for a
    localCheckpoint'ed frame — the CacheManager has no entry for it; the
    storage belongs to the checkpointed RDD — and a pinned id that is
    never removed from ``_PINNED_RDD_IDS`` would keep
    ``release_transient_checkpoints`` away from those blocks for the rest
    of the session. Best-effort: an unresolvable frame is left alone."""
    spark = df.sparkSession
    pins = _PINNED_RDD_IDS.get(spark.sparkContext.applicationId, set())
    try:
        rid = int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return
    pins.discard(rid)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrid in list(jmap.keySet().toArray()):
        if int(jrid) == rid:
            jmap.get(jrid).unpersist(False)


def release_transient_checkpoints(spark: SparkSession) -> int:
    """Unpersist every persistent RDD not pinned as a session artifact.

    Call ONLY at a query boundary: after the previous query's results are
    fully consumed and before the next one is built — a released
    localCheckpoint breaks if a frame referencing it re-executes. Returns
    the number of RDDs released (async, non-blocking).

    Scope guard (r14, ADVICE r13): only LOCALLY-CHECKPOINTED RDDs are
    swept — the operators' materialization primitive is localCheckpoint,
    and sweeping arbitrary ``.cache()``/``persist()`` storage from an
    unrelated caller would silently cost that caller its perf (a swept
    cache recomputes; a swept checkpoint held across the boundary would
    fail unrecoverably, which the call-boundary contract above already
    forbids)."""
    pinned = _PINNED_RDD_IDS.get(spark.sparkContext.applicationId, set())
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in pinned:
            jrdd = jmap.get(rid)
            try:
                if not jrdd.rdd().isLocallyCheckpointed():
                    continue
            except Exception:
                pass  # no rdd() accessor: treat as sweepable, as before
            jrdd.unpersist(False)
            released += 1
    return released
