"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
config below is chosen to also make sense on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- shuffle partitions sized for the local box, overridable — on a real
  cluster AQE coalesces from a high initial number;
- Arrow enabled for the few Pandas-UDF code paths (vector/codec ops);
- session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.

The module also owns the session memos (``session_memo``) and the release
of per-query checkpoint storage (``release_transient_checkpoints``).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # Python workers fork from a daemon whose zip importers re-read an
        # archive only when it changed: before Python 3.13, every task's
        # importlib.invalidate_caches() re-read pyspark.zip, py4j and the
        # Spark jar, about 0.2 s of CPU per task (worker_daemon.py). The
        # daemon imports this package wherever Python workers start, so
        # the package's parent directory goes on their PYTHONPATH.
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
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
    # spark.python.daemon.module is static as well: a provided session's
    # Python workers keep Spark's own daemon, so each Python task re-reads
    # the pyspark and Spark archives (slower tasks, same results).
    return spark


# ---------------------------------------------------------------------------
# Checkpoint storage lifecycle.
#
# Operators materialize expensive intermediates behind localCheckpoints.
# Checkpoint blocks are NOT reclaimed by garbage collection in PySpark (a
# dropped frame's RDD survives Python gc and JVM System.gc under the py4j
# pinned-thread gateway), so a long-lived session would accumulate storage
# that competes with execution memory. Two kinds of checkpoint exist:
#
# - per-query transient checkpoints need no bookkeeping; a caller that runs
#   queries to completion one after another (bench.py, tools/driver_sim.py,
#   perfbench) calls ``release_transient_checkpoints`` between queries;
# - session memos (``session_memo``) are derived tables reused across
#   queries. The release pass skips their RDDs, because a released
#   localCheckpoint cannot be recomputed (its lineage is truncated).
# ---------------------------------------------------------------------------

#: sf_dirs kept per memo name in one application. A sweep touches at most
#: two (its SF plus the dual-SF decimal sibling); beyond that a session is
#: hopping corpora, and the oldest memo's blocks are freed first.
_MEMO_MAX_SF_DIRS = 3

#: (sf_dir, seconds) of every memo build in this process. Benchmarks report
#: the sum as its own figure, since a build lands in one query's first rep.
PAIR_MEMO_BUILD_SEC: list[tuple[str, float]] = []

#: (application id, name, sf_dir) -> (checkpointed frame, its RDD id), in
#: build order. RDD ids restart per SparkContext, hence the application id.
_MEMOS: dict[tuple[str, str, str], tuple[DataFrame, int]] = {}


def app_id(spark: SparkSession) -> str:
    """The application id, read once per SparkContext (each read of
    ``applicationId`` is a py4j round trip)."""
    sc = spark.sparkContext
    app = getattr(sc, "_graft_app_id", None)
    if app is None:
        app = sc._graft_app_id = sc.applicationId
    return app


def session_memo(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()``, eagerly localCheckpointed once per (application, name,
    sf_dir) and kept for the session: ``release_transient_checkpoints``
    skips it. ``build`` must be a deterministic function of ``sf_dir``.
    Single-threaded use assumed (a memo fills inside one query)."""
    app = app_id(spark)
    key = (app, name, sf_dir)
    if key in _MEMOS:
        return _MEMOS[key][0]
    for k in [k for k in _MEMOS if k[0] != app]:
        del _MEMOS[k]  # its blocks died with its SparkContext
    same_name = [k for k in _MEMOS if k[1] == name]
    if len(same_name) >= _MEMO_MAX_SF_DIRS:
        # DataFrame.unpersist is a no-op for a localCheckpoint: free the RDD
        rid = _MEMOS.pop(same_name[0])[1]
        jrdd = spark.sparkContext._jsc.getPersistentRDDs().get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
    t0 = time.perf_counter()
    df = build().localCheckpoint(eager=True)
    # the frame's plan is a LogicalRDD over exactly the persisted RDD;
    # transient checkpoints inside the build stay releasable
    _MEMOS[key] = (df, int(df._jdf.queryExecution().analyzed().rdd().id()))
    PAIR_MEMO_BUILD_SEC.append((sf_dir, round(time.perf_counter() - t0, 3)))
    return df


def release_transient_checkpoints(spark: SparkSession) -> int:
    """Unpersist every locally checkpointed RDD that is not a session memo.

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
    app = app_id(spark)
    pinned = {rid for (a, _, _), (_, rid) in _MEMOS.items() if a == app}
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
