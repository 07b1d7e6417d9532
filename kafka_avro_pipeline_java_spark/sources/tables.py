"""Parquet table catalog over the driver-provided TPC-H-ish testdata.

Scale notes: ``spark.read.parquet`` gives Catalyst the native vectorized
parquet scan — predicate pushdown, column pruning and partition pruning all
apply automatically as long as callers express filters/projections on the
returned DataFrame (they do; see plans/). ``region`` and ``nation`` are
bounded-size dimensions (5 / 25 rows by schema definition), so they are
always safe to broadcast; helper exposes that hint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..session import app_id

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions whose cardinality is bounded by the data model itself (TPC-H
# fixes them at 5 and 25 rows regardless of scale factor) — broadcast always.
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Base-relation memo per (applicationId, absolute file path) — CATALOG
#: METADATA, the analogue of what Spark itself keeps for registered tables
#: (``spark.sql.filesourceTableRelationCacheSize``) and a metastore holds
#: for a warehouse. ``spark.read.parquet`` re-lists the path and re-reads
#: footers to infer the schema on EVERY call (~110 ms; ~27 ms with an
#: explicit schema — the listing; ~0 reusing the immutable DataFrame
#: handle, all measured at sf0.1). A full bench run makes ~1,400
#: ``load_table`` calls (405 queries × 3 reps × their tables), so per-call
#: relation resolution alone costs tens of seconds of pure driver-side
#: metadata work per run. The memo holds the first call's raw DataFrame —
#: a LOGICAL PLAN over an InMemoryFileIndex (file names + footer schema),
#: never rows or query results — so every query still scans the parquet
#: inputs at execution; a different sf_dir is a different key, and a new
#: SparkContext (new applicationId) can never see a dead context's plan.
#:
#: IMMUTABLE-INPUT ASSUMPTION (r14, ADVICE r13): the memo pins the first
#: read's InMemoryFileIndex snapshot per (applicationId, path) for the
#: life of the context. Rewriting the parquet files under a memoized
#: path mid-session (regenerating test data in place) leaves later
#: queries on the stale listing — FileNotFoundException for removed
#: files, silently stale rows for replaced ones. Every current caller
#: (bench.py, tools/driver_sim.py, tests) treats /root/testdata/* as
#: read-only; a future caller that regenerates data mid-session must use
#: a fresh directory (new key) or a fresh SparkSession (new app id).
_RELATION_CACHE: dict[tuple[str, str], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, hint_broadcast: bool = True
) -> DataFrame:
    """``hint_broadcast=False`` suppresses the automatic broadcast hint on
    the bounded dims — needed when the dim sits on the PRESERVED side of an
    outer join, where Spark cannot use it as the build side and logs a
    HintErrorLogger warning for the unusable hint."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) across testdata
        # generations; normalize to a plain TIMESTAMP either way so every
        # downstream expression (unix_micros, windows, watermarks) sees one
        # type. NANOS: Spark has no nanosecond timestamp — read as long and
        # truncate to micros (DuckDB's TIMESTAMP_NS → TIMESTAMP behavior).
        # MICROS-NTZ: Spark reads TIMESTAMP_NTZ — cast to TIMESTAMP (session
        # tz is UTC everywhere here, so the wall-clock values are preserved,
        # matching how DuckDB reads the same naive timestamps).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (app_id(spark), path)
    df = _RELATION_CACHE.get(key)
    if df is None:
        for stale in [k for k in _RELATION_CACHE if k[0] != key[0]]:
            del _RELATION_CACHE[stale]  # plans of a stopped context
        df = spark.read.parquet(path)
        if name == "events":
            # normalization is deterministic per path/schema, so the memo
            # holds the NORMALIZED frame (still only a logical plan)
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
                )
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        _RELATION_CACHE[key] = df
    if hint_broadcast and name in ALWAYS_BROADCAST:
        df = broadcast(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can also be written in SQL."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
