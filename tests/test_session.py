"""Session-level settings of ``get_spark`` that change how queries run, and
the session memos that queries share."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark import session
from kafka_avro_pipeline_java_spark.session import (
    release_transient_checkpoints,
    session_memo,
)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compilations(spark) -> int:
    """Janino compilations in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_reexecuted_query_reuses_generated_code(spark):
    """A query run again after about a hundred others keeps its compiled
    classes: the session's codegen cache holds more than Spark's default
    100 entries, which a mix of queries evicts every round."""

    def query(i: int):
        return (
            spark.range(0, 1000, 1, 1)
            .selectExpr(f"id * {i} + {i} AS x")
            .groupBy(F.col("x") % 7)
            .count()
            .collect()
        )

    first = sorted(query(1))
    for i in range(2, 122):  # each literal gets classes of its own
        query(i)
    before = _compilations(spark)
    assert sorted(query(1)) == first
    assert _compilations(spark) == before


def _persistent_ids(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_session_memo_builds_once_and_records_its_seconds(spark):
    from kafka_avro_pipeline_java_spark.plans import graph

    builds = []

    def build():
        builds.append(1)
        return spark.range(100).selectExpr("id * 2 AS x")

    n0 = len(graph.PAIR_MEMO_BUILD_SEC)
    first = session_memo(spark, "test_once", "sf-once", build)
    again = session_memo(spark, "test_once", "sf-once", build)
    assert again is first and len(builds) == 1
    assert first.agg({"x": "sum"}).first()[0] == 9900
    recorded = graph.PAIR_MEMO_BUILD_SEC[n0:]
    assert len(recorded) == 1
    sf_dir, seconds = recorded[0]
    assert sf_dir == "sf-once" and isinstance(seconds, float) and seconds >= 0


def test_session_memo_survives_release_of_transient_checkpoints(spark):
    before = _persistent_ids(spark)
    memo = session_memo(
        spark, "test_survives", "sf-s",
        lambda: spark.range(1000).selectExpr("id", "id % 7 AS m"),
    )
    memo_ids = _persistent_ids(spark) - before
    transient = spark.range(500).localCheckpoint(eager=True)
    transient_ids = _persistent_ids(spark) - before - memo_ids
    assert memo_ids and transient_ids
    release_transient_checkpoints(spark)
    remaining = _persistent_ids(spark)
    assert memo_ids <= remaining
    assert not (transient_ids & remaining)
    assert memo.count() == 1000
    assert memo.agg({"m": "sum"}).first()[0] == sum(i % 7 for i in range(1000))


def test_session_memo_evicts_the_oldest_sf_dir(spark):
    limit = session._MEMO_MAX_SF_DIRS
    ids, memos = [], []
    for i in range(limit + 1):
        before = _persistent_ids(spark)
        memos.append(
            session_memo(
                spark, "test_fifo", f"sf-{i}",
                lambda i=i: spark.range(100 + i).selectExpr("id"),
            )
        )
        ids.append(_persistent_ids(spark) - before)
    remaining = _persistent_ids(spark)
    assert not (ids[0] & remaining), "the oldest memo kept its blocks"
    assert all(rdd_ids <= remaining for rdd_ids in ids[1:])
    assert not (ids[0] & {rid for _, rid in session._MEMOS.values()})
    release_transient_checkpoints(spark)
    assert [m.count() for m in memos[1:]] == [100 + i for i in range(1, limit + 1)]


def test_python_task_rereads_no_unchanged_archive(spark):
    """A Python task's second ``importlib.invalidate_caches()`` re-reads no
    archive directory: pyspark.zip, py4j and the Spark jar have not
    changed. Spark's own daemon re-reads all of them (16 directories)
    on every call before Python 3.13."""
    if not os.path.exists(f"/proc/{os.getpid()}/cmdline"):
        pytest.skip("needs /proc to read the daemon's command line")

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        stock = zipimport._read_directory
        reads = []
        importlib.invalidate_caches()
        zipimport._read_directory = lambda path: reads.append(path) or stock(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            daemon = f.read().replace(b"\0", b" ").decode()
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "daemon": [daemon]})

    row = spark.range(1, numPartitions=1).mapInArrow(probe, "reads long, daemon string").first()
    assert row["reads"] == 0
    assert "kafka_avro_pipeline_java_spark.worker_daemon" in row["daemon"]


def test_gated_invalidation_still_rereads_a_changed_archive(tmp_path):
    """An archive rewritten after its last read is read again, so the new
    content imports; an unchanged archive is not."""
    script = textwrap.dedent(
        """
        import importlib, json, sys, zipfile, zipimport

        import kafka_avro_pipeline_java_spark.worker_daemon  # noqa: F401

        archive = sys.argv[1]

        def write(value):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("gate_probe.py", f"VALUE = {value!r}\\n")

        stock, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda p: reads.append(p) or stock(p)
        write("old")
        sys.path.insert(0, archive)
        import gate_probe
        assert gate_probe.VALUE == "old"
        importlib.invalidate_caches()  # stamps the importer
        del reads[:]
        importlib.invalidate_caches()
        unchanged = list(reads)
        write("new and longer")
        importlib.invalidate_caches()
        del sys.modules["gate_probe"]
        import gate_probe
        print(json.dumps([gate_probe.VALUE, unchanged, reads[len(unchanged):]]))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "probe.zip")],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    value, unchanged_reads, changed_reads = json.loads(out.stdout)
    assert value == "new and longer"
    if sys.version_info < (3, 13):
        assert unchanged_reads == []
        assert changed_reads == [str(tmp_path / "probe.zip")]


def test_py_file_added_to_warm_workers_is_importable(spark, tmp_path):
    """``addPyFile`` after the Python workers started still reaches them:
    the invalidation ``setup_spark_files`` runs per task stays in force."""
    spark.range(4, numPartitions=2).mapInArrow(lambda it: it, "id long").collect()
    archive = tmp_path / "late_added.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("late_added_mod.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import late_added_mod
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [late_added_mod.VALUE] * b.num_rows})

    rows = spark.range(4, numPartitions=2).mapInArrow(use, "v long").collect()
    assert [r["v"] for r in rows] == [42] * 4


def test_workers_find_the_daemon_outside_the_repo(tmp_path):
    """A driver started outside the repo, with the package only on its own
    ``sys.path`` and no PYTHONPATH, still runs Python tasks: the session
    puts the package's parent on the workers' PYTHONPATH."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})

        from kafka_avro_pipeline_java_spark.session import get_spark

        def double(batches):
            import pyarrow.compute as pc
            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

        if __name__ == "__main__":
            spark = get_spark("daemon-path", master="local[1]", shuffle_partitions=1)
            print(sorted(r.id for r in spark.range(3).mapInArrow(double, "id long").collect()))
            spark.stop()
        """
    ))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4]"


# ---------------------------------------------------------------------------
# base-relation memo of load_table
# ---------------------------------------------------------------------------


def test_load_table_relation_memo_is_transparent(spark, sf_dir):
    """The per-(app, path) base-relation memo must change NOTHING
    observable: the warm (memoized) read returns the same schema and the
    same rows as the cold (freshly resolved) read, and two sf_dirs never
    share an entry. The memo holds a logical plan over file metadata —
    rows always come from the parquet scan at execution."""
    import os

    from kafka_avro_pipeline_java_spark.sources import tables as T

    app = spark.sparkContext.applicationId
    for name in ("orders", "events"):  # events exercises the ts normalizer
        key = (app, os.path.join(sf_dir, f"{name}.parquet"))
        T._RELATION_CACHE.pop(key, None)
        cold = T.load_table(spark, sf_dir, name)
        assert key in T._RELATION_CACHE  # first read populated the memo
        warm = T.load_table(spark, sf_dir, name)
        assert warm.schema == cold.schema
        key_col = cold.columns[0]
        cold_rows = cold.orderBy(key_col).limit(20).collect()
        warm_rows = warm.orderBy(key_col).limit(20).collect()
        assert warm_rows == cold_rows
    # keys carry the full path: a second sf_dir gets its own entry, so a
    # sweep across scale factors can never serve one directory's relation
    # for another's files
    other = "/root/testdata/sf0.01"
    T.load_table(spark, other, "orders")
    assert (app, os.path.join(other, "orders.parquet")) in T._RELATION_CACHE
