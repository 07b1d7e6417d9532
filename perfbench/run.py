"""Benchmark of the repository: the paper's Kafka→Avro→DB ETL (a backlog
drain and a live open-loop stream) beside a fixed analytics query mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_backlog --seed 1 --seconds 10 --trace 0

Workloads: ``etl_backlog``, ``etl_live``, ``queries_mix`` (see
perfbench/README.md for why each exists and what it stresses). The
inputs come from ``--seed``; ``--seconds`` is the measuring time;
``--trace 1`` records spans around every call into a layer and reports
the per-layer numbers instead of the end-to-end ones. Correctness checks
run outside the timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the run writes stays under ``.perfbench/`` in the checkout:
scratch data in a per-process work directory (removed at exit), and the
result and span files of each run in ``results/`` and ``traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PACKAGE = "kafka_avro_pipeline_java_spark"

# the bounded end-to-end metrics, the ones in BENCHMARK.json ...
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_ms_per_op", "ms"),
    ("peak_rss_mb", "MB"),
]
# ... and the wall-clock rate and latency, printed but not bounded: on a
# shared host they move with the other tenants' load (see README)
WALL_CLOCK = [
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
]
PER_LAYER = [
    ("generate.s", "s"),
    ("avro_codec.encode_s", "s"),
    ("avro_codec.encode_bytes", "bytes"),
    ("kafka_io.produce_s", "s"),
    ("fake_broker.partition_skew", "ratio"),
    ("kafka_pyds.latest_offset_ms", "ms"),
    ("kafka_pyds.batches", "count"),
    ("kafka_pyds.records_per_batch_p50", "count"),
    ("avro_codec.decode_s", "s"),
    ("sink.commit_s", "s"),
    ("sink.add_batch_ms", "ms"),
    ("sink.partition_txns", "count"),
    ("sink.replayed_partitions", "count"),
    ("engine.wal_commit_ms", "ms"),
    ("engine.commit_offsets_ms", "ms"),
    ("engine.query_planning_ms", "ms"),
    ("engine.trigger_ms", "ms"),
    ("plans.build_s", "s"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.shuffle_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("memo.build_s", "s"),
    ("session.release_s", "s"),
]
# span name → per-layer metric holding the spans' summed duration
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "generate": "generate.s",
    "avro_codec.encode": "avro_codec.encode_s",
    "kafka_io.produce": "kafka_io.produce_s",
    "avro_codec.decode": "avro_codec.decode_s",
    "sink.commit": "sink.commit_s",
    "exec": "exec.s",
    "session.release": "session.release_s",
}
WORKLOADS = ("etl_backlog", "etl_live", "queries_mix")
RUN_TIMEOUT_S = 175.0


@dataclass
class Ctx:
    spark: object
    sc: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    nproc: int
    slots: int
    work: str


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _slots(nproc: int) -> int:
    """Spark task slots: half the CPUs, so the tasks, the driver's JVM and
    Python threads and the Python workers together fit the CPUs instead of
    queueing for them (on 4 CPUs, the backlogs of one run took up to 0.6
    longer to drain than the fastest at local[4], 0.05 to 0.15 at local[2])."""
    return max(1, nproc // 2)


def _configure_env(work: str, slots: int) -> None:
    """Must run before the JVM starts: every temporary file of Spark, the
    JVM and the Python workers goes under ``work``; the workers import the
    package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # no hsperfdata files in the system /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.local.dir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.sql.streaming.numRecentProgressUpdates=1000 "
        "pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def _watchdog(seconds: float) -> threading.Timer:
    """Hard stop for a hung run: kill the JVM and exit non-zero."""
    def fire() -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        print(f"run exceeded {seconds:.0f} s", file=sys.stderr, flush=True)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def _source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_head() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def _provenance(ctx: Ctx, args) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": ctx.nproc, "slots": ctx.slots, "master": ctx.sc.master,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": ctx.sc._jvm.System.getProperty("java.version"),
        "git_head": _git_head(), "package_sha256": _source_hash(),
        "sf": 0.01 if args.workload == "queries_mix" else None,
    }


def _cpu_jiffies() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between: a
    run that is slow on every query with a high share was a busy host."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else None


def _layer_metrics(out: dict, tracer) -> tuple[dict, dict]:
    """Per-layer metric values (0 for a layer off this workload's path)
    and the span summary with self times."""
    from helpers import layer_totals

    totals = layer_totals(tracer.spans)
    values = {name: 0 for name, _ in PER_LAYER}
    for span, metric in SPAN_METRICS.items():
        if span in totals:
            values[metric] = totals[span]["total_s"]
    for k, v in out["layers"].items():
        if k in values:
            values[k] = v
    return values, totals


def _print_named(title: str, items) -> None:
    print(title)
    for name, (value, unit) in items:
        print(f"  {name:36s} {value!s:>24} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from kafka_avro_pipeline_java_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the {PACKAGE} package from {ROOT}: {e}", file=sys.stderr)
        return 2

    nproc = _nproc()
    slots = _slots(nproc)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    _configure_env(work, slots)
    watchdog = _watchdog(RUN_TIMEOUT_S)
    jiffies = _cpu_jiffies()

    import etl
    import mix
    from helpers import PeakRss, Tracer

    prepare, measure = {
        "etl_backlog": (etl.prepare_backlog, etl.measure_backlog),
        "etl_live": (etl.prepare_live, etl.measure_live),
        "queries_mix": (mix.prepare_mix, mix.measure_mix),
    }[args.workload]
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=f"local[{slots}]", shuffle_partitions=slots)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, spark.sparkContext, tracer, args.seed, args.seconds,
                      bool(args.trace), nproc, slots, work)
            prov = _provenance(ctx, args)
            t1 = time.perf_counter()
            with tracer.span("setup"):
                state = prepare(ctx)
            prepare_s = time.perf_counter() - t1
            with tracer.span("measure"):
                out = measure(ctx, state)
            _stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    prov["cpu_steal_share"] = _steal_share(jiffies, _cpu_jiffies())

    setup_parts = {"session_start_s": session_s, **out.get("setup_parts", {})}
    # repeated set-up steps count once, at their median (see README)
    setup_s = session_s + prepare_s - out.get("setup_repeats_extra_s", 0.0)
    e2e = {"setup_s": setup_s, **out["e2e"], "peak_rss_mb": rss.peak_bytes / 2**20}
    layers, totals = _layer_metrics(out, tracer)

    print("provenance " + json.dumps(prov))
    print(f"correctness: {'PASS' if out['correct'] else 'FAIL'}; failed {out['failed']} "
          f"of {out['attempted']} attempted (failed_ratio {out['failed'] / out['attempted']:.6g}; "
          f"base: {'records' if args.workload.startswith('etl') else 'query executions'})")
    for p in out["problems"][:20]:
        print(f"  problem: {p}")
    _print_named("end-to-end:", [(n, (e2e[n], u)) for n, u in END_TO_END + WALL_CLOCK])
    _print_named(f"{args.workload}:", out["named"].items())
    _print_named("set-up parts:", [(k, (v, "s")) for k, v in setup_parts.items()])

    record = {"provenance": prov, "correct": out["correct"], "attempted": out["attempted"],
              "failed": out["failed"], "problems": out["problems"], "end_to_end": e2e,
              "named": {k: v[0] for k, v in out["named"].items()}, "setup_parts": setup_parts,
              "per_layer": layers, "spans": totals,
              "per_query_median_s": out.get("per_query_median_s"), "per_query_s": out.get("per_query_s"),
              "warmup_query_s": out.get("warmup_query_s"), "batches": out.get("batches"),
              "per_iteration": out.get("per_iteration")}
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        _print_named("per-layer:", [(n, (layers[n], u)) for n, u in PER_LAYER])
        print("spans (total s / self s / count):")
        for name, agg in sorted(totals.items()):
            print(f"  {name:28s} {agg['total_s']:10.4f} {agg['self_s']:10.4f} {agg['count']:6d}")
        untraced = os.path.join(OUT, "results", f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {n: e2e[n] - base[n] for n in base if n in e2e}
            _print_named("tracing overhead (traced − untraced, same seed):",
                         [(n, (v, u)) for (n, u) in END_TO_END + WALL_CLOCK
                          for v in [record["tracing_overhead"].get(n)] if v is not None])
        else:
            print(f"tracing overhead: run --trace 0 with seed {args.seed} first to compare")
        tracer.write(os.path.join(OUT, "traces", f"{tag}.json"))
    with open(os.path.join(OUT, "results", f"{tag}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in chosen},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
