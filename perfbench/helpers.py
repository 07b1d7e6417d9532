"""Pure helpers of the benchmark: percentiles with their sample counts,
span tracing with self times, record latency from stream progress, the
canonical oracle comparison, and process-tree memory and CPU time.

Nothing here imports Spark, so ``perfbench/test_helpers.py`` runs in a
plain interpreter.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> tuple[float, int, int]:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``values``.

    Returns ``(value, n, n_beyond)``: the sample count and how many samples
    lie strictly beyond the chosen rank, so a caller can tell whether the
    percentile is supported (the usual rule: at least ten beyond it)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 1:
        raise ValueError(f"quantile {q} outside (0, 1]")
    rank = max(1, math.ceil(q * n))
    return xs[rank - 1], n, n - rank


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id.

    Disabled tracers record nothing and cost one attribute check per span.
    The parent stack is per thread, because ``foreachBatch`` callbacks run
    on a callback thread while the driver thread waits in the stream."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        """Id of this thread's innermost open span, or None."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, trace: str = "", parent: int | None = None, **attrs):
        """``parent`` links the first span of a callback thread to the span
        open where the callback was registered."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "trace": trace,
            "parent": stack[-1] if stack else parent,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def paused(self):
        """Record nothing inside the block (warm-up and repeated set-up)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [
            (max(lo, a), min(hi, b))
            for a, b in children.get(s["id"], [])
            if min(hi, b) > max(lo, a)
        ]
        out[s["id"]] = (hi - lo) - _union_length(clipped)
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Span name → {"total_s", "self_s", "count"} summed over its spans."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "count": 0})
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
        agg["count"] += 1
    return out


# ---------------------------------------------------------------------------
# stream progress → record latency
# ---------------------------------------------------------------------------


def progress_epoch_s(timestamp: str) -> float:
    """Structured Streaming progress ``timestamp`` (UTC ISO-8601 with
    millis and a trailing Z) → epoch seconds."""
    dt = datetime.datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def source_offsets(offset_json: str | None) -> dict[int, int]:
    """``{"offsets": {"<partition>": next_offset}}`` (the kafka_py source's
    checkpointed offset) → {partition: next_offset}; None → {}."""
    if not offset_json:
        return {}
    raw = json.loads(offset_json) if isinstance(offset_json, str) else offset_json
    return {int(p): int(o) for p, o in raw["offsets"].items()}


def batch_ranges(progresses: list[dict]) -> list[tuple[float, dict[int, tuple[int, int]]]]:
    """Non-empty micro-batches → ``(batch_end_epoch_s, {partition: (start,
    end)})``. A batch ends at its trigger start plus its
    ``triggerExecution`` duration, which covers the sink commit."""
    out = []
    for p in progresses:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = source_offsets(src.get("startOffset"))
        end = source_offsets(src.get("endOffset"))
        end_t = progress_epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        ranges = {pid: (start.get(pid, 0), hi) for pid, hi in end.items()
                  if hi > start.get(pid, 0)}
        out.append((end_t, ranges))
    return out


def record_latencies(due_by_partition: dict[int, list[float]],
                     batches: list[tuple[float, dict[int, tuple[int, int]]]],
                     measured_from: float = float("-inf")) -> tuple[list[float], int]:
    """Latency of every committed record = its batch end − its due time.

    ``due_by_partition[p][k]`` is the due time of the record at offset k of
    partition p (records are produced in due order per partition, so the
    offset indexes the schedule). Records due before ``measured_from`` are
    warm-up and are counted but not returned. Returns (latencies in
    seconds, number of records committed)."""
    lat, committed = [], 0
    for end_t, ranges in batches:
        for pid, (lo, hi) in ranges.items():
            dues = due_by_partition[pid]
            if hi > len(dues):
                raise ValueError(f"partition {pid} offset {hi} beyond the {len(dues)} records produced")
            committed += hi - lo
            lat.extend(end_t - d for d in dues[lo:hi] if d >= measured_from)
    return lat, committed


# ---------------------------------------------------------------------------
# canonical oracle comparison (same rules as tools/driver_sim.py::compare)
# ---------------------------------------------------------------------------


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def canonical_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows as a sorted multiset of canonical
    value tuples in that column order — order-insensitive on both."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(canon(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------------------
# process-tree resident memory and CPU time
# ---------------------------------------------------------------------------


def descendants(parent_of: dict[int, int], root: int) -> set[int]:
    """``root`` and every pid whose parent chain reaches it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(kids.get(pid, []))
    return out


def _proc_parent_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``: its own CPU time and
    that of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    alive or reaped by one of them (the JVM and its Python workers)."""
    pids = descendants(_proc_parent_map(), os.getpid())
    return sum(_cpu_ticks(p) for p in pids) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Background sampler of the summed RSS of this process and all its
    descendants (the JVM and the Python workers it forks)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        pids = descendants(_proc_parent_map(), os.getpid())
        total = sum(_rss_bytes(p) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
