"""Unit tests of the benchmark's pure helpers.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import datetime
import json
import math
import subprocess
import sys
import threading
import time

import pandas as pd
import pytest

from datagen import _untie_q6

from helpers import (
    Tracer,
    batch_ranges,
    canon,
    canonical_rows,
    descendants,
    layer_totals,
    median,
    percentile,
    progress_epoch_s,
    record_latencies,
    self_times,
    tree_cpu_s,
)


# -- percentile with its sample count ---------------------------------------

def test_percentile_nearest_rank_and_counts():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 0.5) == (50, 100, 50)
    assert percentile(xs, 0.9) == (90, 100, 10)
    assert percentile(xs, 1.0) == (100, 100, 0)
    assert percentile([7.0], 0.9) == (7.0, 1, 0)


def test_percentile_is_order_insensitive_and_validates():
    assert percentile([3, 1, 2], 0.5) == percentile([1, 2, 3], 0.5) == (2, 3, 1)
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1], 0)


def test_median_of_even_and_odd_samples():
    assert median([4, 1, 3, 2]) == 2.5
    assert median([3, 1, 2]) == 2


# -- self time = span minus the part its children cover ----------------------

def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "root"),
        _span(1, 0, 1.0, 4.0, "a"),
        _span(2, 0, 3.0, 6.0, "a"),      # overlaps child 1: counted once
        _span(3, 0, 9.0, 12.0, "b"),     # runs past the parent: clipped
        _span(4, 1, 1.5, 2.0, "leaf"),   # grandchild: only covers span 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    totals = layer_totals(spans)
    assert totals["a"]["count"] == 2
    assert totals["a"]["total_s"] == pytest.approx(6.0)
    assert totals["a"]["self_s"] == pytest.approx(5.5)


def test_tracer_nests_spans_and_pauses():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.paused():
            with tr.span("hidden"):
                pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    # a callback thread's first span hangs under the span passed as parent
    def callback(parent):
        with tr.span("batch", parent=parent):
            pass

    with tr.span("consume") as consume:
        t = threading.Thread(target=callback, args=(consume["id"],))
        t.start()
        t.join()
    assert tr.spans[-1]["name"] == "batch" and tr.spans[-1]["parent"] == consume["id"]
    off = Tracer(False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


# -- offsets → due times → latency -------------------------------------------

def _progress(ts, trigger_ms, start, end, rows):
    return {
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [{
            "startOffset": None if start is None else json.dumps({"offsets": start}),
            "endOffset": json.dumps({"offsets": end}),
        }],
    }


def test_progress_timestamp_parses_as_utc():
    t = progress_epoch_s("2024-01-01T00:00:01.250Z")
    expect = datetime.datetime(2024, 1, 1, 0, 0, 1, 250000, tzinfo=datetime.timezone.utc)
    assert t == expect.timestamp()


def test_batch_ranges_skip_empty_batches_and_end_at_trigger_end():
    base = progress_epoch_s("2024-01-01T00:00:00.000Z")
    progresses = [
        _progress("2024-01-01T00:00:00.000Z", 500, None, {"0": 2, "1": 0}, 2),
        _progress("2024-01-01T00:00:01.000Z", 10, {"0": 2, "1": 0}, {"0": 2, "1": 0}, 0),
        _progress("2024-01-01T00:00:02.000Z", 250, {"0": 2, "1": 0}, {"0": 3, "1": 2}, 3),
    ]
    got = batch_ranges(progresses)
    assert got == [
        (base + 0.5, {0: (0, 2)}),
        (base + 2.25, {0: (2, 3), 1: (0, 2)}),
    ]


def test_record_latencies_map_offsets_to_due_times():
    due = {0: [10.0, 10.1, 10.2], 1: [10.0, 10.3]}
    batches = [(11.0, {0: (0, 2)}), (12.0, {0: (2, 3), 1: (0, 2)})]
    lat, committed = record_latencies(due, batches)
    assert committed == 5
    assert sorted(round(x, 6) for x in lat) == [0.9, 1.0, 1.7, 1.8, 2.0]
    # warm-up records are committed but not measured
    lat, committed = record_latencies(due, batches, measured_from=10.15)
    assert committed == 5
    assert sorted(round(x, 6) for x in lat) == [1.7, 1.8]
    with pytest.raises(ValueError):
        record_latencies(due, [(13.0, {1: (0, 3)})])


# -- canonical oracle compare -------------------------------------------------

def test_canon_matches_driver_rules():
    assert canon(None) == "N"
    assert canon(float("nan")) == "nan"
    assert canon(0.1 + 0.2) == canon(0.3)
    assert canon(1) == canon(1.0) == "1"  # an integral double equals the int
    assert canon(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert canon("a") == "'a'"


def rows_match(cols_a, rows_a, cols_b, rows_b) -> bool:
    return canonical_rows(cols_a, rows_a) == canonical_rows(cols_b, rows_b)


def test_canonical_rows_ignore_row_and_column_order():
    assert rows_match(["b", "a"], [(1, "x"), (2, "y")],
                      ["a", "b"], [("y", 2), ("x", 1)])
    assert not rows_match(["a"], [(1,), (1,)], ["a"], [(1,)])   # multiset
    assert not rows_match(["a"], [(1,)], ["b"], [(1,)])         # names
    assert not rows_match(["a"], [(1.0,)], ["a"], [(1.0 + 1e-9,)])
    assert rows_match(["a"], [(math.pi,)], ["a"], [(math.pi + 1e-15,)])


# -- process tree --------------------------------------------------------------

def test_descendants_walks_the_tree_only():
    parent_of = {1: 0, 10: 1, 11: 10, 12: 10, 20: 2, 21: 20}
    assert descendants(parent_of, 10) == {10, 11, 12}
    assert descendants(parent_of, 1) == {1, 10, 11, 12}


def test_tree_cpu_counts_this_process_and_reaped_children():
    before = tree_cpu_s()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    # a child that burns CPU and exits: its time lands in our cutime
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    assert tree_cpu_s() - before >= 0.5


# -- generated data -------------------------------------------------------------

def test_q6_half_cent_tie_is_broken():
    li = pd.DataFrame({
        "l_shipdate": pd.to_datetime(["1996-03-01", "1996-04-01", "1998-01-01"]),
        "l_discount": [0.05, 0.05, 0.05],
        "l_quantity": [1.0, 1.0, 1.0],
        "l_extendedprice": [0.10, 2.00, 0.10],
    })
    _untie_q6(li)  # 10·5 + 200·5 = 1050 units of 1e-4: a half-cent tie
    assert list(li.l_extendedprice) == [0.11, 2.00, 0.10]
    _untie_q6(li)  # no tie left, nothing moves
    assert list(li.l_extendedprice) == [0.11, 2.00, 0.10]
