"""Self-tests of the benchmark's own arithmetic, seeding and counting.
No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import frozen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------------ #
# tail_s: the highest percentile with at least ten samples beyond it
# ------------------------------------------------------------------ #

def test_hd_quantile_weights_the_samples_near_the_quantile():
    assert stats.hd_quantile([2.5] * 7, 0.5) == pytest.approx(2.5)
    assert stats.hd_quantile([4.0, 1.0, 3.0, 2.0, 5.0], 0.5) == pytest.approx(3.0)  # symmetric
    assert stats.hd_quantile([1.0, 2.0, 3.0, 4.0], 0.5) == pytest.approx(2.5)
    xs = [float(i) for i in range(1, 24)]
    qs = [stats.hd_quantile(xs, p) for p in (0.1, 0.5, 0.9)]
    assert 1.0 < qs[0] < qs[1] < qs[2] < 23.0
    assert qs[1] == pytest.approx(12.0)
    # one op crossing the middle of a two-cluster sample moves the plain
    # median from one cluster to the other, and this estimate a little
    fast, slow = [1.0] * 12 + [2.0] * 11, [1.0] * 11 + [2.0] * 12
    assert statistics.median(slow) - statistics.median(fast) == 1.0
    assert 0 < stats.hd_quantile(slow, 0.5) - stats.hd_quantile(fast, 0.5) < 0.3
    with pytest.raises(ValueError):
        stats.hd_quantile([], 0.5)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = stats.tail(random.Random(0).sample(xs, len(xs)))
    assert 89.0 < t["value"] < 92.0  # around the 90th smallest
    assert t["beyond"] == 10 and sum(x > 90.0 for x in xs) == 10
    assert t["percentile"] == 90.0 and t["n"] == 100


def test_tail_of_23_samples_is_near_the_13th_smallest():
    xs = [float(i) for i in range(23)]
    t = stats.tail(xs)
    assert 11.5 < t["value"] < 13.5 and t["beyond"] == 10
    assert t["percentile"] == round(100 * 13 / 23, 2)


def test_tail_with_eleven_samples_and_fewer():
    assert stats.tail([float(i) for i in range(11)])["value"] < 2.0
    few = stats.tail([3.0, 1.0, 2.0])
    assert few == {"value": 3.0, "percentile": 100.0, "beyond": 0, "n": 3}
    with pytest.raises(ValueError):
        stats.tail([])


def test_drift_record_keeps_order_and_half_medians():
    d = stats.drift([1.0, 1.0, 1.0, 3.0, 3.0, 3.0])
    assert d["latencies_s"] == [1.0, 1.0, 1.0, 3.0, 3.0, 3.0]
    assert d["first_half_p50_s"] == 1.0 and d["second_half_p50_s"] == 3.0


def test_end_to_end_metrics():
    m = stats.end_to_end([1.0, 2.0, 3.0, 4.0], ok=3, attempted=4, setup_s=9.5)
    assert m["ops_per_s"] == (0.4, "1/s")
    assert m["p50_s"][0] == pytest.approx(2.5) and m["p50_s"][1] == "s"
    assert m["tail_s"] == (4.0, "s")
    assert m["setup_s"] == (9.5, "s")
    assert m["ok_frac"] == (0.75, "fraction")


def test_warmed_up_waits_until_times_stop_falling():
    assert not stats.warmed_up([13.0], 0.1)
    assert not stats.warmed_up([13.0, 5.0], 0.1)
    assert stats.warmed_up([13.0, 5.0, 4.7], 0.1)


# ------------------------------------------------------------------ #
# ok_frac: a raised op and a mismatched op are both failures
# ------------------------------------------------------------------ #

def test_outcomes_count_raised_and_mismatched_ops_as_failed():
    want = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    good = pd.DataFrame({"v": ["b", "a"], "k": [2, 1]})  # order-insensitive
    bad = pd.DataFrame({"k": [1, 2], "v": ["a", "c"]})
    o = stats.Outcomes()

    def op(frame):
        if frame is None:
            raise RuntimeError("boom")
        return frame

    for frame in (good, None, bad, good):
        try:
            why = workloads.compare(op(frame), want)
        except RuntimeError as e:
            why = str(e)
        o.record(not why, why)
    assert (o.attempted, o.failed, o.ok) == (4, 2, 2)
    m = stats.end_to_end([1.0] * 4, o.ok, o.attempted, 1.0)
    assert m["ok_frac"][0] == 0.5
    assert o.errors == ["boom", "values ('2', 'c') vs ('2', 'b')"]


def test_compare_is_strict_about_types_and_row_counts():
    assert workloads.compare(pd.DataFrame({"x": [42]}), pd.DataFrame({"x": [42.0]}))
    assert workloads.compare(pd.DataFrame({"x": [1, 1]}), pd.DataFrame({"x": [1]}))
    assert not workloads.compare(
        pd.DataFrame({"x": [None, float("nan")]}), pd.DataFrame({"x": [float("nan"), None]})
    )


# ------------------------------------------------------------------ #
# span self time
# ------------------------------------------------------------------ #

def _span(i, name, start, end, parent=None):
    return tracing.Span(i, name, start, end, parent, 0, 1)


def test_self_time_subtracts_the_union_of_children():
    # op [0,10] with build [1,4] (which holds read [2,3]) and two
    # overlapping exec children [5,8] and [7,9]
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 1.0, 4.0, 0),
        _span(2, "read", 2.0, 3.0, 1),
        _span(3, "exec", 5.0, 8.0, 0),
        _span(4, "exec", 7.0, 9.0, 0),
    ]
    own = tracing.self_times(spans)
    assert own["op"] == pytest.approx(10 - 3 - 4)  # [1,4] and [5,9]
    assert own["build"] == pytest.approx(2.0)
    assert own["read"] == pytest.approx(1.0)
    assert own["exec"] == pytest.approx(3.0 + 2.0)
    assert sum(own.values()) == pytest.approx(10.0 + 1.0)  # the exec overlap counts twice


def test_covered_clips_children_to_the_parent():
    assert tracing.covered(0.0, 10.0, [(-5.0, 2.0), (9.0, 12.0), (20.0, 30.0)]) == 3.0
    assert tracing.covered(0.0, 1.0, []) == 0.0


def test_tracer_nests_spans_and_adopts_orphans_by_thread():
    tr = tracing.Tracer()
    with tr.span("op") as root:
        with tr.span("child") as child:
            pass
    assert child.parent == root.id and root.parent is None
    since = len(tr.spans)
    orphan = tr.add("work", root.start, root.start, thread=7)
    stray = tr.add("work", root.start, root.start, thread=8)
    home = tr.add("node", root.start - 1, root.end + 1, parent=root.id, thread=7)
    tr.adopt(root, [home], since)
    assert orphan.parent == home.id and stray.parent == root.id


def test_wrap_records_spans_and_restores():
    class Box:
        @classmethod
        def make(cls, x):
            return x * 2

    tr = tracing.Tracer()
    tr.wrap(Box, "make", "box.make", label=lambda cls, x: {"x": x})
    assert Box.make(3) == 6
    tr.restore()
    assert Box.make(4) == 8
    assert [(s.name, s.attrs) for s in tr.spans] == [("box.make", {"x": 3})]


# ------------------------------------------------------------------ #
# seeds fix every generated input
# ------------------------------------------------------------------ #

# what ``column_ranges`` reads from a cache: every filter column spans
# 0..1000, integer or not
RANGES = {e: {c: (0, 1000, i % 2 == 0) for i, c in enumerate(m["num"])}
          for e, m in frozen.SERVE_ENTRIES}


def _streams(seed):
    catalog = workloads.Catalog.__new__(workloads.Catalog)
    catalog.rng = random.Random(seed)
    queries = catalog.ops()
    sync = workloads.Sync.__new__(workloads.Sync)
    sync.rng = random.Random(seed)
    orders = sync.ops()
    requests = workloads.request_stream(random.Random(seed), RANGES)
    return (
        [[next(queries) for _ in frozen.CATALOG] for _ in range(2)],
        [next(orders) for _ in range(3)],
        [next(requests) for _ in range(50)],
    )


def test_same_seed_same_inputs_and_another_seed_differs():
    a, b, c = _streams(7), _streams(7), _streams(8)
    assert a == b
    for x, y in zip(a, c):
        assert x != y
    passes, orders, requests = a
    assert sorted(passes[0]) == sorted(frozen.CATALOG) == sorted(passes[1])
    assert passes[0] != passes[1]  # each pass is shuffled anew
    assert all(sorted(o) == sorted(frozen.DAG_NODES) for o in orders)


def test_request_stream_is_zipf_skewed_with_fresh_constants():
    reqs = [r for r, _ in zip(workloads.request_stream(random.Random(3), RANGES), range(2000))]
    counts = {}
    for entry, _, _ in reqs:
        counts[entry] = counts.get(entry, 0) + 1
    ranked = [e for e, _ in frozen.SERVE_ENTRIES]
    assert counts[ranked[0]] > counts[ranked[1]] > counts[ranked[-1]] > 0
    filters = [o["$filter"] for e, o, _ in reqs if e == "flowerpot"]
    assert len(set(filters)) > 0.8 * len(filters)
    for _, options, sql in reqs:
        assert options["$select"] and options["$orderby"]
        assert options["$top"] == "50" and int(options["$skip"]) in (0, 50, 100)
        assert sql["rows"].startswith("SELECT \"")


def test_frozen_dag_is_complete():
    assert len(frozen.CATALOG) == 23 == len(set(frozen.CATALOG))
    assert len(frozen.DAG_NODES) == 11 and len(frozen.PROGRAMS) == 9
    assert set(frozen.ORACLE_ROWS) == set(frozen.DAG_NODES)
    assert len(frozen.FORMAT_JSON) == 4 and frozen.FORMAT_JSON <= set(frozen.DAG_NODES)
    assert all(t.startswith("provider: parquet\n") for t in frozen.PROGRAMS.values())
