"""Checks of the benchmark's own arithmetic on synthetic inputs; no Spark.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import OpenLoopGenerator  # noqa: E402
from stats import (  # noqa: E402
    Outcomes,
    batch_latencies,
    median,
    percentile,
    self_time,
    tail,
    tail_percentile,
    union_length,
    windowed_tail,
)
from tracing import Tracer  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 25) == pytest.approx(1.75)
    assert median([5.0]) == 5.0


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [
        (10_000, 99.9),  # exactly 10 beyond p99.9
        (9_999, 99.5),
        (2_000, 99.5),
        (1_000, 99.0),
        (999, 98.0),
        (200, 95.0),
        (100, 90.0),
        (50, 80.0),
        (40, 75.0),
        (20, 50.0),
        (19, 100.0),  # too few samples for any ladder entry: the maximum
        (1, 100.0),
    ],
)
def test_tail_rule_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p < 100.0:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_tail_reports_value_percentile_and_count():
    xs = [float(i) for i in range(1, 201)]  # 1..200
    value, p, n = tail(xs)
    assert (p, n) == (95.0, 200)
    assert value == pytest.approx(percentile(xs, 95.0))
    assert sum(1 for x in xs if x > value) >= 10


def test_tail_falls_back_to_max_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_windowed_tail_is_the_median_of_slice_tails():
    # five slices of 200; one slice holds a stall that dominates its own
    # tail but not the median over slices
    xs = []
    for k in range(5):
        xs += [1.0] * 180 + [2.0 + k * 0.1] * 20
    xs[500:520] = [50.0] * 20  # the stall, inside slice 2
    value, p, n = windowed_tail(xs, 5)
    assert (p, n) == (95.0, 200)
    assert value == pytest.approx(2.3)  # slice tails 2.0, 2.1, 50, 2.3, 2.4
    assert tail(xs)[0] > 2.4  # the whole-run tail is the stall's
    with pytest.raises(ValueError):
        windowed_tail([1.0, 2.0], 5)


def test_batch_latencies_count_one_sample_per_batch():
    # batch a: 3 rows emitted at 10.0, due 9.0/9.5/9.9; batch b: 1 row
    rows = [("a", 9.0, 10.0), ("a", 9.5, 10.0), ("b", 10.5, 11.0), ("a", 9.9, 10.0)]
    got = batch_latencies(rows)
    assert got == [pytest.approx(1.0), pytest.approx(0.5)]
    # the tail sees two samples, not four
    assert tail(got)[2] == 2


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(3, 3), (2, 1)]) == 0


def test_self_time_with_overlapping_children():
    # parent 0..10; children overlap (2..6, 4..8) and one sticks out (9..12)
    assert self_time((0, 10), [(2, 6), (4, 8), (9, 12)]) == pytest.approx(10 - 6 - 1)
    assert self_time((0, 10), []) == 10
    # children covering the whole parent leave no self time, never negative
    assert self_time((0, 10), [(-1, 11), (0, 10)]) == 0


def test_tracer_summary_self_time_is_never_double_counted():
    tr = Tracer(True)
    p = tr.add("parent", "L", "op", 0.0, 10.0)
    tr.add("child", "L", "op", 1.0, 5.0, p)
    tr.add("child", "L", "op", 3.0, 7.0, p)  # concurrent with the first
    s = tr.summary()
    assert s["parent"]["self_s"] == pytest.approx(4.0)
    assert s["child"]["count"] == 2
    assert s["child"]["total_s"] == pytest.approx(8.0)
    assert tr.self_by_layer()["L"] == pytest.approx(12.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", "L"):
        pass
    assert tr.spans == []


def test_outcomes_error_rate_names_failures():
    o = Outcomes()
    assert o.error_rate == 0.0
    o.ok(8)
    o.check(True, "fine")
    o.check(False, "id 7 reached the sink 2 times")
    assert (o.attempted, o.failed) == (10, 1)
    assert o.error_rate == pytest.approx(0.1)
    assert o.failures == ["id 7 reached the sink 2 times"]


def test_generator_is_seeded_and_keeps_due_times():
    a = OpenLoopGenerator(seed=7, rate=1000, seconds=2, dup_share=0.05).schedule(100.0)
    b = OpenLoopGenerator(seed=7, rate=1000, seconds=2, dup_share=0.05).schedule(100.0)
    c = OpenLoopGenerator(seed=8, rate=1000, seconds=2, dup_share=0.05).schedule(100.0)
    assert [(m.id, m.due) for m in a] == [(m.id, m.due) for m in b]
    assert [m.id for m in a] != [m.id for m in c]
    assert len(a) == 2000
    resends = [m for m in a if m.resend]
    assert 0.03 < len(resends) / len(a) < 0.07
    first_due = {}
    for m in a:
        first_due.setdefault(m.id, m.due)
        assert m.due == first_due[m.id]  # a re-send keeps its original due time
    assert a[0].due == 100.0 and a[-1].due <= 102.0


def test_generator_burst_ids_follow_steady_ids():
    g = OpenLoopGenerator(seed=1, rate=1000, seconds=0.05, burst_size=5)
    sent = []
    g.run(sent.extend)
    assert [m.id for m in sent] == list(range(50))
    assert [m.id for m in g.burst(0.0)] == list(range(50, 55))
    assert [m.id for m in g.burst(0.0)] == list(range(55, 60))
    assert len(g.lateness) == 50


def test_job_spans_nest_under_the_open_span_of_their_operation():
    from tracing import job_spans

    tr = Tracer(True)
    outer = tr.add("invindex.query", "L", "round1", 0.0, 10.0)
    inner = tr.add("invindex.query.exec", "L", "round1", 4.0, 10.0, outer)
    tr.add("invindex.update", "L", "round2", 0.0, 10.0)
    stage = {"t0": 5.0, "t1": 6.0}
    job_spans(
        tr,
        [
            {"group": "round1", "t0": 5.0, "t1": 7.0, "stages": [stage]},
            {"group": "round1", "t0": 1.0, "t1": 2.0, "stages": []},
            {"group": "other", "t0": 5.0, "t1": 6.0, "stages": []},
        ],
    )
    jobs = [s for s in tr.spans if s.name == "spark.job"]
    assert [j.parent for j in jobs] == [inner, outer, None]
    summary = tr.summary()
    # the exec span's 6 s minus its job's 2 s; the query span's 10 s minus
    # its exec child (6 s) and the early job (1 s)
    assert summary["invindex.query.exec"]["self_s"] == pytest.approx(4.0)
    assert summary["invindex.query"]["self_s"] == pytest.approx(3.0)


def test_streaming_jobs_map_to_their_micro_batch():
    from wl_stream_pipeline import _batch_op

    desc = "\nid = 5e0c...\nrunId = 9a1f...\nbatch = 12"
    assert _batch_op({"description": desc}) == "mb12"
    assert _batch_op({"description": "collect at x.py:3"}) == ""
