"""Spark-free tests of the benchmark's arithmetic: the tail
percentile rule, span self time and the run summary.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.stats import covered, self_time, spread, summarize, tail
from perfbench.trace import Tracer


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100, shuffled order must not matter
    value, pct, n = tail(reversed(xs))
    assert n == 100
    assert value == 90  # 91..100 lie beyond it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(90.0)


def test_tail_smallest_sample_count_above_the_median():
    xs = list(range(22))  # index 11 has 10 above it: percentile 54.5
    value, pct, n = tail(xs)
    assert (value, n) == (11, 22)
    assert pct == pytest.approx(100 * 12 / 22)


def test_tail_with_few_samples_is_the_median():
    assert tail(range(20)) == (9.5, 50.0, 20)
    assert tail([3.0, 1.0, 2.0, 9.0]) == (2.5, 50.0, 4)
    value, pct, _ = tail(range(21))  # the median sample, at p52.4
    assert value == 10 and pct == pytest.approx(100 * 11 / 21)
    with pytest.raises(ValueError):
        tail([])


def test_summary_rates_use_timed_seconds():
    s = summarize([1.0, 2.0, 3.0, 2.0], rows=800)
    assert s.n == 4
    assert s.busy_s == 8.0
    assert s.p50_s == 2.0
    assert s.ops_per_s == 0.5
    assert s.rows_per_s == 100.0
    assert (s.tail_s, s.tail_pct) == (2.0, 50.0)


def test_summary_per_cycle_weighs_each_kind_once():
    # two cheap kinds outnumber the slow one, which still counts in full
    lat = [1.0, 2.0, 10.0, 1.0, 2.0, 30.0, 3.0, 4.0, 20.0]
    kinds = ["a", "b", "slow"] * 3
    s = summarize(lat, rows=730, kinds=kinds)
    assert s.p50_s == 1.0 + 2.0 + 20.0
    assert (s.tail_s, s.tail_pct) == (s.p50_s, 50.0)
    assert s.n == 9
    assert s.ops_per_s == 9 / 73
    assert s.rows_per_s == 10.0
    with pytest.raises(ValueError):
        summarize(lat, rows=0, kinds=kinds[:-1])


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def test_self_time_subtracts_clipped_union_of_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4)]) == 7  # overlap counted once
    assert self_time(0, 10, [(-5, 1), (9, 20)]) == 8  # clipped to parent
    assert self_time(0, 10, [(11, 12)]) == 10  # outside the parent


def test_spread_is_iqr_over_median():
    # quantiles (exclusive method) of 1..9 are 2.5, 5, 7.5
    assert spread(range(1, 10)) == pytest.approx(5 / 5)
    assert spread([4.0] * 5) == 0.0


def test_tracer_nesting_self_time_and_counts():
    clock = iter([0.0, 1.0, 4.0, 5.0, 6.0, 10.0])
    tr = Tracer(clock=lambda: next(clock))
    tr.op = 7
    outer = tr.open("outer")            # 0
    inner = tr.open("inner")            # 1
    tr.close(inner)                     # 4
    inner2 = tr.open("inner")           # 5
    inner2.counts["files"] = 2
    tr.close(inner2)                    # 6
    tr.close(outer)                     # 10
    assert inner.parent == outer.id and outer.parent is None
    row = tr.per_op()[7]
    assert row["outer"] == 10 and row["outer.self"] == 6
    assert row["inner"] == 4 and row["inner.self"] == 4
    assert row["inner.files"] == 2


def test_tracer_wrap_records_and_uninstalls():
    class Layer:
        def work(self, x):
            return x * 2

    tr = Tracer()
    seen = []
    tr.wrap(Layer, "work", "layer.work",
            before=lambda args, kwargs: "state",
            after=lambda span, args, kwargs, result, state:
                seen.append((span.name, result, state)))
    assert Layer().work(3) == 6
    assert seen == [("layer.work", 6, "state")]
    assert [s.name for s in tr.spans] == ["layer.work"]
    tr.uninstall()
    assert Layer().work(3) == 6
    assert len(tr.spans) == 1
