"""Self-tests of the benchmark's statistics and span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import statistics

import pytest

from perfbench import stats
from perfbench.trace import Span, Tracer
from perfbench.workloads import plan_counts, rowset


def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    assert stats.median(xs) == 4.0
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, q2, q3 = stats.quartiles(xs)
    assert stats.iqr_frac(xs) == pytest.approx((q3 - q1) / q2)
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.quartiles([1.0])


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3 and 2-4) and one sticks out of the parent (9-12)
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.covered(children, 0.0, 10.0) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_queue_wait_matches_the_job_that_answered():
    jobs = [(0.0, 0.5), (1.0, 1.4)]
    done = [0.55, 1.45]
    lat = [600.0, 900.0]
    assert stats.queue_waits_ms(done, lat, jobs) == pytest.approx([100.0, 500.0])


class _FakeContext:
    def setJobGroup(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_tracer_reconciles_operations_against_child_spans():
    tr = Tracer(_FakeSpark(), enabled=True)
    tr.spans += [
        Span(0, "op", 0.0, 1.0),
        Span(1, "child", 0.0, 0.995, parent=0),
        Span(2, "op", 1.0, 2.0),
        Span(3, "child", 1.0, 1.5, parent=2),
    ]
    assert tr.self_time(0) == pytest.approx(0.005)
    assert tr.unreconciled([0, 2]) == 1


def test_disabled_tracer_records_nothing():
    tr = Tracer(_FakeSpark(), enabled=False)
    with tr.span("op", group=True) as sid:
        assert sid is None
    assert tr.spans == [] and tr.busy_s == 0.0


def test_rowset_ignores_row_and_column_order():
    a = rowset([(1, 2.5, [1, 2]), (0, float("nan"), [])], ["id", "score", "v"])
    b = rowset([([], 0, float("nan")), ([1, 2], 1, 2.5)], ["v", "id", "score"])
    assert a == b
    assert rowset([(1, 2.5)], ["id", "score"]) != rowset([(1, 2.6)], ["id", "score"])


_ADAPTIVE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- == Final Plan ==
   ResultQueryStage (8)
   +- ArrowEvalPython (7)
      +- BroadcastHashJoin Inner BuildLeft (6)
         :- BroadcastExchange (5)
         :  +- ShuffleQueryStage (4)
         :     +- Exchange (3)
         :        +- Range (1)
         +- Range (2)
+- == Initial Plan ==
   ArrowEvalPython (11)
   +- BroadcastHashJoin Inner BuildLeft (10)
      :- BroadcastExchange (9)
      :  +- Exchange (3)
      :     +- Range (1)
      +- Range (2)


(1) Range
Arguments: Range (0, 10, step=1, splits=Some(4))

(3) Exchange
Arguments: hashpartitioning(k#1L, 32)

(5) BroadcastExchange
"""


def test_plan_counts_read_the_final_plan_once():
    assert plan_counts(_ADAPTIVE_PLAN) == (2, 1)
    plain = "== Physical Plan ==\n* Project (3)\n+- Exchange (2)\n   +- Scan (1)\n\n\n(1) Scan\n(2) Exchange\n"
    assert plan_counts(plain) == (1, 0)
