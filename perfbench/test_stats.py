"""Spark-free tests of the benchmark's own statistics and accounting.

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    assert stats.median(xs) == 4.0
    q1, q2, q3 = stats.quartiles(xs)
    assert [q1, q2, q3] == statistics.quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_sample_and_empty_median():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.iqr_share([2.5]) == 0.0
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_needs_ten_samples_beyond():
    # 19 samples: even p75 has only 4.75 beyond it
    assert stats.tail(range(19)) is None
    # 40 samples: p75 has exactly 10 beyond, p90 only 4
    assert stats.tail(range(1, 41)) == (75.0, 30.0)
    # 100 samples: p90 has 10 beyond, p95 only 5
    assert stats.tail(range(1, 101)) == (90.0, 90.0)
    # 10,000 samples: p99.9 has 10 beyond
    p, v = stats.tail(range(1, 10001))
    assert (p, v) == (99.9, 9990.0)


def test_summary_names_the_tail_percentile():
    s = stats.summary(range(1, 101))
    assert s["n"] == 100 and s["median"] == 50.5 and s["p90"] == 90.0
    assert "p90" not in stats.summary(range(5))


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_subtracts_children_once_when_they_overlap():
    spans = [_span(1, 0.0, 10.0),
             _span(2, 1.0, 4.0, 1), _span(3, 3.0, 6.0, 1),  # overlap 3..4
             _span(4, 8.0, 12.0, 1),                         # clipped at 10
             _span(5, 1.5, 2.0, 2)]                          # grandchild
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - (5.0 + 2.0))
    assert selfs[2] == pytest.approx(3.0 - 0.5)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[5] == pytest.approx(0.5)
    # self times of a tree add up to the root's wall time when every
    # child lies inside its parent and siblings do not overlap
    tree = [_span(1, 0.0, 10.0), _span(2, 1.0, 4.0, 1),
            _span(3, 5.0, 9.0, 1), _span(4, 2.0, 3.0, 2)]
    assert sum(stats.self_times(tree).values()) == pytest.approx(10.0)


def test_covered_merges_intervals():
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert stats.covered([], 0, 10) == 0


def test_fail_ledger_counts_operations_and_demotions():
    led = stats.FailLedger()
    assert led.ratio == 1.0            # nothing attempted is no success
    led.ok(5)                          # one repeat and four micro-batches
    led.demote("sampled row differs")  # a check failed one of them
    led.fail("repeat timed out")       # an operation that never completed
    assert (led.attempted, led.failed) == (6, 2)
    assert led.ratio == pytest.approx(2 / 6)
    assert led.reasons == ["sampled row differs", "repeat timed out"]


def test_fail_ledger_cannot_demote_more_than_attempted():
    led = stats.FailLedger()
    with pytest.raises(ValueError):
        led.demote("nothing to demote")


def test_tracer_nests_on_a_thread_and_takes_explicit_parents():
    import threading
    tr = Tracer(True, "r1")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass

        def other():
            with tr.span("cb", parent=outer):
                pass
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == outer and by["cb"].parent == outer
    assert by["outer"].parent is None and inner == by["inner"].id
    assert {s.run_id for s in tr.spans} == {"r1"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "r2")
    with tr.span("x") as sid:
        assert sid is None
    assert tr.spans == []
