"""Tests for the benchmark's own helpers: python3 -m pytest perfbench -q"""

from __future__ import annotations

import pytest

import stats
from tracing import ROOT_SPAN, Interval, Span, layer_self_times


def test_nearest_rank_picks_the_ceiling_rank():
    assert stats.nearest_rank([3.0, 1.0], 0.5) == 1.0
    assert stats.nearest_rank([1.0, 2.0, 3.0, 4.0], 0.75) == 3.0
    assert stats.nearest_rank([5.0], 0.99) == 5.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 0.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 31)]  # 30 samples
    pct, val = stats.tail_percentile(values)
    # p66 -> rank 20, 10 samples beyond; p67 -> rank 21, only 9 beyond
    assert (pct, val) == (66, 20.0)
    assert sum(v > val for v in values) == 10


def test_tail_percentile_reaches_p90_at_one_hundred_samples():
    values = [float(i) for i in range(100)]
    assert stats.tail_percentile(values)[0] == 90


def test_tail_percentile_refuses_small_samples():
    assert stats.tail_percentile([1.0] * 19) is None
    assert stats.tail_percentile([float(i) for i in range(20)]) == (50, 9.0)


def test_sealing_release_follows_the_rate_source_phase():
    end = 1_000_000
    # chunk phase 300 ms: the chunk released at end + 300 holds rows
    # stamped end - 700 .. end + 250, so the window seals from it
    assert stats.sealing_release_ms(end, 300, 20) == end + 300
    assert stats.sealing_release_ms(end, end - 5_700, 20) == end + 300
    # phase 36 ms: that chunk's last row is stamped end - 14, so the sealing
    # row comes one chunk later
    assert stats.sealing_release_ms(end, 36, 20) == end + 1_036
    # a row stamped exactly at the window end starts the next chunk
    assert stats.sealing_release_ms(end, 0, 20) == end + 1_000
    assert stats.sealing_release_ms(end, 50, 20) == end + 50


def test_self_time_subtracts_the_union_of_children():
    # children overlap each other and stick out of the span: count once, clipped
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 5.0), (9.0, 12.0)]) == 5.0
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.union_length([(0.0, 1.0), (1.0, 2.0), (5.0, 5.0)]) == 2.0


def test_layer_self_times_account_for_the_wall():
    spans = [
        Span(ROOT_SPAN, 0.0, 10.0, None, 0),
        Span("session.get_spark", 0.0, 2.0, 0, 1),
        Span("exec.write_save", 3.0, 9.0, 0, 2),
        Span("bench.check", 9.0, 9.5, 0, 3),
    ]
    intervals = [
        Interval("catalyst", 3.0, 4.0),
        Interval("exec", 4.5, 7.0),
        Interval("exec", 6.0, 8.0),  # overlaps the first stage
    ]
    got = layer_self_times(spans, intervals)
    assert got["session"] == 2.0
    assert got["catalyst"] == 1.0
    assert got["exec"] == pytest.approx(3.5 + 1.5)  # stage union + write self
    assert got["bench"] == 0.5  # only the explicit bench.* span
    # time in no span at all is the root's own: the residual
    assert got[ROOT_SPAN] == pytest.approx(1.5)
    assert sum(got.values()) == pytest.approx(10.0)


def _metric(name, better="lower", bound=0.2):
    return {"name": name, "unit": "ms", "better": better, "bound": bound}


def test_compare_sets_accepts_agreeing_sets():
    a = {"op": [100.0, 101.0, 99.0, 100.0, 102.0]}
    b = {"op": [101.0, 100.0, 103.0, 99.0, 100.0]}
    (row,) = stats.compare_sets(a, b, [_metric("op")])
    assert row["ok"]


def test_compare_sets_flags_drift_and_spread():
    a = {"op": [100.0] * 4 + [101.0]}
    slower = {"op": [130.0] * 4 + [131.0]}
    (row,) = stats.compare_sets(a, slower, [_metric("op")])
    assert not row["ok"] and row["drift"] == pytest.approx(0.3)
    wide = {"op": [50.0, 100.0, 150.0, 100.0, 100.0]}
    (row,) = stats.compare_sets(a, wide, [_metric("op")])
    assert not row["ok"]
    # higher-is-better metrics drift the other way
    (row,) = stats.compare_sets(a, {"op": [80.0] * 5}, [_metric("op", better="higher")])
    assert row["drift"] == pytest.approx(0.2, abs=0.01)
    # setup_s is held to the spread rule like every other metric
    (row,) = stats.compare_sets({"setup_s": wide["op"]}, {"setup_s": wide["op"]},
                                [_metric("setup_s", bound=0.25)])
    assert not row["ok"]


def test_compare_sets_flags_a_much_faster_second_set():
    a = {"op": [100.0] * 4 + [101.0]}
    faster = {"op": [53.0] * 4 + [54.0]}
    (row,) = stats.compare_sets(a, faster, [_metric("op")])
    assert row["drift"] == pytest.approx(-0.47)
    assert not row["ok"]
    (row,) = stats.compare_sets(a, {"op": [85.0] * 5}, [_metric("op")])
    assert row["ok"]  # 15% faster stays within the 0.2 bound
