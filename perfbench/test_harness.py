"""Tests for the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import types

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from harness import Recorder, min_samples, percentile, quartile_spread  # noqa: E402
from spans import PACKAGE, Span, Tracer, covered, layer_self_times  # noqa: E402


# ------------------------------------------------------------ sample floor
@pytest.mark.parametrize("q, floor", [(90, 100), (75, 40), (99, 1000)])
def test_tail_percentile_needs_ten_samples_beyond_it(q, floor):
    assert min_samples(q) == floor
    assert percentile([float(i) for i in range(floor - 1)], q) is None
    xs = [float(i) for i in range(floor)]
    got = percentile(xs, q)
    assert got is not None
    assert sum(1 for x in xs if x > got) == 10


def test_median_is_reported_from_one_sample_and_uses_nearest_rank():
    assert min_samples(50) == 1
    assert percentile([], 50) is None
    assert percentile([3.0], 50) == 3.0
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.0


def test_quartile_spread_matches_statistics_quantiles():
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


# ------------------------------------------------------------ self time
class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def test_self_time_subtracts_children_not_grandchildren():
    clock = FakeClock()
    t = Tracer(clock=clock)
    t.phase = "run"
    with t.span("engine"):            # 0 .. 10
        clock.now = 1.0
        with t.span("index"):         # 1 .. 4
            clock.now = 2.0
            with t.span("parse"):     # 2 .. 3
                clock.now = 3.0
            clock.now = 4.0
        clock.now = 6.0
        with t.span("index"):         # 6 .. 7
            clock.now = 7.0
        clock.now = 10.0
    st = t.self_times()
    assert st["engine"] == pytest.approx((6.0, 1))    # 10 - (3 + 1)
    assert st["index"] == pytest.approx((3.0, 2))     # (3 - 1) + 1
    assert st["parse"] == pytest.approx((1.0, 1))


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        Span("parent", 0.0, 10.0, -1, 0, "run"),
        Span("a", 1.0, 3.0, 0, 0, "run"),
        Span("b", 2.0, 5.0, 0, 0, "run"),     # overlaps a
        Span("c", 9.0, 12.0, 0, 0, "run"),    # runs past the parent
    ]
    assert covered([(1.0, 3.0), (2.0, 5.0), (9.0, 12.0)], 0.0, 10.0) == pytest.approx(5.0)
    assert layer_self_times(spans)["parent"] == pytest.approx((5.0, 1))


def test_self_times_filter_by_phase():
    spans = [Span("x", 0.0, 1.0, -1, 0, "setup"), Span("x", 0.0, 2.0, -1, 0, "run")]
    assert layer_self_times(spans, "run")["x"] == pytest.approx((2.0, 1))
    assert layer_self_times(spans, None)["x"] == pytest.approx((3.0, 2))


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        t.add("n")
    assert t.spans == [] and dict(t.counters) == {}


def test_instrument_patches_importers_and_restores():
    owner = types.ModuleType(f"{PACKAGE}._bench_test_owner")
    user = types.ModuleType(f"{PACKAGE}._bench_test_user")

    def f(x):
        return x + 1

    owner.f = f
    user.f = f  # as ``from owner import f`` would leave it
    sys.modules[owner.__name__] = owner
    sys.modules[user.__name__] = user
    seen = []
    try:
        t = Tracer()
        t.instrument(owner, "f", "layer.f", lambda args, kw, r: seen.append(r))
        assert user.f(1) == 2 and owner.f(2) == 3
        assert [s.name for s in t.spans] == ["layer.f", "layer.f"]
        assert seen == [2, 3]
        t.restore()
        assert owner.f is f and user.f is f
    finally:
        del sys.modules[owner.__name__], sys.modules[user.__name__]


def test_instrument_wraps_classmethods():
    class C:
        @classmethod
        def make(cls, v):
            return cls, v

    t = Tracer()
    t.instrument(C, "make", "layer.make")
    assert C.make(5) == (C, 5)
    assert [s.name for s in t.spans] == ["layer.make"]
    t.restore()
    assert C.make(6) == (C, 6) and len(t.spans) == 1


# ------------------------------------------------------------ failures
def test_planted_wrong_result_counts_as_failed_op():
    rec = Recorder()
    want = oracle.canonical(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))

    def check(got):
        return oracle.mismatch(oracle.canonical(got), want)

    rec.op("read", lambda: pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]}), check)
    assert rec.failed == 0
    rec.op("read", lambda: pd.DataFrame({"k": [1, 2], "v": [0.5, 9.5]}), check)
    assert rec.attempted == 2 and rec.failed == 1 and rec.completed == 1
    assert len(rec.samples["read"]) == 2          # the wrong result was still timed
    assert "wrong result" in rec.problems[0]


def test_exception_counts_as_failed_op_without_a_sample():
    rec = Recorder()

    def boom():
        raise RuntimeError("planted")

    assert rec.op("write", boom) is None
    assert rec.attempted == 1 and rec.failed == 1
    assert rec.samples["write"] == []
    assert "planted" in rec.problems[0]


def test_ops_advance_the_tracer_op_id():
    t = Tracer()
    rec = Recorder(tracer=t)

    def traced():
        with t.span("layer"):
            return 1

    rec.op("read", traced)
    rec.work("prefetch", traced)
    rec.op("read", traced)
    assert [s.op for s in t.spans] == [0, 1, 2]


def test_inline_work_adds_busy_time_but_not_ops():
    clock = FakeClock()
    rec = Recorder(clock=clock)

    def step(dt):
        clock.now += dt

    rec.op("read", lambda: step(1.0))
    rec.work("prefetch", lambda: step(3.0))
    assert rec.attempted == 1 and rec.busy == pytest.approx(4.0)
    assert rec.ops_per_s() == pytest.approx(0.25)


def test_oracle_tolerates_float_noise_but_not_row_changes():
    a = oracle.canonical(pd.DataFrame({"s": [100_000_000.123456], "n": [3]}))
    b = oracle.canonical(pd.DataFrame({"s": [100_000_000.123457], "n": [3]}))
    assert oracle.mismatch(a, b) is None
    c = oracle.canonical(pd.DataFrame({"s": [100_000_000.123456, 1.0], "n": [3, 4]}))
    assert oracle.mismatch(a, c).startswith("rows")


def test_failures_found_outside_ops_count_in_fail_ratio():
    rec, warm = Recorder(), Recorder()
    rec.op("read", lambda: 1)
    warm.op("read", lambda: 1, check=lambda _r: "planted")
    warm.op("read", lambda: 1)
    rec.absorb_failures(warm)
    rec.fail("final table differs")
    # the warm-up's completed op stays out; its failed op and the final
    # check's mismatch each count as an attempted, failed op
    assert rec.attempted == 3 and rec.failed == 2 and rec.completed == 1
    assert "warm-up read: wrong result: planted" in rec.problems[0]
    assert rec.problems[1] == "final table differs"
