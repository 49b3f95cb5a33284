"""Self-enforcing performance-regression gate (VERDICT r3 #7).

The reference ships a JSON-baseline perf tracker with time gates as
pytest ``performance`` marks (reference:
tests/shared/builders/performance_test_base.py:337-355,424-470); this
is the Spark-side equivalent, adapted to this host's noise rule
(BENCH.md rule 5): bursty hypervisor CPU steal can multiply wall-clock
by >2x, so every measurement is best-of-3 with per-run /proc/stat
steal readings, and the gate SKIPS (never flaps) when even the best
run's window was stolen. The baseline lives in
``tests/perf_baseline.json``; re-baseline deliberately, in a clean
window, when a real optimization lands.

The gate decision is a pure function (``gate_verdict``) so its three
outcomes — pass, fail on a planted slowdown, skip in a stolen window —
are unit-tested without burning bench minutes.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from bench import _steal_sec, _steal_ticks

_HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(_HERE, "perf_baseline.json")) as _fh:
    BASELINE = json.load(_fh)


def gate_verdict(best_sec: float, best_steal_sec: float,
                 baseline_sec: float,
                 max_ratio: float = BASELINE["max_ratio"],
                 steal_skip_sec: float = BASELINE["steal_skip_sec"],
                 ) -> str:
    """'pass' | 'fail' | 'skip' for one measured query.

    skip beats fail: a stolen window proves nothing about the code."""
    if best_steal_sec > steal_skip_sec:
        return "skip"
    return "pass" if best_sec <= baseline_sec * max_ratio else "fail"


def _best_of_3(fn) -> tuple[float, float]:
    best, best_steal = None, None
    for _ in range(3):
        t0, s0 = time.time(), _steal_ticks()
        fn()
        el = time.time() - t0
        st = _steal_sec(s0)
        if best is None or el < best:
            best, best_steal = el, st
    return best, best_steal


@pytest.mark.performance
@pytest.mark.parametrize("name", sorted(BASELINE["queries"]))
def test_query_within_baseline(spark, name):
    import __spark_entry__ as entry_mod

    # hypervisor steal is measured per run below, but LOCAL contention
    # (another pytest/bench on this box) is invisible to /proc/stat
    # col 9 — guard on load average before spending the measurement
    load_ratio = os.getloadavg()[0] / (os.cpu_count() or 1)
    if load_ratio > BASELINE.get("load_skip_ratio", 0.5):
        pytest.skip(f"machine busy (1-min load ratio {load_ratio:.2f})"
                    " — wall-clock would measure contention, not code")

    q = entry_mod.queries()[name]
    sf_dir = BASELINE["sf_dir"]
    q(spark, sf_dir).collect()  # warmup (plan/codegen cache)
    best, steal = _best_of_3(lambda: q(spark, sf_dir).collect())
    verdict = gate_verdict(best, steal, BASELINE["queries"][name])
    if verdict == "skip":
        pytest.skip(f"stolen window ({steal:.2f}s steal in best run) — "
                    "measurement proves nothing")
    assert verdict == "pass", (
        f"{name}: best-of-3 {best:.3f}s > baseline "
        f"{BASELINE['queries'][name]}s x {BASELINE['max_ratio']} "
        f"(steal {steal:.2f}s — clean window, regression is real)")


class TestGateLogic:
    """The three outcomes, pinned without timing anything."""

    def test_planted_2x_slowdown_fails(self):
        assert gate_verdict(2.0, 0.0, 1.0) == "fail"

    def test_at_baseline_passes(self):
        assert gate_verdict(1.0, 0.0, 1.0) == "pass"
        # headroom: anything under max_ratio passes
        assert gate_verdict(BASELINE["max_ratio"] - 0.01, 0.0, 1.0) == \
            "pass"

    def test_stolen_window_skips_even_when_slow(self):
        assert gate_verdict(10.0, 5.0, 1.0) == "skip"
