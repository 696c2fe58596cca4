"""Pure-python tests for bench.py helpers (no Spark session): the
sustained-rate computation feeding the curation metrics must read
StreamingQuery progress correctly — a wrong denominator would
silently misreport the docs/s."""

from __future__ import annotations

import importlib.util
from pathlib import Path


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FakeQuery:
    def __init__(self, batches):
        # batches: list of (rows, trigger_ms)
        self.recentProgress = [
            {"numInputRows": r, "durationMs": {"triggerExecution": ms}}
            for r, ms in batches
        ]


def test_sustained_rate_drops_first_batch_and_takes_slowest():
    bench = _bench()
    fast = _FakeQuery([(1000, 2000), (1000, 100), (1000, 100)])  # 10k/s steady
    slow = _FakeQuery([(1000, 2000), (1000, 200), (1000, 200)])  # 5k/s steady
    assert bench._sustained_rate([fast, slow]) == 5000.0


def test_sustained_rate_ignores_empty_batches_and_single_batch_runs():
    bench = _bench()
    # empty batches (0 rows) are excluded before the first-batch drop
    q = _FakeQuery([(0, 50), (1000, 2000), (0, 50), (2000, 500), (0, 50)])
    assert bench._sustained_rate([q]) == 4000.0
    # a single-batch run can't show a steady state; it falls back to
    # that batch rather than dividing by zero
    single = _FakeQuery([(1000, 500)])
    assert bench._sustained_rate([single]) == 2000.0
    assert bench._sustained_rate([_FakeQuery([])]) == 0.0


def test_cpu_window_pcts_computes_steal_over_the_window():
    import bench

    # fields: user nice system idle iowait irq softirq steal guest gnice
    start = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    end = [200, 0, 100, 1300, 20, 0, 0, 80, 0, 0]
    got = bench._cpu_window_pcts(start, end)
    # deltas: user 100, sys 50, idle 500, iowait 10, steal 40 -> tot 700
    assert got["window_steal_pct"] == round(40 / 700 * 100, 2)
    assert got["window_idle_pct"] == round(500 / 700 * 100, 2)
    assert got["window_iowait_pct"] == round(10 / 700 * 100, 2)


def test_cpu_window_pcts_handles_missing_snapshots():
    import bench

    assert bench._cpu_window_pcts(None, [1] * 10) == {}
    assert bench._cpu_window_pcts([1] * 10, None) == {}


def test_parallel_probe_runs_the_same_loop_everywhere():
    import bench

    assert bench._probe_loop() == 199999990000000
