"""The shared timing core (``tools/timing.py``) that bench.py and the
query-timing tools call: min-of-N, the interleaved A/B arms with conf
restore, the probed-pass attempt loop, and bench.py's timing pass on
top of them. Host probes and the clock are stubbed, so no test depends
on how fast this host is."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools import timing  # noqa: E402


def test_best_of_returns_min_and_calls_run_reps_times(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(timing, "perf_counter", lambda: clock[0])
    spans = iter([3.0, 1.0, 2.0])
    calls = []

    def run():
        calls.append(1)
        clock[0] += next(spans)

    assert timing.best_of(run, 3) == 1.0
    assert len(calls) == 3


class _StubConf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _StubSpark:
    def __init__(self, values):
        self.conf = _StubConf(values)
        self.descriptions = []
        self.sparkContext = self

    def setJobDescription(self, desc):
        self.descriptions.append(desc)


def test_ab_alternates_first_arm_and_restores_confs():
    key = "spark.sql.shuffle.partitions"
    spark = _StubSpark({key: "200"})
    arms = {"A": {}, "B": {key: "8", "spark.test.unset_by_default": "x"}}
    seen = []

    def run():
        seen.append((spark.descriptions[-1], spark.conf.get(key)))

    best = timing.ab(spark, arms, run, 2, "q")
    assert seen == [("q[A]", "200"), ("q[B]", "8"), ("q[B]", "8"), ("q[A]", "200")]
    assert set(best) == {"A", "B"}
    assert spark.conf.values == {key: "200"}
    assert spark.descriptions[-1] is None

    def raising():
        seen.append(spark.conf.get(key))
        if len(seen) == 3:
            raise RuntimeError("query failed mid-rep")

    seen.clear()
    with pytest.raises(RuntimeError):
        timing.ab(spark, arms, raising, 2, "q")
    assert seen == ["200", "8", "8"]
    assert spark.conf.values == {key: "200"}
    assert spark.descriptions[-1] is None


def _stub_probes(monkeypatch, jvm_secs, events=None):
    """``calibrate`` returns the next JVM probe reading from
    ``jvm_secs`` (the SHA probe stays 1.0) and logs "probe"."""
    readings = iter(jvm_secs)

    def calibrate(_spark):
        if events is not None:
            events.append("probe")
        return {"py_sha_sec": 1.0, "jvm_sum_sec": next(readings)}

    monkeypatch.setattr(timing, "calibrate", calibrate)


def test_probed_keeps_cleanest_attempt(monkeypatch):
    warmed = []
    monkeypatch.setattr(timing, "warm_up", lambda _s, d: warmed.append(d))
    # start/end JVM probes per attempt: 2.0x, 1.6x, 1.8x — all crossed
    _stub_probes(monkeypatch, [1.0, 2.0, 1.0, 1.6, 1.0, 1.8])
    n = iter(range(1, 10))
    rec = timing.probed(
        None, "sf", lambda: timing.probed_pass(None, lambda: {"pass": next(n)}), 3
    )
    assert warmed == ["sf"]
    assert rec["pass"] == 2 and rec["attempt"] == 2
    assert rec["probe_disagreement"] == 1.6
    assert rec["calib"] == {
        "start": {"py_sha_sec": 1.0, "jvm_sum_sec": 1.0},
        "end": {"py_sha_sec": 1.0, "jvm_sum_sec": 1.6},
    }
    assert rec["attempts"] == 3
    assert rec["contention_crossed"] is True

    # an attempt whose probes agree ends the loop and is kept
    _stub_probes(monkeypatch, [1.0, 2.0, 1.0, 1.2, 1.0, 1.0])
    n = iter(range(1, 10))
    rec = timing.probed(
        None, "sf", lambda: timing.probed_pass(None, lambda: {"pass": next(n)}), 3
    )
    assert rec["pass"] == 2 and rec["attempts"] == 2
    assert rec["contention_crossed"] is False


def test_bench_timing_pass_counts_runs_and_probes(spark, monkeypatch):
    events = []
    _stub_probes(monkeypatch, [1.0, 1.0], events)

    def query(name):
        def build(spark_, sf_dir):
            events.append(name)
            return spark_.range(1)

        return build

    tail = ["tail_a", "tail_b"]
    qmap = {name: query(name) for name in [*bench.HEADLINE, *tail]}
    payload = bench.timing_pass(spark, qmap, "unused", 0.01)

    assert events[0] == events[-1] == "probe"
    runs = Counter(events)
    assert runs.pop("probe") == 2
    assert runs == {**dict.fromkeys(bench.HEADLINE, 3), **dict.fromkeys(tail, 2)}
    assert set(payload["queries"]) == set(bench.HEADLINE)
    assert set(payload["rotation"]["queries"]) == set(tail)
    assert payload["probe_disagreement"] == 1.0
    assert payload["jvm_probe_geomean"] == 1.0
