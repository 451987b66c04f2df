"""Summary statistics, metric names and the result-record schema. No
Spark."""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import stats
from perfbench.workloads import per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_is_max_below_twenty_samples():
    assert stats.tail([0.5, 3.0, 1.0]) == (3.0, 100)
    assert stats.tail([2.0]) == (2.0, 100)


def test_tail_keeps_ten_samples_beyond():
    vals = list(range(1, 101))  # 1..100
    value, pct = stats.tail(vals)
    assert sum(v > value for v in vals) == 10
    assert (value, pct) == (90.0, 90)
    value, pct = stats.tail(list(range(20)))
    assert sum(v > value for v in range(20)) == 10 and pct == 50


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def _record(**metrics):
    return {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def test_validate_record_accepts_a_good_record():
    stats.validate_record(_record(pass_s=1.5, setup_s=2.0), {"pass_s", "setup_s"})


@pytest.mark.parametrize("mutate", [
    lambda r: r.pop("failed"),
    lambda r: r.update(extra=1),
    lambda r: r.update(attempted=0),
    lambda r: r.update(failed=4),
    lambda r: r.update(correct="yes"),
    lambda r: r["metrics"]["pass_s"].update(value=float("nan")),
    lambda r: r["metrics"]["pass_s"].update(value=True),
    lambda r: r["metrics"]["pass_s"].update(unit="sec onds"),
    lambda r: r["metrics"]["pass_s"].update(bound=0.1),
    lambda r: r["metrics"].update({"bad name": {"value": 1.0, "unit": "s"}}),
])
def test_validate_record_rejects(mutate):
    rec = _record(pass_s=1.5)
    mutate(rec)
    with pytest.raises(ValueError):
        stats.validate_record(rec)


def test_validate_record_checks_metric_set():
    with pytest.raises(ValueError):
        stats.validate_record(_record(pass_s=1.0), {"pass_s", "setup_s"})


def test_metric_names_are_well_formed():
    units = per_layer_units()
    for name, unit in units.items():
        assert stats.NAME_RE.fullmatch(name), name
        assert stats.UNIT_RE.fullmatch(unit), unit
    assert units["sinks.rows_per_s"] == "rows/s"
    assert units["queries.build_jobs"] == "count"
    assert units["spark.run_s"] == "s"


def test_benchmark_json_matches_the_code():
    from perfbench.run import END_TO_END
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]
    ]
    assert len(names) == len(set(names))
    assert all(stats.NAME_RE.fullmatch(n) for n in names)


def test_unstolen_leaves_out_only_stolen_time():
    from perfbench.trace import Unstolen, cpu_ticks

    busy, stolen = cpu_ticks()
    assert busy > 0 and stolen >= 0
    with Unstolen() as clock:
        sum(range(200_000))
    assert clock.wall > 0 and 0.0 <= clock.stolen_share <= 1.0
    assert clock.seconds == pytest.approx(clock.wall * (1 - clock.stolen_share))
