"""Pin bench.py's driver-facing stdout contract (verdict r13 #1/#5/#6).

The driver captures only a stdout TAIL and parses the LAST line as the
round's bench record. r13's last line omitted the per-query map, which
silently emptied the driver's round-over-round per_query and scaling
comparisons. These tests are pure-Python (no Spark): they pin that the
final summary carries the headline per-query map, stays small enough
to survive a tail capture, and that a low-core run never clobbers the
main BENCH_LOCAL.json record.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _fake_payload(n_queries: int = 57) -> dict:
    queries = {f"query_{i:03d}": round(0.1 + i * 0.013, 3) for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 32,
        "rotation": {"index": 14, "queries": {"rot_a": 0.5, "rot_b": 0.7}},
        "calib": {
            "start": {"py_sha_sec": 0.02, "jvm_sum_sec": 0.08},
            "end": {"py_sha_sec": 0.02, "jvm_sum_sec": 0.08},
        },
        "jvm_probe_geomean": 0.08,
        "queries_normalized": {k: round(v / 0.08, 2) for k, v in queries.items()},
        "attempt": 1,
        "attempts": 1,
        "probe_disagreement": 1.0,
        "contention_crossed": False,
    }


def test_summary_carries_headline_per_query_map():
    payload = _fake_payload()
    summary = bench.compact_summary(payload)
    assert summary["queries"] == payload["queries"]
    assert summary["n_headline"] == 57
    # additions-only contract: every field the r13 driver read is present
    for key in (
        "metric",
        "value",
        "unit",
        "sf",
        "n_headline",
        "rotation_index",
        "n_rotation",
        "attempts",
        "probe_disagreement",
        "contention_crossed",
    ):
        assert key in summary, key


def test_summary_line_fits_a_tail_capture():
    # 57 queries with 3-decimal floats must stay well under the
    # multi-kB tail the driver keeps (r13's surviving line was ~350 B;
    # the r13 tail retained >4 kB of the payload line before it).
    line = json.dumps(bench.compact_summary(_fake_payload()))
    assert len(line) < 4096
    # and it round-trips as one JSON object
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert len(parsed["queries"]) == 57


def test_rotation_detail_stays_out_of_the_summary():
    summary = bench.compact_summary(_fake_payload())
    assert "rotation" not in summary
    assert summary["n_rotation"] == 2
    assert summary["detail"] == "BENCH_LOCAL.json"


def test_low_core_record_name_never_clobbers_main():
    assert bench.local_record_name(32) == "BENCH_LOCAL.json"
    assert bench.local_record_name(8) == "BENCH_LOCAL_c8.json"
    assert bench.local_record_name(4) == "BENCH_LOCAL_c4.json"


def test_emit_writes_low_core_record_beside_script(tmp_path, monkeypatch, capsys):
    payload = _fake_payload()
    payload["cpus"] = 8
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p: str(tmp_path)
    )
    bench.emit_record_and_summary(payload)
    assert (tmp_path / "BENCH_LOCAL_c8.json").exists()
    assert not (tmp_path / "BENCH_LOCAL.json").exists()
    out_lines = capsys.readouterr().out.strip().splitlines()
    parsed = json.loads(out_lines[-1])
    assert parsed["queries"] == payload["queries"]
    assert parsed["cpus"] == 8


def test_zero_probe_skips_normalization_instead_of_raising():
    timings = {"q1": 1.2, "q2": 0.4}
    for start, end in ((0.0, 0.08), (0.08, 0.0), (0.0, 0.0)):
        calib = {"start": {"jvm_sum_sec": start}, "end": {"jvm_sum_sec": end}}
        assert bench.normalize_by_probe(timings, calib) == (0.0, None)
    calib = {"start": {"jvm_sum_sec": 0.08}, "end": {"jvm_sum_sec": 0.08}}
    norm, normalized = bench.normalize_by_probe(timings, calib)
    assert norm == pytest.approx(0.08)
    assert normalized == {"q1": 15.0, "q2": 5.0}
