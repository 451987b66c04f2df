"""Steadiness check: run one workload with several seeds and report,
for each metric, the median and the quartile spread (distance between
the first and third quartile over the median).

    python3 perfbench/steady.py --workload analytics --seeds 1-5

Reads ``BENCHMARK.json`` for the command, run length and bounds, and
prints one JSON line per run and a summary table at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())
from perfbench.stats import median, spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("1-5"))
    args = ap.parse_args()
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(json.dumps({"seed": seed, "rc": proc.returncode, "stdout": lines[-2:], "stderr": proc.stderr[-800:]}))
            return 1
        rec = json.loads(lines[-1])
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "detail": json.loads(lines[-2]), **rec}), flush=True)
        for name, m in rec["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':40s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vals in values.items():
        s = spread(vals) if len(vals) >= 2 and median(vals) else float("nan")
        print(f"{name:40s} {median(vals):12.4f} {s:8.4f} {bounds.get(name, float('nan')):6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
