"""Rotating non-headline differential artifact (verdict r12 #7).

The driver's CORRECTNESS sample has drawn the SAME 50 query names
three rounds running, and the builder's full-registry differentials
live as prose in SCALING.md — neither is a diffable per-round
artifact over the rest of the registry. This tool mirrors the bench
rotation: each round it diffchecks a deterministic WINDOW_SIZE-query
window of the NON-headline registry at sf0.01 (the driver's own
oracle scale) and persists pass/fail + value hashes + per-query
content hashes to ``diff_rotation.json``. The staleness gate
(tests/test_diff_rotation_gate.py) fails when a recorded query's
body/oracle has been edited since the artifact was generated, when
the window doesn't match the deterministic slice for its recorded
round index, or when the artifact records any failure — so a stale
or red artifact can never ride silently into a round snapshot.

The round index derives from the highest ``BENCH_r{N}.json`` the
driver has recorded (stable within a round, +1 per round — the same
derivation bench.py uses), so the window advances every round and
every non-headline query gets a fresh value-level differential
within ~9 rounds.

Usage: python tools/diff_rotation.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from hivetomysql_spark.certify import registry_hashes  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

ARTIFACT = os.path.join(ROOT, "diff_rotation.json")
WINDOW_SIZE = 50


def window(all_names) -> tuple[int, list[str]]:
    """Deterministic per-round window over the non-headline registry
    — bench.rotation_slice with a separate window size, so the
    differential and timing rotations cover the tail on independent
    schedules."""
    return bench.rotation_slice(all_names, size=WINDOW_SIZE)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sorted(entrymod.queries())
    idx, win = window(names)
    print(f"round index {idx}: diffing {len(win)} non-headline queries "
          f"at {sf_dir}")
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        tmp = tf.name
    # subprocess so the differential runs exactly what a fresh driver
    # process would import (no half-reloaded module state from the
    # caller), and so Spark/DuckDB teardown can't leak into ours
    rc = subprocess.call(
        [sys.executable, os.path.join(ROOT, "tools", "diffcheck.py"),
         sf_dir, *win, "--json", tmp],
        cwd=ROOT,
    )
    results = json.load(open(tmp))["results"]
    os.unlink(tmp)
    hashes = registry_hashes()
    artifact = {
        "round_index": idx,
        "sf_dir": sf_dir,
        "window_size": WINDOW_SIZE,
        "n_pass": sum(1 for r in results.values() if r.get("pass")),
        "n_fail": sum(1 for r in results.values() if not r.get("pass")),
        "results": results,
        # content hash of each checked query (fn source + oracle +
        # operator closure, hivetomysql_spark.certify) — the gate
        # recomputes these and fails on drift
        "hashes": {n: hashes[n] for n in win if n in hashes},
    }
    with open(ARTIFACT, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"{artifact['n_pass']}/{len(win)} pass -> {ARTIFACT}")
    return 1 if artifact["n_fail"] else rc


if __name__ == "__main__":
    raise SystemExit(main())
