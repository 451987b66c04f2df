"""Full-registry timing sweep: run EVERY registered query at one
scale factor against the noop sink and persist per-query wall time.

Usage: python tools/registry_sweep.py [--sf-dir DIR] [--out FILE]
                                      [--baseline FILE] [--ratio R]

The r7 sweep (SCALING.md "first FULL-registry timing sweep") caught
a cluster of constant-factor defects the headline bench never sees,
but persisted only prose — so per-query drift could hide for rounds
(VERDICT r11 "Next round" #5).  This tool makes the sweep a
repeatable artifact: it writes ``registry_sweep.json`` with one
entry per query, and when a previous sweep file is supplied (or
already present) it prints every query whose time moved by more
than ``--ratio`` (default 2.0) in either direction, so the
once-per-round run is a one-line diff instead of an archaeology
session.

Noise note: a single-pass sweep on a shared host jitters; the
comparison therefore ignores sub-300 ms queries (where scheduler
noise dominates) and re-measures flagged queries min-of-3 before
reporting them, so what it prints is worth investigating.  Rounds
also land on containers of very different speed, so the sweep
records the ``tools.timing.calibrate`` host probes — taken after the
shared compiler warm-up (``tools.timing.warm_up``), at the start and
end of the sweep, with their ``probe_disagreement`` and
``contention_crossed`` (> ``PROBE_AGREEMENT``) stamped into the
record — and scales the baseline by the start JVM-probe ratio before
computing drift, so a uniformly slower host cancels out instead of
flagging the whole registry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from time import perf_counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hivetomysql_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from tools.timing import best_of, consume, probed, probed_pass, timed  # noqa: E402

FLOOR_SEC = 0.3  # below this, scheduler noise dominates single runs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="registry_sweep.json")
    ap.add_argument("--baseline", default=None,
                    help="prior sweep JSON to diff against "
                         "(default: --out if it exists)")
    ap.add_argument("--ratio", type=float, default=2.0)
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    baseline = None
    base_path = args.baseline or (args.out if os.path.exists(args.out) else None)
    if base_path and os.path.exists(base_path):
        with open(base_path) as f:
            baseline = json.load(f)

    spark = get_spark(app_name="registry_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()

    def run(name):
        return lambda: consume(qmap[name](spark, args.sf_dir))

    def sweep() -> dict:
        times: dict[str, float] = {}
        errs: dict[str, str] = {}
        for i, name in enumerate(sorted(qmap)):
            try:
                times[name] = round(timed(run(name))[1], 3)
            except Exception as e:  # noqa: BLE001 - record and continue
                errs[name] = f"{type(e).__name__}: {e}"[:300]
            if (i + 1) % 50 == 0:
                print(f"  ... {i + 1}/{len(qmap)} ({perf_counter() - t0:.0f}s)",
                      flush=True)
        return {"queries": times, "errors": errs}

    # shared compiler warm-up, then start probe / sweep / end probe.
    # One attempt: a contention-crossed sweep is stamped as such
    # rather than re-run, which would double an ~8 min tool.
    t0 = perf_counter()
    rec = probed(spark, args.sf_dir, lambda: probed_pass(spark, sweep), 1)
    times, errs, calib = rec["queries"], rec["errors"], rec["calib"]["start"]

    # host-speed normalization: queries are predominantly JVM-side,
    # so scale the baseline's times by the JVM probe ratio before
    # computing drift — a uniformly slower container then cancels
    # out instead of flagging all 477 queries at once
    host_scale = 1.0
    if baseline and baseline.get("calib", {}).get("jvm_sum_sec"):
        host_scale = calib["jvm_sum_sec"] / baseline["calib"]["jvm_sum_sec"]
        print(f"host-speed scale vs baseline: {host_scale:.2f}x "
              f"(jvm probe {baseline['calib']['jvm_sum_sec']}s -> "
              f"{calib['jvm_sum_sec']}s)")

    flagged = []
    if baseline:
        prior = baseline.get("queries", {})
        for name, sec in times.items():
            old = prior.get(name)
            if old is None:
                continue
            old_scaled = old * host_scale
            if max(old_scaled, sec) < FLOOR_SEC:
                continue
            ratio = sec / old_scaled if old_scaled else float("inf")
            if ratio > args.ratio or ratio < 1.0 / args.ratio:
                # re-measure min-of-3 before crying wolf
                best = best_of(run(name), 3)
                ratio = best / old_scaled if old_scaled else float("inf")
                times[name] = round(best, 3)
                if ratio > args.ratio or ratio < 1.0 / args.ratio:
                    flagged.append(
                        (name, round(old_scaled, 3), times[name],
                         round(ratio, 2)))

    # computed AFTER the flagged-query re-measure loop above, which
    # mutates times[name] — so total_sec always equals the sum of
    # the persisted per-query times (ADVICE r12)
    total = round(sum(times.values()), 1)

    out = {
        "sf_dir": args.sf_dir,
        "tag": args.tag,
        "n_queries": len(times),
        "total_sec": total,
        "calib": calib,
        "calib_end": rec["calib"]["end"],
        "probe_disagreement": rec["probe_disagreement"],
        "contention_crossed": rec["contention_crossed"],
        "queries": times,
        "errors": errs,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"swept {len(times)} queries in {perf_counter() - t0:.0f}s "
          f"(sum of query time {total}s) -> {args.out}")
    if errs:
        print(f"ERRORS ({len(errs)}):")
        for name, msg in errs.items():
            print(f"  {name}: {msg}")
    if baseline:
        if flagged:
            print(f"DRIFT >{args.ratio}x vs {base_path} "
                  f"({len(flagged)} queries, min-of-3 confirmed, "
                  f"baseline host-scaled):")
            for name, old, new, ratio in sorted(
                    flagged, key=lambda r: -r[3]):
                print(f"  {name:40s} {old:8.3f} -> {new:8.3f}  {ratio}x")
        else:
            print(f"no per-query drift >{args.ratio}x vs {base_path} "
                  f"(floor {FLOOR_SEC}s)")
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
