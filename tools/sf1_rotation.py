"""Rotating sf1 value-certification batches (verdict r7 #1).

Runs ``tools/diffcheck.py .derived/sf1`` over the next batch of
registry queries that have never been value-certified at the derived
sf1 point, then records passes in ``SF1_CERTIFIED.json`` (the
cumulative certified set; seeded from the r6/r7 passes recorded in
SCALING.md). Deterministic order (sorted uncertified names), so
consecutive rounds tile the registry with no clock involved.

Usage: python tools/sf1_rotation.py [N] [--tag rN] [--dry]
       python tools/sf1_rotation.py --harvest LOG [--tag rN]
       python tools/sf1_rotation.py --recheck [--force a,b] [--tag rN]
  N          batch size (default 40)
  --tag      round tag written for new passes (default derived from
             the highest BENCH_r*.json like bench.rotation_slice)
  --dry      print the batch and exit without running
  --harvest  parse an existing diffcheck log (e.g. from a detached
             nohup run) and record its ok/FAIL lines in the ledger
             instead of running anything — lets long batches run
             outside any caller timeout and be recorded afterwards
  --recheck  re-run every certified query whose content hash drifted
             from the ledger (stale certifications) and refresh the
             hash on pass — the repair path the pytest staleness
             gate (tests/test_sf1_cert_gate.py) points at. A pass
             bumps the entry's round tag: the tag records when the
             VALUE was last verified at sf1 (verdict r9 #2)
  --force    comma-separated query names to re-certify even if their
             hash is current (joins the --recheck batch)
  --point    scale point (default sf1): `--point sf10` runs against
             .derived/sf10 and reads/writes SF10_CERTIFIED.json —
             the heavy-tier ledger (verdict r11 #1). All modes
             (batch/--names/--recheck/--harvest) work
             per point
  --names    comma-separated explicit batch (instead of tiling the
             registry) — how the curated sf10 heavy list is run

Ledger format: {"certified": {name: roundTag}, "boundaries": {...},
"hashes": {name: contentHash}} — hashes via
hivetomysql_spark.certify.query_hash (fn source + oracle SQL +
py-oracle source + the sources of the package modules and module-local
helpers the query executes).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CERT_PATH = os.path.join(ROOT, "SF1_CERTIFIED.json")
SF1_DIR = os.path.join(ROOT, ".derived", "sf1")


def round_tag() -> str:
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    ]
    return f"r{(max(rounds) + 1) if rounds else 0}"


def main() -> int:
    global CERT_PATH, SF1_DIR
    args = [a for a in sys.argv[1:]]
    dry = "--dry" in args
    args = [a for a in args if a != "--dry"]
    tag = round_tag()
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    # --point sfN (r12, verdict r11 #1): the same rotation/recheck/
    # harvest machinery over a DIFFERENT derived scale point and its
    # own ledger — `--point sf10` reads/writes SF10_CERTIFIED.json
    # against .derived/sf10. The sf10 ledger is curated (the heavy/
    # iterative tier), not registry-tiling: pass --names or --harvest.
    point = "sf1"
    if "--point" in args:
        i = args.index("--point")
        point = args[i + 1]
        del args[i : i + 2]
        if not re.fullmatch(r"sf\d+", point):
            print(f"bad --point {point!r}")
            return 1
        CERT_PATH = os.path.join(
            ROOT, f"SF{point[2:]}_CERTIFIED.json"
        )
        SF1_DIR = os.path.join(ROOT, ".derived", point)
        if not os.path.exists(CERT_PATH):
            json.dump(
                {"certified": {}, "boundaries": {}, "hashes": {}},
                open(CERT_PATH, "w"),
                indent=1,
            )
    only_names: list[str] = []
    if "--names" in args:
        i = args.index("--names")
        only_names = [n for n in args[i + 1].split(",") if n]
        del args[i : i + 2]
    harvest = None
    if "--harvest" in args:
        i = args.index("--harvest")
        harvest = args[i + 1]
        del args[i : i + 2]
    recheck = "--recheck" in args
    force: list[str] = []
    if "--force" in args:
        i = args.index("--force")
        force = [n for n in args[i + 1].split(",") if n]
        del args[i : i + 2]
    args = [a for a in args if a != "--recheck"]

    state = json.load(open(CERT_PATH))
    certified = state["certified"]
    boundaries = state.setdefault("boundaries", {})
    hashes = state.setdefault("hashes", {})

    sys.path.insert(0, ROOT)
    from hivetomysql_spark.certify import registry_hashes

    current = registry_hashes()

    if harvest:
        out = open(harvest).read()
    else:
        import __spark_entry__ as entrymod

        if recheck:
            batch = sorted(
                set(
                    name
                    for name in certified
                    if hashes.get(name) != current.get(name)
                )
                | (set(force) & set(certified))
            )
            print(
                f"{point} recheck: {len(batch)} stale/forced of "
                f"{len(certified)} certified"
            )
        elif only_names:
            missing = sorted(set(only_names) - set(entrymod.queries()))
            if missing:
                print(f"--names not in registry: {missing}")
                return 1
            batch = sorted(only_names)
        else:
            n = int(args[0]) if args else 40
            todo = sorted(
                set(entrymod.queries()) - set(certified) - set(boundaries)
            )
            batch = todo[:n]
            print(
                f"{point} certification: {len(certified)} certified, "
                f"{len(boundaries)} boundary, {len(todo)} todo; "
                f"batch of {len(batch)}"
            )
        if not batch:
            return 0
        if dry:
            print("\n".join(batch))
            return 0
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "diffcheck.py"), SF1_DIR]
            + batch,
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        out = proc.stdout

    passed, failed = [], []
    for line in out.splitlines():
        # \s* (not \s+): historical logs printed 'ok(py)' at width 6,
        # leaving NO space before the name — accept both spacings so
        # old logs harvest correctly too
        m = re.match(r"^(ok\(py\)|ok\?|ok|FAIL)\s*(\S+):", line)
        if not m:
            continue
        # ok? is diffcheck's rows-only (no-oracle) verdict — do NOT
        # record it as a value certification
        if m.group(1) == "ok?":
            continue
        (passed if m.group(1).startswith("ok") else failed).append(
            m.group(2)
        )
        print(line)
    for name in passed:
        # a pass IS a fresh value-verification — bump the tag so the
        # ledger records when the value was last checked, not when it
        # was first certified (verdict r9 #2)
        certified[name] = tag
        # a fresh pass supersedes any recorded boundary (e.g. an
        # oracle-capacity limit that a later oracle rewrite removed)
        boundaries.pop(name, None)
        if name in current:
            hashes[name] = current[name]
    state["certified"] = dict(sorted(certified.items()))
    state["hashes"] = dict(sorted(hashes.items()))
    json.dump(state, open(CERT_PATH, "w"), indent=1)
    print(
        f"\n{len(passed)} newly certified ({tag}); "
        f"{len(failed)} FAILED: {failed or '-'}; "
        f"cumulative {len(certified)}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
