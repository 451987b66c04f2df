"""Build every query whose certificate hash differs between REV and the
working tree, on both trees, and compare what each one plans and
returns.

For each such query, each side records at the given scale point
(sf0.01 test tables in ``plan_value_compare.txt``):

* the order-insensitive value hash of the Spark output
  (``tools/diffcheck.table_hash``) and of its DuckDB oracle;
* ``count_shuffles`` and ``count_roundrobin`` of the physical plan;
* the number of broadcast joins (hash and nested-loop) and of
  sort-merge joins in it.

The change passes when no value hash differs from the parent's or
from the oracle's, no exchange count is higher than the parent's and
no broadcast join is lost. REV is unpacked with ``git archive`` into a
temporary directory; both trees run in their own Python process.

Usage: python plans/r21/plan_value_compare.py REV SF_DIR [--json OUT]
Exit 1 on any failed check.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SELF = os.path.abspath(__file__)
_HASHES = (
    "import json, sys; sys.path.insert(0, '.');"
    "from hivetomysql_spark.certify import registry_hashes;"
    "print(json.dumps(registry_hashes()))"
)


def measure(tree: str, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Build ``names`` from the package in ``tree`` (the current
    working directory) and record values and plan shape."""
    sys.path[:0] = [tree, os.path.join(tree, "tools")]
    import duckdb
    from diffcheck import table_hash

    import __spark_entry__ as entrymod
    from hivetomysql_spark.plans import introspect as I
    from hivetomysql_spark.session import get_spark
    from hivetomysql_spark.tables import TABLE_NAMES

    spark = get_spark(app_name="r21-compare", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qmap, omap = entrymod.queries(), entrymod.oracle_sql()
    out = {}
    for name in names:
        try:
            df = qmap[name](spark, sf_dir)
            simple = I.physical_plan(df, "simple")
            rec = {
                "value": table_hash(df.collect(), df.columns),
                "shuffles": I.count_shuffles(df),
                "roundrobin": I.count_roundrobin(df),
                "broadcast_joins": len(
                    re.findall(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b", simple)
                ),
                "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", simple)),
            }
            if name in omap:
                rel = con.sql(omap[name])
                rec["oracle"] = table_hash(rel.fetchall(), list(rel.columns))
        except Exception as e:  # noqa: BLE001
            rec = {"error": f"{type(e).__name__}: {e}"[:300]}
        out[name] = rec
        print(name, rec, file=sys.stderr, flush=True)
    spark.stop()
    return out


def _run_measure(tree: str, sf_dir: str, names: list[str]) -> dict[str, dict]:
    with tempfile.NamedTemporaryFile("r", suffix=".json") as f:
        subprocess.run(
            [sys.executable, SELF, "--measure", tree, sf_dir, f.name, *names],
            cwd=tree, check=True, stdout=subprocess.DEVNULL,
        )
        return json.load(open(f.name))


def main() -> int:
    argv = sys.argv[1:]
    if argv[0] == "--measure":
        tree, sf_dir, out_path, *names = argv[1:]
        os.chdir(tree)
        json.dump(measure(tree, sf_dir, names), open(out_path, "w"))
        return 0
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    rev = argv[0]
    sf_dir = argv[1]
    parent = tempfile.mkdtemp(prefix="r21-parent-")
    archive = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)

    def hashes(tree):
        return json.loads(
            subprocess.run(
                [sys.executable, "-c", _HASHES], cwd=tree, check=True,
                capture_output=True, text=True,
            ).stdout
        )

    try:
        old, new = hashes(parent), hashes(ROOT)
        names = sorted(n for n in new if n in old and old[n] != new[n])
        print(f"{len(names)} queries whose certificate hash differs "
              f"({rev} -> tree); {sf_dir}")
        before = _run_measure(parent, sf_dir, names)
        after = _run_measure(ROOT, sf_dir, names)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    bad = []
    print(
        f"{'query':38s} {'value':>5s} {'oracle':>6s} {'shuffles':>8s} "
        f"{'rr':>5s} {'bcast':>5s} {'smj':>5s}"
    )
    for n in names:
        a, b = before[n], after[n]
        if "error" in a or "error" in b:
            bad.append(n)
            print(f"{n:38s} error parent={a.get('error')} change={b.get('error')}")
            continue
        same_value = a["value"] == b["value"]
        oracle_ok = "oracle" not in b or b["oracle"] == b["value"]
        ok = (
            same_value
            and oracle_ok
            and b["shuffles"] <= a["shuffles"]
            and b["roundrobin"] <= a["roundrobin"]
            and b["broadcast_joins"] >= a["broadcast_joins"]
        )
        if not ok:
            bad.append(n)
        print(
            f"{n:38s} {'same' if same_value else 'DIFF':>5s} "
            f"{('ok' if oracle_ok else 'FAIL') if 'oracle' in b else '-':>6s} "
            f"{a['shuffles']:>3d}->{b['shuffles']:<3d} "
            f"{a['roundrobin']:>2d}->{b['roundrobin']:<2d} "
            f"{a['broadcast_joins']:>2d}->{b['broadcast_joins']:<2d} "
            f"{a['sort_merge_joins']:>2d}->{b['sort_merge_joins']:<2d}"
            + ("" if ok else "  <-- FAILS")
        )
    if json_out:
        json.dump({"rev": rev, "sf_dir": sf_dir, "parent": before, "change": after},
                  open(json_out, "w"), indent=1, sort_keys=True)
    print(f"{len(names) - len(bad)}/{len(names)} pass; failing: {bad or '-'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
