"""Per-task Python worker times, engine worker daemon vs stock daemon.

Each arm runs in a child process: ``get_spark`` (local[cores]), one
warm-up pass over the analytics workload's six queries
(``perfbench/workloads.py``, perfbench fixtures at sf0.01), then the
Python runner loggers go to INFO and ``--reps`` more passes run to the
noop sink. Every Python task then logs ``Times: total = …, boot = …,
init = …, finish = …`` (ms). A reused worker stamps ``boot`` when it
starts waiting for its next task, so ``init`` alone also counts that
idle wait and ``boot`` goes negative; ``boot + init`` is the time from
the task's start in the JVM to the worker being ready to run user code
(reading the task, ``importlib.invalidate_caches()``, broadcasts,
unpickling the function): the per-task set-up reported as ``setup``.
Arms: ``engine`` (get_spark's default, hivetomysql_spark.worker_daemon)
and ``stock`` (``spark.python.daemon.module=pyspark.daemon`` through
``extra_conf``). The two arms alternate which runs first.

Usage: python tools/worker_init.py [--reps N] [--rounds R] [--json OUT]
Prints a markdown table; ``--json`` also writes every task's times.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = {"engine": {}, "stock": {"spark.python.daemon.module": "pyspark.daemon"}}
TIMES = re.compile(
    r"INFO (\S+): Times: total = (-?\d+), boot = (-?\d+), init = (-?\d+), finish = (-?\d+)"
)
RUNNER_LOGGERS = ("org.apache.spark.api.python", "org.apache.spark.sql.execution.python")


def child(arm: str, reps: int) -> None:
    sys.path.insert(0, ROOT)
    from hivetomysql_spark.session import get_spark
    from perfbench.workloads import ALL_QUERIES, TABLES_DIR
    from tools.timing import consume

    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    spark = get_spark(app_name=f"worker_init[{arm}]", extra_conf=ARMS[arm])
    spark.sparkContext.setLogLevel("WARN")
    registry = entry.queries()
    for i in range(reps + 1):
        if i == 1:  # steady state only: the warm-up pass stays at WARN
            jvm = spark._jvm
            for name in RUNNER_LOGGERS:
                jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                    name, jvm.org.apache.logging.log4j.Level.INFO
                )
        for q in ALL_QUERIES:
            consume(registry[q](spark, TABLES_DIR))
    spark.stop()


def run_arm(arm: str, reps: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", arm, "--reps", str(reps)],
        capture_output=True, text=True, cwd=ROOT, check=True,
    )
    keys = ("runner", "total", "boot", "init", "finish")
    return [
        dict(zip(keys, (m[0], *map(int, m[1:]))))
        for m in TIMES.findall(proc.stderr)
    ]


def summary(tasks: list[dict]) -> dict:
    setup = sorted(t["boot"] + t["init"] for t in tasks)
    return {
        "tasks": len(tasks),
        "setup_median_ms": statistics.median(setup),
        "setup_p90_ms": setup[int(0.9 * (len(setup) - 1))],
        "setup_sum_s": sum(setup) / 1000,
        "total_median_ms": statistics.median(t["total"] for t in tasks),
        "total_sum_s": sum(t["total"] for t in tasks) / 1000,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--json")
    ap.add_argument("--child", choices=sorted(ARMS))
    args = ap.parse_args(argv)
    if args.child:
        child(args.child, args.reps)
        return 0
    tasks: dict[str, list[dict]] = {arm: [] for arm in ARMS}
    for r in range(args.rounds):
        for arm in (list(ARMS) if r % 2 == 0 else list(ARMS)[::-1]):
            tasks[arm] += [dict(t, round=r) for t in run_arm(arm, args.reps)]
    cols = ["tasks", "setup_median_ms", "setup_p90_ms", "setup_sum_s", "total_median_ms", "total_sum_s"]
    print("| arm | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for arm, ts in tasks.items():
        s = summary(ts)
        print(f"| {arm} | " + " | ".join(f"{s[c]:.4g}" for c in cols) + " |")
    if args.json:
        with open(args.json, "w") as f:
            for arm, ts in tasks.items():
                for t in ts:
                    f.write(json.dumps(dict(t, arm=arm)) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
