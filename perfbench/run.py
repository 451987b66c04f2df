"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload etl_reimport --seed 1 --seconds 12 --trace 0

It makes the workload's inputs from ``--seed``, starts the engine's
Spark session (and, for ``etl_reimport``, a scratch PostgreSQL server),
warms up, then runs passes in a closed loop for ``--seconds`` seconds
and checks the outputs. The last stdout line is the result record:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes every span to ``.perfbench/traces/``. The line before the record
carries run details (pass times as measured and with stolen time left
out, stolen shares, the tail percentile used, problems found).

Everything the run writes stays below ``.perfbench/`` in the working
directory; the per-run scratch directory is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_tail_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "hivetomysql_spark", "session.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def configure_env(work_dir: str) -> dict[str, str]:
    """Environment and Spark settings of the benchmark's own launcher.
    They must be in place before the JVM starts; ``session.py`` reads
    the ``SPARK_GRAFT_*`` variables and takes the rest as extra conf."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    old = os.environ.get("PYTHONPATH")
    # Python workers import the engine's UDF modules by name
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every child."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: run from the repository root (hivetomysql_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import stats
    from perfbench.trace import PeakRss, Tracer, Unstolen
    from perfbench.workloads import WORKLOADS, Context, per_layer_units

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for s in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(s, _terminate)

    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = wl = None
    tracer = Tracer(enabled=bool(args.trace))
    try:
        extra_conf = configure_env(work_dir)
        with PeakRss() as rss:
            with Unstolen() as setup:
                with tracer.span("session.get_spark", pass_id="setup") as s_session:
                    from hivetomysql_spark.session import get_spark

                    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
                    spark.sparkContext.setLogLevel("ERROR")
                tracer.spark = spark
                ctx = Context(spark, tracer, work_dir, args.seed)
                wl = WORKLOADS[args.workload]()
                with tracer.span("setup.inputs", pass_id="setup"):
                    wl.setup(ctx)
                with tracer.span("session.warmup", pass_id="setup") as s_warm:
                    wl.warmup(ctx)
            tracer.resolve()

            passes, failed, attempted, problems = [], 0, 0, []
            deadline = time.perf_counter() + args.seconds
            while True:
                attempted += 1
                try:
                    res = wl.run_pass(ctx, attempted)
                except Exception as e:  # a failed pass is counted, not fatal
                    failed += 1
                    problems.append(f"pass {attempted}: {type(e).__name__}: {str(e)[:300]}")
                    traceback.print_exc(file=sys.stderr)
                else:
                    passes.append(res)
                    if res.problems:
                        failed += 1
                        problems += [f"pass {attempted}: {p}" for p in res.problems]
                if time.perf_counter() >= deadline:
                    break
        final = wl.final_check(ctx)
        if final:
            problems += [f"final check: {p}" for p in final]
            failed = min(attempted, failed + 1)
        if not passes:
            raise RuntimeError(f"no pass completed: {problems[:3]}")

        secs = [res.seconds for res in passes]
        tail_s, tail_pct = stats.tail(secs)
        if args.trace:
            values = {n: 0.0 for n in per_layer_units()}
            values.update({
                "session.get_spark_s": s_session.seconds,
                "session.warmup_s": s_warm.seconds,
                "trace.pass_s": stats.median(secs),
                "trace.pass_wall_s": stats.median(res.wall for res in passes),
                "host.stolen_share": stats.median(res.stolen for res in passes),
            })
            values.update(wl.layer_metrics(ctx, passes))
            units = per_layer_units()
        else:
            values = {
                "setup_s": setup.seconds,
                "pass_s": stats.median(secs),
                "pass_tail_s": tail_s,
                "rows_per_s": stats.median(res.rows / res.seconds for res in passes),
                "peak_rss_mb": rss.peak_mb,
            }
            units = END_TO_END
        record = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
        }
        stats.validate_record(record, set(units))
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": len(passes), "pass_seconds": secs,
            "wall_pass_seconds": [res.wall for res in passes],
            "stolen_share": [res.stolen for res in passes],
            "tail_percentile": tail_pct, "setup_s": setup.seconds,
            "wall_setup_s": setup.wall, "setup_stolen_share": setup.stolen_share,
            "problems": problems[:20],
        }
        if args.trace:
            path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, {"detail": detail, "metrics": record["metrics"]})
            detail["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps(detail), flush=True)
        print(json.dumps(record), flush=True)
        return 0 if record["correct"] else 1
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            stop_spark(spark)
            shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
