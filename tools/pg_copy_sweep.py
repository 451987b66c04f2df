"""Measure the parallel-write axis of the COPY sink against a real
concurrent-writer target (verdict r12 #6).

tools/jdbc_sweep.py measured the JDBC sink's batchsize axis against
embedded Derby, but Derby serializes concurrent writers at the
engine level, so its numPartitions axis was flat BY CONSTRUCTION.
This sweep drives :func:`hivetomysql_spark.sinks.pg_copy.
write_pg_copy` against a scratch PostgreSQL 15 server (the one real
multi-writer engine in this container) across COPY stream counts,
holding the row volume fixed — the missing measurement for sizing
``num_partitions`` / the JDBC ``DEFAULT_MAX_WRITE_CONNECTIONS`` cap.

Usage: python tools/pg_copy_sweep.py [rows] [streams...]
       (defaults: 2_000_000 rows; streams 1 2 4 8 16)

Starts/stops its own server under a temp dir with
``perfbench.pgserver.ScratchPostgres`` (fsync=off,
synchronous_commit=off; run as root it needs a ``postgres`` system
user); prints a JSON line per cell and a summary table. Each cell is
min-of-2 (``tools.timing.best_of``); a rep's span covers the TRUNCATE
of the previous rep's rows (one psql call) and the COPY load.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hivetomysql_spark.session import get_spark  # noqa: E402
from hivetomysql_spark.sinks import pg_copy as PG  # noqa: E402
from perfbench.pgserver import ScratchPostgres  # noqa: E402
from tools.timing import best_of  # noqa: E402


def main() -> int:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    streams = [int(x) for x in sys.argv[2:]] or [1, 2, 4, 8, 16]
    if not (shutil.which("psql") and shutil.which("initdb")):
        print("SKIP: no PostgreSQL binaries")
        return 0
    base = tempfile.mkdtemp(prefix="pgsweep")
    server = ScratchPostgres(base)
    try:
        server.start()
        args = server.psql_args

        spark = get_spark(app_name="pg_copy_sweep")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        # mixed-width payload: two ints, a float, a 36-char string —
        # ~60 B/row on the wire, so 2M rows ≈ 120 MB per cell
        df = spark.range(rows).select(
            "id",
            (F.col("id") % 997).alias("k"),
            (F.col("id") * 0.37).alias("v"),
            F.concat(F.lit("payload-"), F.md5(F.col("id").cast("string")))
            .alias("s"),
        ).cache()
        df.count()  # materialize so the sweep times ONLY the sink

        def load(n: int) -> None:
            PG.run_psql(args, "TRUNCATE sweep_t")
            wrote = PG.write_pg_copy(
                df, "sweep_t", args, mode="append", num_partitions=n
            )
            assert wrote == rows, (wrote, rows)

        results = {}
        for n in streams:
            PG.run_psql(
                args,
                "DROP TABLE IF EXISTS sweep_t; "
                "CREATE UNLOGGED TABLE sweep_t "
                "(id bigint, k bigint, v float8, s text)",
            )
            best = best_of(lambda: load(n), 2)
            got = PG.run_psql(args, "SELECT count(*) FROM sweep_t").strip()
            assert got == str(rows), got
            results[n] = round(best, 2)
            print(json.dumps({
                "streams": n, "rows": rows, "sec": results[n],
                "mrows_per_sec": round(rows / best / 1e6, 3),
            }), flush=True)
        base_t = results[streams[0]]
        print("\nstreams  sec     speedup")
        for n in streams:
            print(f"{n:>7}  {results[n]:<6}  {base_t / results[n]:.2f}x")
        return 0
    finally:
        server.stop()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
