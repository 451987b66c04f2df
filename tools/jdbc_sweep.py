"""Measured JDBC write sweep (verdict r11 #4): numPartitions x
batchsize against an embedded Derby target, so the sink's defaults
(DEFAULT_BATCH_SIZE, DEFAULT_MAX_WRITE_CONNECTIONS) are numbers, not
folklore. Embedded Derby serializes writers internally (single-JVM
lock manager), so the PARALLELISM column here under-reports what a
real MySQL primary would gain — the sweep's value is the batchsize
axis (wire batching) and the relative shape; re-run against a real
target before tuning production. Each cell is one whole ``write_jdbc``
load: the distributed write into its staging table, then the swap's
``INSERT ... SELECT`` into the target. Results are recorded in
SCALING.md.

Usage: python tools/jdbc_sweep.py [n_rows]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hivetomysql_spark.config import DumpConf  # noqa: E402
from hivetomysql_spark.session import get_spark  # noqa: E402
from hivetomysql_spark.sinks.jdbc import write_jdbc  # noqa: E402
from tools.timing import timed  # noqa: E402

PARTS = [1, 4, 8, 16]
BATCH = [100, 1000, 4000]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark(app_name="jdbc_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    df = (
        spark.range(n)
        .select(
            F.concat(F.lit("v"), F.col("id")).alias("val"),
            F.lit("20240101").alias("ds"),
            F.lit("2.0").alias("version"),
        )
        .localCheckpoint()  # generation cost out of the measurement
    )
    print(f"{'parts':>5} {'batch':>6} {'sec':>7} {'rows/s':>9}")
    results = []
    for parts in PARTS:
        for batch in BATCH:
            dbdir = f"/tmp/jdbc_sweep_db_{parts}_{batch}"
            shutil.rmtree(dbdir, ignore_errors=True)
            conf = DumpConf.from_text(
                "mysql_table=sweep_t\nds=20240101\n"
                f"jdbc_url=jdbc:derby:{dbdir};create=true\n"
                "jdbc_url_params=\n"
                'jdbc_ident_quote="\n'
                "jdbc_create_types="
                "val VARCHAR(30), ds VARCHAR(20), version VARCHAR(20)\n"
            )
            d = df.repartition(parts)
            _, dt = timed(lambda: write_jdbc(
                d, conf, None, batch_size=batch, max_connections=parts
            ))
            results.append((parts, batch, dt, n / dt))
            print(f"{parts:>5} {batch:>6} {dt:>7.2f} {n / dt:>9.0f}")
            shutil.rmtree(dbdir, ignore_errors=True)
    best = min(results, key=lambda r: r[2])
    print(
        f"\nbest: parts={best[0]} batch={best[1]} "
        f"{best[2]:.2f}s ({best[3]:.0f} rows/s)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
