"""Third-decade scale probe for the iterative graph flagships
(verdict r12 #8).

``graph_connected_components`` (pointer-jumping min-label) and
``graph_kcore`` (iterative peeling) are sf10-certified; this probe
derives an sf100 ``lineitem`` (the ONLY table either query reads) by
replicating the derived sf10 fixture 10x with disjoint order-key
ranges — the exact make_sfup scale model: 10x more baskets over the
SAME part catalog, so per-part fan-in deepens the way a warehouse
grows — and records wall time, edge counts, and
rounds-to-convergence (queries/graph_suite.LAST_RUN_STATS) per
decade, the evidence the adaptive-round/loud-cap design needs at a
third scale point.

Usage: python tools/graph_sf100_probe.py [--rebuild]
Writes .derived/sf100/lineitem.parquet once (~60M rows); prints one
JSON line per (query, decade) cell.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hivetomysql_spark.session import get_spark  # noqa: E402
from hivetomysql_spark.queries import graph_suite as G  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from tools.timing import timed  # noqa: E402

SF10 = ".derived/sf10"
SF100 = ".derived/sf100"


def ensure_sf100_lineitem(spark, rebuild: bool = False) -> None:
    dst = f"{SF100}/lineitem.parquet"
    if os.path.isdir(dst) and not rebuild:
        return
    li = spark.read.parquet(f"{SF10}/lineitem.parquet")
    off = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    copies = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * off))
        for k in range(10)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    os.makedirs(SF100, exist_ok=True)
    out.write.mode("overwrite").parquet(dst)
    print(f"built {dst}: {spark.read.parquet(dst).count()} rows")


def main() -> int:
    rebuild = "--rebuild" in sys.argv
    spark = get_spark(app_name="graph_sf100_probe")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_sf100_lineitem(spark, rebuild)
    qmap = entrymod.queries()
    for name, stats_key in (
        ("graph_connected_components", "connected_components"),
        ("graph_kcore", "kcore"),
    ):
        for sf_dir, decade in ((SF10, "sf10"), (SF100, "sf100")):
            row, sec = timed(lambda: qmap[name](spark, sf_dir).collect()[0].asDict())
            print(json.dumps({
                "query": name,
                "decade": decade,
                "sec": round(sec, 2),
                "stats": G.LAST_RUN_STATS.get(stats_key, {}),
                "result": row,
            }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
