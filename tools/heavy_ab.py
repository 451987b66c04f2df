"""Up-scale A/B timing harness for the heavy certified tier
(verdict r13 #3: sf0.1 sits at the scan/scheduler floor — decisions
about cluster-shape levers belong at sf1/sf10 where the data terms
live).

Times each named query with the noop sink, min-of-R, on one session,
optionally flipping RUNTIME SQL confs between an A pass and a B pass
(``tools.timing.ab``: interleaved A,B then B,A, ... so host drift and
the first-run cost hit both arms; the confs are restored afterwards,
also when a query raises). Static JVM confs
(spark.io.compression.codec) cannot flip in-session — pass them via
EXTRA_CONF for a whole-process arm and compare across two runs
instead.

Usage:
  python tools/heavy_ab.py SF_DIR reps q1 q2 ...            # plain timing
  AB_CONF="spark.sql.adaptive.advisoryPartitionSizeInBytes=8m" \
      python tools/heavy_ab.py SF_DIR reps q1 ...           # A=default B=conf
  EXTRA_CONF="spark.io.compression.codec=zstd" ...          # session-wide

Prints one line per query (and per arm when AB_CONF is set) plus a
JSON tail for machine reading.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hivetomysql_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from tools.timing import ab, consume, warm_up  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    extra = {}
    for kv in filter(None, os.environ.get("EXTRA_CONF", "").split(";")):
        k, v = kv.split("=", 1)
        extra[k] = v
    ab_conf = {}
    for kv in filter(None, os.environ.get("AB_CONF", "").split(";")):
        k, v = kv.split("=", 1)
        ab_conf[k] = v
    spark = get_spark(app_name="heavy_ab", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    warm_up(spark, sf_dir)

    arms = {"A": {}, "B": ab_conf} if ab_conf else {"A": {}}
    results: dict[str, dict[str, float]] = {}
    for name in names:
        best = ab(spark, arms, lambda: consume(qmap[name](spark, sf_dir)), reps, name)
        results[name] = {a: round(t, 3) for a, t in best.items()}
        line = f"{name}: A={results[name]['A']}"
        if ab_conf:
            line += f"  B={results[name]['B']}  B/A={results[name]['B']/max(results[name]['A'],1e-9):.2f}"
        print(line, flush=True)
    print("JSON " + json.dumps({"sf_dir": sf_dir, "reps": reps,
                                "ab_conf": ab_conf, "extra_conf": extra,
                                "results": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
