"""Scaling evidence: run headline queries at sf0.001 / 0.01 / 0.1
and report wall-time ratios per 10x data step.

Usage: python tools/scalecheck.py [query ...]

A query whose time grows ~1x per 10x data is overhead-bound (fine);
~10x is linear (fine at these sizes); >>10x means a superlinear
term (pair blowup, unpruned scan) that would sink it at 100 TB.
Warm-up runs once per session so JVM/codegen cost doesn't pollute
the smallest scale factor.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hivetomysql_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from tools.timing import consume, timed  # noqa: E402

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]
# third 10x step: derived data (tools/make_sfup.py), scaling-only —
# correctness stays on the driver's own fixtures
_SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", f"{ROOT}/.derived/sf1")
if os.path.isdir(_SF1):
    SF_DIRS.append(("1", _SF1))
# fourth 10x step (60M lineitem / 500k docs / 10M events), heavy-tier
# only: derive with `python tools/make_sfup.py 10 .derived/sf1
# .derived/sf10` (verdict r8 #5)
_SF10 = os.environ.get("SPARK_GRAFT_SF10_DIR", f"{ROOT}/.derived/sf10")
if os.path.isdir(_SF10):
    SF_DIRS.append(("10", _SF10))

DEFAULT = [
    "parity_mapping",
    "agg_pricing_summary",
    "join_shipping_priority",
    "window_running_total",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_quality",
    "funnel_conversion",
    "pipeline_corpus_clean",
    "agg_revenue_by_nation",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    qmap = entrymod.queries()
    unknown = [n for n in names if n not in qmap]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark(app_name="scalecheck")
    spark.sparkContext.setLogLevel("ERROR")
    # codegen warm-up at the smallest sf
    for name in names:
        consume(qmap[name](spark, SF_DIRS[0][1]))
    header = f"{'query':28s}" + "".join(f"  sf{sf:>5s}" for sf, _ in SF_DIRS)
    ratios_hdr = "".join(
        f"  ratio{i}{i+1}" for i in range(len(SF_DIRS) - 1)
    )
    print(header + " " + ratios_hdr)
    for name in names:
        times = [
            timed(lambda: consume(qmap[name](spark, sf_dir)))[1]
            for _, sf_dir in SF_DIRS
        ]
        ratios = [times[i + 1] / times[i] for i in range(len(times) - 1)]
        print(
            f"{name:28s}"
            + "".join(f"  {t:7.2f}" for t in times)
            + "".join(f"  {r:7.1f}x" for r in ratios)
        )


if __name__ == "__main__":
    main()
