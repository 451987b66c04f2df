"""collect_list/collect_set buffer gate over the full registry (the
r11 audit frozen as a regression test).

An array-building aggregate materializes its whole group in ONE
aggregation buffer — the JVM cousin of the grouped-map pandas batch.
The r11 audit (the collect-agg spy, now in tools/registry_capture.py)
measured the max group size feeding all 25 collect-agg call sites at
sf0.01/sf0.1: worst absolute 2,405 rows (a per-day Kalman series,
calendar-bounded and FLAT across the 10x step); every site is domain-bounded (calendar
days, 64 clusters, sessions per user) except the two registered
classes below. This gate re-measures on every run so a future
collect over a low-cardinality key on a fact table fails loudly.

Scales: the cheap sf0.001 -> sf0.01 pair — the registered doc-tier
sites are fixture-floored there, which is fine (they are registered,
not ratio-checked); warehouse-tier growth is fully visible.
"""

from __future__ import annotations

import os
import sys
import pytest
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from registry_capture import spy_lists  # noqa: E402

SMALL = "/root/testdata/sf0.001"
BIG = "/root/testdata/sf0.01"
RATIO_BOUNDED = 3.0
RATIO_LINEAR = 12.0
ABS_FLOOR = 500  # max group rows at BIG below which growth is moot

# query -> why its collect aggregate may grow with data.
DATA_SIZED_OK = {
    "agg_string_agg": (
        "STRING_AGG parity: the SEMANTICS are an O(group) string "
        "(names per nation) — every engine's LISTAGG has this shape; "
        "group is customers/25 nations, 70 rows at sf0.1"
    ),
    "dedup_clusters": "shingle posting list — exact dedup tier, O(docs per shingle) by contract",
    "dedup_containment": "shingle posting list — exact dedup tier",
    "dedup_lsh_quality_audit": "shingle posting list — exact ground-truth tier (prices LSH)",
    "dedup_ngram_jaccard": "shingle posting list — exact dedup tier",
    "dedup_ngram_jaccard_capped": "shingle posting list — df-capped variant (max_posting_len)",
    "pipeline_dedup_survivors": "shingle posting list — exact dedup tier",
    "text_dedup_threshold_sweep": "shingle posting list — exact sweep tier",
    "text_idf_weighted_jaccard": "shingle posting list — exact tier",
}


def test_collect_agg_groups_bounded(registry_capture):
    a = spy_lists(registry_capture[SMALL], "collect_agg")
    b = spy_lists(registry_capture[BIG], "collect_agg")

    violations = []
    for name in sorted(set(a) & set(b)):
        for (keys, xm), (_k, ym) in zip(a[name], b[name]):
            if xm < 0 or ym < 0 or ym <= ABS_FLOOR:
                continue
            ratio = (ym / xm) if xm else 99.0
            if name in DATA_SIZED_OK:
                if ratio > RATIO_LINEAR:
                    violations.append(
                        f"{name} keys=({keys}): registered collect group "
                        f"grew {xm} -> {ym} ({ratio:.1f}x) — SUPERLINEAR"
                    )
            elif ratio > RATIO_BOUNDED:
                violations.append(
                    f"{name} keys=({keys}): collect_list/set group grew "
                    f"{xm} -> {ym} rows ({ratio:.1f}x) across a 10x data "
                    "step — an O(data/k) array in one aggregation buffer "
                    "at scale; cap the list, re-key, or register with a "
                    "semantics rationale"
                )
    assert not violations, (
        "data-sized collect aggregates:\n" + "\n".join(violations)
    )


def test_data_sized_registry_names_are_real():
    import __spark_entry__ as m

    ghosts = sorted(set(DATA_SIZED_OK) - set(m.queries()))
    assert not ghosts, f"DATA_SIZED_OK lists unknown queries: {ghosts}"
