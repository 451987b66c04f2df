"""Broadcast-growth gate over every explicit ``F.broadcast()`` site
(the r10 audit, frozen as a regression test).

An explicit broadcast hint is a promise the frame stays
memory-bounded at ANY scale — AQE never gets to fall back, so a
data-sized hinted frame is an OOM at 100 TB, not a slow join. The
r10 audit (``tools/broadcast_audit.py``, SCALING.md round 10) found
22 such frames (full customer/part tables, threshold-only hot-key
sets, O(N/64) offset frames) and removed or bounded every one. This
gate repeats the measurement on every pytest run at the cheap
(sf0.001 → sf0.01) step: the shared registry capture
(``tools/registry_capture.py``) spies on
``pyspark.sql.functions.broadcast`` while every plan builds, counts
each hinted frame at both scales, and fails on any frame that grows
more than 3× across the 10× data step AND is over 1000 rows at sf0.01 (tiny frames jump
ratios on saturation — e.g. the 64-row ranks offsets filling in —
without being a memory risk).

Known saturating frames are exempted with the bound that caps them;
an exemption without a real cap is a bug in this table, not a pass.

Reads the session-scoped ``registry_capture`` fixture (one registry
build per scale, shared by every slow gate).
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
RATIO_MAX = 3.0
ABS_FLOOR = 1000  # rows at BIG below which growth is moot

# (query, frame index) -> (max allowed rows at BIG, reason bounded).
# Keyed per-frame, not per-query, so a FUTURE second hinted frame in
# one of these queries still gets the full ratio check instead of
# inheriting an unrelated saturation cap.
SATURATING_OK = {
    # set-bit list of a Bloom filter: grows toward, and is capped by,
    # the filter constant _BF_M = 65536 (sketches_suite.py:1073)
    ("agg_bloom_filter_pinned", 0): (65536, "bits <= _BF_M"),
    # hot-key set: threshold-admitted but capped at the top
    # _HOT_K = 4096 heaviest keys; hinted at three join sites but it
    # is the SAME frame each time (relational_extras.py:142,156,165)
    ("join_salted_skew", 0): (4096, "hot <= _HOT_K"),
    ("join_salted_skew", 1): (4096, "hot <= _HOT_K"),
    ("join_salted_skew", 2): (4096, "hot <= _HOT_K"),
}


def test_no_data_sized_explicit_broadcasts(registry_capture):
    a = spy_lists(registry_capture[SMALL], "broadcast")
    b = spy_lists(registry_capture[BIG], "broadcast")

    violations = []
    for name in sorted(set(a) & set(b)):
        if len(a[name]) != len(b[name]):
            # zip() would silently drop the tail — a broadcast site
            # that fires only at the bigger scale must not escape.
            violations.append(
                f"{name}: hinted-broadcast frame count differs across "
                f"scales ({len(a[name])} at {SMALL} vs {len(b[name])} "
                f"at {BIG}) — a scale-dependent hint site; make the "
                "plan shape scale-invariant or document it here"
            )
            continue
        for i, (x, y) in enumerate(zip(a[name], b[name])):
            if x < 0 or y < 0:
                continue
            cap = SATURATING_OK.get((name, i))
            if cap is not None:
                if y > cap[0]:
                    violations.append(
                        f"{name}[{i}]: {y} rows at {BIG} exceeds its "
                        f"documented saturation bound ({cap[1]})"
                    )
                continue
            ratio = (y / x) if x else float(y > ABS_FLOOR) * 99.0
            if ratio > RATIO_MAX and y > ABS_FLOOR:
                violations.append(
                    f"{name}[{i}]: hinted broadcast frame grew "
                    f"{x} → {y} rows ({ratio:.1f}×) across a 10× data "
                    "step — it scales with the warehouse and WILL OOM "
                    "a forced broadcast at 100 TB; drop the hint (AQE "
                    "decides) or bound the frame (see SCALING.md r10)"
                )
    assert not violations, (
        "data-sized explicit broadcasts:\n" + "\n".join(violations)
    )
