"""Equi-join site inventory gate (r11).

The measured join-key audit (tools/join_key_audit.py, SCALING.md
round 11) counted per-key multiplicities for every equi Join in the
registry at two scales: zero hazards — every data x data join keys
on a growing identifier, and every bounded-key join has a bounded
small side that AQE broadcasts at runtime (no stream-side shuffle,
nothing concentrates). This gate freezes that audited inventory
STRUCTURALLY (plan walk, no jobs): a join site is either keyed on a
growing identifier / a ``__rk_bucket`` two-level frame, or it must
appear in the frozen snapshot the audit measured. A NEW or re-keyed
join site outside both fails the gate — the fix is to re-run the
measured audit and refreeze, not to edit the snapshot by hand:

    python tools/join_key_audit.py          # must print 0 flagged
    python tests/test_join_gate.py          # refreezes the snapshot
"""

from __future__ import annotations

import json
import os
import sys

import pytest
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
))
import registry_capture as RC  # noqa: E402


# join keys whose cardinality grows with the data (verified by the
# r11 measured audit) — a site keyed on ANY of these is scale-safe
# without a snapshot entry
GROWING_KEYS = {
    "__rk_bucket",
    "o_custkey", "c_custkey", "l_orderkey", "o_orderkey",
    "l_partkey", "p_partkey", "l_suppkey", "s_suppkey",
    "user_id", "doc_id", "vec_id", "event_id",
}
# NOT exempted by name (r11 review): generic names like "bucket",
# "band", "tok", "qid" are bound to BOUNDED keys elsewhere in the
# codebase (layout_zorder_clustering's NTILE out="bucket" is 16
# tiles; LSH band counts are fixed), so sites keyed on them must live
# in the measured snapshot — a new one forces a re-run of the audit.

SNAPSHOT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "join_sites_snapshot.json",
)


def _sites(cap) -> set:
    """{(query, lkeys-tuple)} for every equi Join node in a registry
    capture (tools/registry_capture.py — structural plan walk that
    reuses the audit's condition parser, no count jobs)."""
    failed = RC.failures(cap)
    assert not failed, f"registry queries failed to build: {failed}"
    return {(q, tuple(ks)) for q, r in cap.items() for ks in r["join_sites"]}


@pytest.fixture(scope="module")
def current_sites(registry_capture):
    return _sites(registry_capture["/root/testdata/sf0.001"])


def test_every_join_site_audited_or_growing(current_sites):
    with open(SNAPSHOT) as fh:
        frozen = {
            (q, tuple(ks)) for q, ks in json.load(fh)["sites"]
        }
    unknown = []
    for name, keys in current_sites:
        if set(keys) & GROWING_KEYS:
            continue
        if (name, keys) in frozen:
            continue
        unknown.append(f"{name}: JOIN ON {','.join(keys)}")
    assert not unknown, (
        "equi-join sites outside the audited inventory (bounded or "
        "unknown keys) — run `python tools/join_key_audit.py` (must "
        "print 0 flagged), then `python tests/test_join_gate.py` to "
        "refreeze:\n" + "\n".join(sorted(unknown))
    )


def test_gate_still_sees_joins(current_sites):
    assert len(current_sites) >= 150, (
        f"only {len(current_sites)} join sites captured — the walker "
        "or the registry changed shape"
    )


if __name__ == "__main__":
    # refreeze: record every current site (the measured audit must be
    # clean first — this script only snapshots identity, not safety)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from hivetomysql_spark.session import get_spark

    spark = get_spark(app_name="join_gate_freeze")
    spark.sparkContext.setLogLevel("ERROR")
    cap = RC.capture(spark, "/root/testdata/sf0.001", entrymod.queries())
    sites = sorted((q, list(ks)) for q, ks in _sites(cap))
    with open(SNAPSHOT, "w") as fh:
        json.dump({"sites": sites}, fh, indent=1)
    print(f"froze {len(sites)} join sites -> {SNAPSHOT}")
