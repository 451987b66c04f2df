"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The LAST
stdout line is the machine-readable record (the driver keeps a stdout
TAIL, so the last line is the one that survives):

    {"metric": "headline_queries_total_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, "cpus": 32, ...}

`value` covers the fixed HEADLINE set only, so totals stay comparable
round over round; `queries` carries the per-query seconds for that
same set (restored in r14 — the r13 summary omitted it and the
driver's per-query comparison came back empty). The full record —
including a deterministic ROTATION_SIZE-query slice of the
non-headline registry — persists in BENCH_LOCAL.json (a low-core run
writes BENCH_LOCAL_c{N}.json instead). The rotation slice index
derives from the highest BENCH_r{N}.json already recorded, so each
round measures the next window and every registry query gets a
wall-time reading within ~7 rounds (plan audits catch shape
regressions; only a timing sample catches a constant-factor blowup).

Each query plan is fully executed via the noop sink (forces every
exchange/aggregate without materializing rows on the driver — the
honest way to time a distributed plan). The noop consume, the min-of-N
loop, the warm-up, the host probes and the attempt loop below are the
shared timing core in ``tools/timing.py``.

The payload also carries ``calib``: two fixed CPU-bound probes (a
single-core Python SHA-256 loop and a 32-way JVM codegen sum over
``spark.range``) measured min-of-3 on the same session, taken at the
START and END of the timing pass.  Rounds run on whatever container
the scheduler hands out, and host speed has swung 2-4x between
rounds — min-of-3 absorbs transient co-tenant spikes within a run
but not a uniformly slower box, and r12 measured whole contention
PHASES (minutes long) where Python-worker-heavy queries ran 10x
slow and settled back.  Dividing a per-query delta by the calib
ratio separates "this plan regressed" from "this host is slower";
start/end disagreement >1.5x marks the whole run as
contention-crossed.  Since r13 that rule is ENFORCED, not advisory:
the harness re-runs the full timing pass up to MAX_ATTEMPTS times
until a pass's own probes agree within PROBE_AGREEMENT, keeps the
cleanest attempt, and stamps ``probe_disagreement`` / ``attempts`` /
``contention_crossed`` into the record — a record with
``contention_crossed: false`` is protocol-valid by construction,
and one with ``true`` says so instead of impersonating a
comparable number.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hivetomysql_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from tools.timing import (  # noqa: E402,F401  (calibrate: bench.calibrate)
    MAX_ATTEMPTS,
    best_of,
    calibrate,
    consume,
    normalize_by_probe,
    probed,
    probed_pass,
)

HEADLINE = [
    "parity_mapping",
    "agg_pricing_summary",
    "agg_distinct_counts",
    "filter_predicates",
    "join_shipping_priority",
    "join_broadcast_dims",
    "window_topk_per_group",
    "window_running_total",
    "asof_join_last_click",
    "sort_topk_orders",
    "func_json",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "similarity_cosine_topk",
    "text_quality",
    "text_fingerprint",
    "stream_tumbling_batch",
    "stream_session_batch",
    "similarity_ivf_topk",
    "funnel_conversion",
    "event_transitions",
    "join_salted_skew",
    "pipeline_corpus_clean",
    "agg_revenue_by_nation",
    "text_tfidf_topterms",
    "scd2_order_priority",
    "merge_upsert",
    "join_pit_dimension",
    "stream_gap_sessions_batch",
    "agg_bitmap_distinct",
    "agg_market_share",
    "subquery_correlated_avg",
    "timeseries_ohlc",
    "chunk_documents",
    "pack_sequences",
    "stream_join_batch",
    "text_bm25_scores",
    "graph_pagerank_nations",
    "cogroup_asof_attribution",
    "dq_expectations",
    "pipeline_training_mix",
    "stats_kaplan_meier",
    "graph_connected_components",
    "feature_hashing_trick",
    "multimodal_features",
    "recsys_item_cooccurrence",
    "ml_naive_bayes_langid",
    "graph_kcore",
    "stats_poisson_bootstrap",
    "pipeline_incremental_dedup",
    # round-5 flagships
    "ml_gbdt_stumps_boost",
    "agg_hyperloglog_pinned",
    "multimodal_phash",
    "dedup_lsh_quality_audit",
]


# 60/round: the round-7 full-registry sweep priced the whole
# non-headline tail at ~437 s, so 60 ≈ 55 s/round buys every query a
# wall-time reading within ~7 rounds instead of ~21 (verdict r7 #5)
ROTATION_SIZE = 60


def rotation_slice(
    all_names, size: int = ROTATION_SIZE
) -> tuple[int, list[str]]:
    """Deterministic per-round ``size``-query window over the
    non-headline registry.

    The round index comes from the highest ``BENCH_r{N}.json`` the
    driver has recorded beside this script — stable within a round,
    +1 every round, no clock involved.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    ]
    idx = (max(rounds) + 1) if rounds else 0
    tail = sorted(set(all_names) - set(HEADLINE))
    if not tail:
        return idx, []
    start = (idx * size) % len(tail)
    return idx, [
        tail[(start + i) % len(tail)] for i in range(min(size, len(tail)))
    ]


def timing_pass(spark, qmap, sf_dir: str, sf: float) -> dict:
    """One full protocol pass: start probe, headline min-of-3,
    rotation min-of-2, end probe. Returns the record payload with
    its own ``probe_disagreement`` stamped in."""

    def best(name: str, reps: int) -> float:
        return round(best_of(lambda: consume(qmap[name](spark, sf_dir)), reps), 3)

    def body() -> dict:
        rot_idx, rot_names = rotation_slice(qmap)
        return {
            "queries": {name: best(name, 3) for name in HEADLINE},
            "rotation": {
                "index": rot_idx,
                "queries": {name: best(name, 2) for name in rot_names},
            },
        }

    p = probed_pass(spark, body)
    timings = p["queries"]
    jvm_norm, normalized = normalize_by_probe(timings, p["calib"])
    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rotation": p["rotation"],
        "calib": p["calib"],
        "jvm_probe_geomean": round(jvm_norm, 4),
        "queries_normalized": normalized,
        "probe_disagreement": p["probe_disagreement"],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entrymod.queries()
    # Every headline query runs three times and reports the min: one
    # execution is at the mercy of transient co-tenant load
    # (page-cache eviction, CPU steal), and a shared box routinely
    # showed 3-4x swings on individual sub-2 s queries — phantom "2x
    # regressions" of ~0.2-0.5 s absolute consumed a verdict slot
    # three rounds running (r6-r8) before this became unconditional.
    # Min-of-3 measures the engine's steady-state cost, which is the
    # quantity a capacity plan uses; the extra pass over the full
    # headline set costs ~60 s per bench run.
    #
    # Validity loop: see PROBE_AGREEMENT in tools/timing.py. The
    # rotation re-runs with each attempt on purpose — the kept
    # record's rotation numbers must come from the same window as its
    # probes, or the record is internally inconsistent.
    payload = probed(
        spark, sf_dir, lambda: timing_pass(spark, qmap, sf_dir, sf), MAX_ATTEMPTS
    )
    payload["cpus"] = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(json.dumps(payload))
    emit_record_and_summary(payload)


def local_record_name(cpus: int) -> str:
    """BENCH_LOCAL.json for the main (32-core) record; a low-core
    scaling pass writes BENCH_LOCAL_c{N}.json so it never clobbers
    the main record (verdict r13 #6)."""
    return "BENCH_LOCAL.json" if cpus == 32 else f"BENCH_LOCAL_c{cpus}.json"


def compact_summary(payload: dict) -> dict:
    """The LAST stdout line's payload. The driver keeps only a stdout
    TAIL, so this line is the round's machine-readable record: it must
    stay small enough to survive the capture AND carry the headline
    per-query map (57 entries ≈ 2 kB) — the r13 record omitted the map
    and the driver's per_query / scaling comparisons came back empty
    (verdict r13 #1). Rotation detail stays in BENCH_LOCAL.json."""
    return {
        "metric": "headline_queries_total_sec",
        "value": payload["value"],
        "unit": "sec",
        "queries": payload["queries"],
        "sf": payload["sf"],
        "cpus": payload["cpus"],
        "n_headline": len(payload["queries"]),
        "rotation_index": payload["rotation"]["index"],
        "n_rotation": len(payload["rotation"]["queries"]),
        "attempts": payload["attempts"],
        "probe_disagreement": payload["probe_disagreement"],
        "contention_crossed": payload["contention_crossed"],
        "jvm_probe_geomean": payload["jvm_probe_geomean"],
        "detail": "BENCH_LOCAL.json",
    }


def emit_record_and_summary(payload: dict) -> None:
    # the full record persists beside the script so round-over-round
    # comparisons never depend on capture limits (BENCH_r07 lost its
    # head to truncation).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(
            os.path.join(here, local_record_name(payload["cpus"])), "w"
        ) as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass
    print(json.dumps(compact_summary(payload)))


if __name__ == "__main__":
    main()
