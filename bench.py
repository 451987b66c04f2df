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
honest way to time a distributed plan).

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
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hivetomysql_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

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


def rotation_slice(all_names) -> tuple[int, list[str]]:
    """Deterministic per-round window over the non-headline registry.

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
    start = (idx * ROTATION_SIZE) % len(tail)
    return idx, [
        tail[(start + i) % len(tail)]
        for i in range(min(ROTATION_SIZE, len(tail)))
    ]


def calibrate(spark) -> dict[str, float]:
    """Fixed CPU-bound host-speed probes (see module docstring).

    Both workloads are deterministic and data-independent, so their
    wall time moves only with the host: ``py_sha_sec`` tracks
    single-core Python/hash throughput (what a Pandas-UDF worker
    feels), ``jvm_sum_sec`` tracks the 32-way JVM codegen path (what
    a whole-stage-codegen scan feels).  To compare query times across
    rounds, divide each side's per-query seconds by its calib value
    first — a plan regression moves the normalized number, a slower
    container moves both numerator and denominator together.
    """
    import hashlib  # noqa: PLC0415

    def sha_probe() -> float:
        buf = b"spark-graft-calibration-block-0123456789abcdef" * 32
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(20000):
            h.update(buf)
        # fold the digest into a throwaway int so the loop can't be
        # elided and the probe stays deterministic
        int.from_bytes(h.digest()[:8], "big")
        return time.perf_counter() - t0

    def jvm_probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 7) AS s"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    return {
        "py_sha_sec": round(min(sha_probe() for _ in range(3)), 4),
        "jvm_sum_sec": round(min(jvm_probe() for _ in range(3)), 4),
    }


def consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Validity gate (r13): a record whose start/end probes disagree more
# than this is contention-crossed — the run straddled a co-tenant
# phase and its per-query numbers mix two host speeds. Rather than
# committing such a record and explaining it in prose (r11 and r12
# both had to), the harness re-runs the timing pass up to
# MAX_ATTEMPTS times and keeps the cleanest attempt; only if every
# attempt fails does the record ship, and then it carries
# "contention_crossed": true so no reader can mistake it for a
# comparable number.
PROBE_AGREEMENT = 1.5
MAX_ATTEMPTS = 3


def probe_disagreement(calib: dict) -> float:
    """max over both probes of max(start/end, end/start)."""
    worst = 1.0
    for k in ("py_sha_sec", "jvm_sum_sec"):
        a = calib["start"].get(k)
        b = calib["end"].get(k)
        if a and b:
            worst = max(worst, a / b, b / a)
    return worst


def normalize_by_probe(
    timings: dict[str, float], calib: dict
) -> tuple[float, dict[str, float] | None]:
    """Probe-normalized per-query seconds (r14, verdict r13 #5), so
    cross-round comparisons stop being hostage to which contention
    window a record was taken in. The normalizer is the geometric
    mean of the record's OWN start/end JVM probes (the codegen-scan
    probe — what a whole-stage query feels); a plan regression moves
    the normalized number, a slower container moves numerator and
    denominator together. A probe that reads 0 (clock resolution, a
    failed probe) leaves nothing to normalize by: the map is ``None``
    and the record still ships after its full timing pass."""
    jvm_norm = (
        calib["start"]["jvm_sum_sec"] * calib["end"]["jvm_sum_sec"]
    ) ** 0.5
    if jvm_norm <= 0:
        return jvm_norm, None
    return jvm_norm, {k: round(v / jvm_norm, 2) for k, v in timings.items()}


def timing_pass(spark, qmap, sf_dir: str, sf: float) -> dict:
    """One full protocol pass: start probe, headline min-of-3,
    rotation min-of-2, end probe. Returns the record payload with
    its own ``probe_disagreement`` stamped in."""
    calib_start = calibrate(spark)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qmap[name]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            consume(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    rot_idx, rot_names = rotation_slice(qmap)
    rotation: dict[str, float] = {}
    for name in rot_names:
        fn = qmap[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            consume(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        rotation[name] = round(best, 3)

    calib = {"start": calib_start, "end": calibrate(spark)}
    jvm_norm, normalized = normalize_by_probe(timings, calib)
    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rotation": {"index": rot_idx, "queries": rotation},
        "calib": calib,
        "jvm_probe_geomean": round(jvm_norm, 4),
        "queries_normalized": normalized,
        "probe_disagreement": round(probe_disagreement(calib), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entrymod.queries()
    # JVM warmup across the code paths the headline queries exercise:
    # whole-stage codegen + janino compile, parquet vectorized reader,
    # hash join, window exec, higher-order functions + explode. Each
    # query still codegens its own plan — this warms the *compilers*,
    # not the queries (none of the warmup plans appear below).
    from pyspark.sql import Window as W  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    consume(spark.range(1000).selectExpr("sum(id) as s"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10000)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    consume(
        li.join(docs, F.lit(True)).groupBy("l_returnflag").count()
    )
    toks = docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("w") - 2, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice("w", i, 3)),
            )
        ).alias("g"),
    )
    consume(grams.groupBy("g").count())
    consume(
        li.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("l_returnflag").orderBy("l_orderkey")
            ),
        ).where("rn <= 3")
    )

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
    # Validity loop: see PROBE_AGREEMENT above. The rotation re-runs
    # with each attempt on purpose — the kept record's rotation
    # numbers must come from the same window as its probes, or the
    # record is internally inconsistent.
    attempts: list[dict] = []
    for attempt in range(1, MAX_ATTEMPTS + 1):
        payload = timing_pass(spark, qmap, sf_dir, sf)
        payload["attempt"] = attempt
        attempts.append(payload)
        if payload["probe_disagreement"] <= PROBE_AGREEMENT:
            break
        print(
            f"# attempt {attempt}: probes disagree "
            f"{payload['probe_disagreement']}x (> {PROBE_AGREEMENT}) — "
            "contention-crossed, re-running",
            file=sys.stderr,
        )
    payload = min(attempts, key=lambda p: p["probe_disagreement"])
    payload["attempts"] = len(attempts)
    payload["contention_crossed"] = (
        payload["probe_disagreement"] > PROBE_AGREEMENT
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
