"""Event-stream analytics suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



# ========================================================================
# from analytics_extras3.py — original batch rationale:
# Analytics extras, batch 3: market-basket association rules,
# one-way ANOVA, time-series autocorrelation and seasonality, and a
# time-constrained conversion funnel.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's aggregation / events tiers:
#
# * association rules — support/confidence/lift over within-order brand
#   pairs, the classic recommender co-purchase signal;
# * one-way ANOVA F — does the metric differ across k variants, in two
#   aggregate passes over one scan;
# * lag-1 autocorrelation — is the daily series trending or mean-
#   reverting, per event type;
# * day-of-week seasonal indexes — multiplicative seasonality factors
#   for forecast baselines;
# * windowed funnel — view→click→purchase where each step must land
#   within 24h of the previous (greedy first-touch chain), the
#   ClickHouse-windowFunnel-shaped variant of `funnel_conversion`.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "event_funnel_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_buy
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_24h,
           (SELECT COUNT(*) FROM p) AS n_purchase_24h
    """,
)
def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (greedy first-touch chain): first view,
    then first click within 24h of that view, then first purchase
    within 24h of that click — the windowFunnel-shaped counterpart of
    `funnel_conversion`, where unbounded ordering is replaced by a
    per-step deadline.

    Implemented as three chained window aggregates all partitioned by
    user_id: Spark plans them over ONE exchange + sort (consecutive
    Window operators with the same partitioning share the shuffle),
    and the final per-user reduce reuses that partitioning too — the
    whole funnel costs a single O(data) shuffle, with no per-stage
    self-joins (the oracle spells the same chain as joins because SQL
    can't reference a window result inside a peer window).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    h24 = F.expr("INTERVAL 24 HOURS")
    e1 = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    e2 = e1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view"))
                & (F.col("ts") <= F.col("t_view") + h24),
                F.col("ts"),
            )
        ).over(w),
    )
    e3 = e2.withColumn(
        "t_buy",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click"))
                & (F.col("ts") <= F.col("t_click") + h24),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_buy").alias("t_buy"),
    )
    return per_user.agg(
        F.count_if(F.col("t_view").isNotNull()).alias("n_view"),
        F.count_if(F.col("t_click").isNotNull()).alias("n_click_24h"),
        F.count_if(F.col("t_buy").isNotNull()).alias("n_purchase_24h"),
    )


# ========================================================================
# from analytics_extras4.py — original batch rationale:
# Analytics extras, batch 4: C4-style duplicate-span corpus stats,
# linear multi-touch attribution, price-series drawdown, ABC (Pareto
# class) inventory classification, CUSUM changepoint detection, and
# daily lead-lag cross-correlation.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's LLM-pipeline / aggregation /
# time-series tiers:
#
# * duplicate-span stats — the C4/RefinedWeb signal "how much of each
#   document is made of spans that also occur in other documents",
#   computed on non-overlapping 10-token spans;
# * linear attribution — purchase value split equally across the
#   user's view/click touches in the prior 7 days, the simplest
#   defensible multi-touch model;
# * max drawdown — largest peak-to-trough decline of the daily-revenue
#   series, the classic risk statistic;
# * ABC classification — A/B/C Pareto classes by cumulative revenue
#   share (70/90 cut), the inventory-management staple;
# * CUSUM changepoint — day of maximum |cumulative deviation from the
#   mean| per event type, the page-one change-detection statistic;
# * cross-correlation — Pearson correlation between the daily view
#   series and the purchase series shifted by lag −3..+3 days, the
#   lead-lag discovery tool.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "attribution_linear_touch",
    oracle="""
    WITH buys AS (
      SELECT user_id, ts AS buy_ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT e.user_id, e.event_type, b.buy_ts, b.value
      FROM events e JOIN buys b ON e.user_id = b.user_id
      WHERE e.event_type IN ('view','click') AND e.ts < b.buy_ts
        AND e.ts >= b.buy_ts - INTERVAL 7 DAY
    ),
    per_buy AS (
      SELECT event_type, value,
             COUNT(*) OVER (PARTITION BY user_id, buy_ts) AS n_touch
      FROM touches
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(ROUND(SUM(CAST(value / n_touch AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS attributed_value
    FROM per_buy GROUP BY event_type
    """,
)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's view/click events in the 7 days before
    it; report touch count and attributed value per touch type.

    Scale shape: both sides reduce before the join — purchases are a
    small filtered slice, touches a filtered projection — and the
    join keys on user_id, so one co-partitioning shuffle serves the
    join, the per-purchase touch-count window (user_id partition ⊇
    user_id,buy_ts), and nothing else; the final groupBy is O(types).
    The 7-day predicate bounds the per-user fan-out, so a hot user
    contributes at most touches×purchases-in-window pairs, not a full
    cross product.
    """
    e = load_table(spark, sf_dir, "events")
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), "value"
    )
    t = e.where(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("ts").alias("touch_ts")
    )
    touches = t.join(buys, "user_id").where(
        (F.col("touch_ts") < F.col("buy_ts"))
        & (F.col("touch_ts") >= F.col("buy_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    w = Window.partitionBy("user_id", "buy_ts")
    per_buy = touches.select(
        "event_type", "value", F.count("*").over(w).alias("n_touch")
    )
    return per_buy.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        # value/n_touch quantized to DECIMAL(18,6) per row on both
        # engines (identical IEEE division first), so the sum is
        # exact and order-independent
        F.round(
            F.sum(
                (F.col("value") / F.col("n_touch")).cast("decimal(18,6)")
            ),
            2,
        )
        .cast("double")
        .alias("attributed_value"),
    )


# ========================================================================
# from analytics_extras6.py — original batch rationale:
# Analytics extras, batch 6: survival analysis, multiple-testing
# correction, Holt-Winters smoothing, differential-privacy counts, KMV
# set sketches, watermark-dedup batch twin, bloom-prefiltered join,
# distributed connected components, the feature-hashing trick, and a
# Poisson rate test.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's statistics / privacy / sketch /
# graph tiers:
#
# * Kaplan-Meier — right-censored survival over order→last-ship
#   durations (status 'F' = event, else censored);
# * Benjamini-Hochberg — step-up FDR adjustment over per-group Welch
#   z p-values (logistic CDF approximation, identical in both engines);
# * Holt-Winters — level+trend double exponential smoothing, a genuine
#   sequential recurrence run as one per-key array fold;
# * DP noisy counts — Laplace mechanism with an md5-derived inverse-CDF
#   sample, so the noise is deterministic and oracle-checkable;
# * KMV sketch — k-minimum-values NDV + Jaccard/intersection estimates
#   with exact counterparts side by side;
# * watermark dedup — batch twin of Structured Streaming's
#   dropDuplicatesWithinWatermark (first event wins per key);
# * bloom prefilter — two-phase dim-key pruning (hashed bucket-set
#   broadcast, then exact broadcast semi join);
# * connected components — iterative min-label propagation on the
#   co-purchase graph, oracled by a recursive-CTE closure;
# * hashing trick — fixed-width token bucketing (the streaming-safe
#   vocabulary-free vectorizer);
# * Poisson rate test — conditional two-sample count comparison.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stream_dedup_batch",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_first,
           ROUND(SUM(value), 2) AS first_value_sum
    FROM ranked WHERE rn = 1
    GROUP BY event_type
    """,
)
def stream_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of Structured Streaming's
    dropDuplicatesWithinWatermark: keep only the first event per
    (user_id, event_type) in event-time order (event_id tie-break),
    then summarize survivors per type. In streaming the same keep-
    first semantics comes from dropDuplicates + a watermark bounding
    key state; this batch form is the convergence target any
    micro-batch slicing must reach.

    Shape: one per-key window (keys are fine-grained, so the shuffle
    is well-spread) feeding an O(types) aggregate. At 100 TB the
    dedup state is the concern, not the compute — in the streaming
    form the watermark caps it; in batch, AQE handles the key-space
    spread."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    firsts = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return firsts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_first"),
        F.round(F.sum("value"), 2).alias("first_value_sum"),
    )


# ========================================================================
# from analytics_extras8.py — original batch rationale:
# Analytics extras, batch 8: Markov-chain steady state, cross-table
# reconciliation, training-shard manifests, and CDC apply with deletes.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's iterative / data-quality /
# training-data tiers:
#
# * Markov stationary distribution — event-type transition chain power-
#   iterated to steady state (10 fixed rounds, fully oracled via an
#   unrolled-CTE matrix-vector chain);
# * reconciliation — the orders-vs-lineitem monthly coverage audit
#   every warehouse runs between fact tables;
# * shard manifest — deterministic greedy packing of documents into
#   fixed-size training shards (the WebDataset/TFRecord manifest step);
# * CDC apply — last-writer-wins change-feed materialization with
#   delete tombstones, one window pass.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_MK_STATES = ["click", "error", "purchase", "signup", "view"]


_MK_ITERS = 10


def _markov_oracle() -> str:
    s = _MK_STATES
    ns = len(s)
    # transition counts pivot: c_ij + row totals r_i
    cells = ",\n             ".join(
        f"SUM(CASE WHEN prev = '{s[i]}' AND event_type = '{s[j]}' "
        f"THEN 1 ELSE 0 END) AS c{i}{j}"
        for i in range(ns)
        for j in range(ns)
    )
    rows = ",\n             ".join(
        f"SUM(CASE WHEN prev = '{s[i]}' THEN 1 ELSE 0 END) AS r{i}"
        for i in range(ns)
    )
    sql = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    tc AS (
      SELECT {cells},
             {rows},
             COUNT(prev) AS n_trans
      FROM seq WHERE prev IS NOT NULL
    ),
    it0 AS (SELECT {", ".join(f"0.2::DOUBLE AS d{j}" for j in range(ns))})
    """
    prev = "it0"
    for k in range(1, _MK_ITERS + 1):
        comps = ", ".join(
            "("
            + " + ".join(
                f"{prev}.d{i} * (tc.c{i}{j} * 1.0 / tc.r{i})" for i in range(ns)
            )
            + f") AS d{j}"
            for j in range(ns)
        )
        sql += f", it{k} AS (SELECT {comps} FROM {prev} CROSS JOIN tc)\n"
        prev = f"it{k}"
    outs = ", ".join(
        f"ROUND({prev}.d{j}, 6) AS p_{s[j]}" for j in range(len(s))
    )
    sql += f"""
    SELECT CAST(tc.n_trans AS BIGINT) AS n_transitions, {outs}
    FROM {prev} CROSS JOIN tc
    """
    return sql



@register("event_markov_stationary", oracle=_markov_oracle())
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: the
    5x5 transition matrix comes from one lag-window pass over
    per-user event sequences; the steady state is d <- dP iterated
    10 fixed rounds from uniform (power iteration on the O(states^2)
    matrix, a 25-cell driver-side object). The long-run share of each
    event type under the observed dynamics — what traffic converges
    to, as opposed to what today's mix is.

    Scale: the only O(rows) work is the lag window (shuffled by
    user_id, well-spread keys); the iteration runs on a collected
    25-cell matrix, the PageRank-loop pattern at its smallest. The
    DuckDB oracle unrolls all 10 matrix-vector products as chained
    CTEs over the same conditional-count pivot, so the fixpoint math
    itself is verified, not just the transition counts."""
    s = _MK_STATES
    ns = len(s)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    tc = seq.agg(
        *[
            F.sum(
                ((F.col("prev") == s[i]) & (F.col("event_type") == s[j])).cast(
                    "long"
                )
            ).alias(f"c{i}{j}")
            for i in range(ns)
            for j in range(ns)
        ],
        *[
            F.sum((F.col("prev") == s[i]).cast("long")).alias(f"r{i}")
            for i in range(ns)
        ],
        F.count(F.lit(1)).alias("n_trans"),
    ).collect()[0]
    p = [
        [tc[f"c{i}{j}"] / tc[f"r{i}"] for j in range(ns)] for i in range(ns)
    ]
    d = [0.2] * ns
    for _ in range(_MK_ITERS):
        nd = []
        for j in range(ns):
            acc = d[0] * p[0][j]
            for i in range(1, ns):
                acc = acc + d[i] * p[i][j]
            nd.append(acc)
        d = nd
    return spark.range(1).select(
        F.lit(tc["n_trans"]).cast("long").alias("n_transitions"),
        *[F.round(F.lit(d[j]), 6).alias(f"p_{s[j]}") for j in range(ns)],
    )


# ========================================================================
# from analytics_extras13.py — original batch rationale:
# Analytics extras, batch 13: Markov removal-effect attribution and
# class-balanced sampling.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's attribution / training-data tiers:
#
# * removal-effect attribution — the Markov-chain attribution model
#   (Anderl et al.): each channel's credit is the drop in modeled
#   conversion probability when that channel is removed from the
#   journey graph, computed by finite-horizon value iteration and
#   fully oracled via unrolled CTEs;
# * balanced sampling — md5-deterministic equal-per-class
#   downsampling, the class-rebalancing step before training.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_MRA_CHANNELS = ["click", "error", "signup", "view"]


_MRA_SRCS = ["START"] + _MRA_CHANNELS


_MRA_DSTS = _MRA_CHANNELS + ["purchase", "NULL"]


_MRA_ITERS = 15


def _mra_trans_cte() -> str:
    return """
    ordered AS (
      SELECT user_id, event_type, ts, event_id,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS purch_before,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    kept AS (SELECT * FROM ordered WHERE purch_before = 0),
    trans AS (
      -- LEAD runs over ALL kept rows (purchase included) BEFORE the
      -- source filter — filtering first would make the window skip
      -- purchase rows and no transition would ever enter 'purchase'
      SELECT src, dst FROM (
        SELECT event_type AS src,
               COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id), 'NULL')
                 AS dst
        FROM kept
      ) WHERE src <> 'purchase'
      UNION ALL
      SELECT 'START' AS src, event_type AS dst FROM kept WHERE rn = 1
    )"""


def _mra_oracle() -> str:
    srcs, dsts = _MRA_SRCS, _MRA_DSTS
    cells = ",\n             ".join(
        f"SUM(CASE WHEN src = '{s}' AND dst = '{d}' THEN 1 ELSE 0 END) AS c_{i}_{j}"
        for i, s in enumerate(srcs)
        for j, d in enumerate(dsts)
    )
    rows = ",\n             ".join(
        f"SUM(CASE WHEN src = '{s}' THEN 1 ELSE 0 END) AS r_{i}"
        for i, s in enumerate(srcs)
    )
    sql = f"""
    WITH {_mra_trans_cte()},
    tc AS (
      SELECT {cells},
             {rows}
      FROM trans
    )
    """

    def value_iteration(tag: str, removed: str | None) -> str:
        # chain CTEs v{tag}_{k} with one column per src state
        out = f", v{tag}_0 AS (SELECT {', '.join(f'0.0::DOUBLE AS s{i}' for i in range(len(srcs)))})\n"
        prev = f"v{tag}_0"
        for k in range(1, _MRA_ITERS + 1):
            comps = []
            for i, s in enumerate(srcs):
                if removed is not None and s == removed:
                    comps.append(f"0.0::DOUBLE AS s{i}")
                    continue
                terms = []
                for j, d in enumerate(dsts):
                    if removed is not None and d == removed:
                        continue  # redirected to NULL (value 0)
                    if d == "purchase":
                        val = "1.0"
                    elif d == "NULL":
                        continue  # value 0
                    else:
                        val = f"{prev}.s{srcs.index(d)}"
                    terms.append(f"(tc.c_{i}_{j} * 1.0 / tc.r_{i}) * {val}")
                expr = " + ".join(terms) if terms else "0.0"
                comps.append(
                    f"CASE WHEN tc.r_{i} = 0 THEN 0.0 ELSE {expr} END AS s{i}"
                )
            out += (
                f", v{tag}_{k} AS (SELECT {', '.join(comps)}"
                f" FROM {prev} CROSS JOIN tc)\n"
            )
            prev = f"v{tag}_{k}"
        return out

    sql += value_iteration("b", None)
    for c in _MRA_CHANNELS:
        sql += value_iteration(c, c)
    base = f"vb_{_MRA_ITERS}.s0"
    re_exprs = {
        c: f"(1.0 - v{c}_{_MRA_ITERS}.s0 / {base})" for c in _MRA_CHANNELS
    }
    total = " + ".join(re_exprs.values())
    rows_sql = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, ROUND({base}, 4) AS base_cvr_15step, "
        f"ROUND({re_exprs[c]}, 4) AS removal_effect, "
        f"ROUND(CASE WHEN ({total}) = 0 THEN 0.0 ELSE {re_exprs[c]} / ({total}) END, 4)"
        f" AS attribution_share "
        f"FROM vb_{_MRA_ITERS}"
        + "".join(f" CROSS JOIN v{cc}_{_MRA_ITERS}" for cc in _MRA_CHANNELS)
        for c in _MRA_CHANNELS
    )
    return sql + rows_sql



@register("event_attribution_markov_removal", oracle=_mra_oracle())
def event_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al., 2014): user
    journeys (events up to the first purchase) define a transition
    graph START -> channels -> {purchase, NULL}; each channel's
    credit is the relative drop in modeled conversion probability
    when the channel is removed (its inbound edges redirected to
    NULL) — credit for being causally on the path, unlike
    position-based rules (cf. attribution_linear_touch). Conversion
    probabilities use 15-step value iteration v(s) = sum_t P(s,t)v(t)
    (a finite-horizon conversion measure, identical on both engines).

    Shape: one lag/lead window pass builds O(states^2) transition
    counts; all five chains (base + 4 removals) iterate on the
    collected matrix driver-side — the Markov-stationary pattern with
    a what-if twist. The oracle unrolls every chain's 15 rounds as
    CTEs, so the counterfactual math is verified end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("purch_before"),
        F.row_number().over(w).alias("rn"),
    )
    kept = ordered.where(F.col("purch_before") == 0)
    # lead over ALL kept rows first (so purchase is a visible target),
    # THEN drop purchase as a source — the reverse order silently
    # removes every transition into the absorbing conversion state
    seq_trans = (
        kept.select(
            F.col("event_type").alias("src"),
            F.coalesce(F.lead("event_type").over(w), F.lit("NULL")).alias("dst"),
        )
        .where(F.col("src") != "purchase")
    )
    start_trans = kept.where(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("event_type").alias("dst")
    )
    trans = seq_trans.union(start_trans)
    srcs, dsts = _MRA_SRCS, _MRA_DSTS
    tc = trans.agg(
        *[
            F.sum(
                ((F.col("src") == s) & (F.col("dst") == d)).cast("long")
            ).alias(f"c_{i}_{j}")
            for i, s in enumerate(srcs)
            for j, d in enumerate(dsts)
        ],
        *[
            F.sum((F.col("src") == s).cast("long")).alias(f"r_{i}")
            for i, s in enumerate(srcs)
        ],
    ).collect()[0]

    def converge(removed: str | None) -> float:
        v = [0.0] * len(srcs)
        for _ in range(_MRA_ITERS):
            nv = []
            for i, s in enumerate(srcs):
                if removed is not None and s == removed:
                    nv.append(0.0)
                    continue
                r = tc[f"r_{i}"]
                if r == 0:
                    nv.append(0.0)
                    continue
                acc = None
                for j, d in enumerate(dsts):
                    if removed is not None and d == removed:
                        continue
                    if d == "purchase":
                        val = 1.0
                    elif d == "NULL":
                        continue
                    else:
                        val = v[srcs.index(d)]
                    term = (tc[f"c_{i}_{j}"] * 1.0 / r) * val
                    acc = term if acc is None else acc + term
                nv.append(acc if acc is not None else 0.0)
            v = nv
        return v[0]  # START

    base = converge(None)
    effects = {c: 1.0 - converge(c) / base for c in _MRA_CHANNELS}
    total = sum(effects.values())
    rows = [
        (
            c,
            base,
            effects[c],
            effects[c] / total if total != 0 else 0.0,
        )
        for c in _MRA_CHANNELS
    ]
    # round via Spark (HALF_UP like DuckDB) — python round() banker's
    # rounding could diverge at exact midpoints
    raw = spark.createDataFrame(
        rows, ["channel", "base_cvr_15step", "removal_effect", "attribution_share"]
    )
    return raw.select(
        "channel",
        F.round("base_cvr_15step", 4).alias("base_cvr_15step"),
        F.round("removal_effect", 4).alias("removal_effect"),
        F.round("attribution_share", 4).alias("attribution_share"),
    )


# ========================================================================
# from analytics_extras14.py — original batch rationale:
# Analytics extras, batch 14: growth accounting, inventory reorder
# points, and rare-category redaction.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's product-analytics / operations /
# privacy tiers:
#
# * user lifecycle — monthly growth accounting (new / retained /
#   resurrected / churned), the canonical active-user bridge;
# * reorder point — mu*L + z*sigma*sqrt(L) safety-stock math per part
#   from daily demand statistics;
# * rare-category redaction — small categories collapse into OTHER
#   before release (the k-threshold suppression rule that complements
#   privacy_k_anonymity).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "event_user_lifecycle",
    oracle="""
    WITH am AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(date_diff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS m
      FROM events
    ),
    seq AS (
      SELECT user_id, m,
             MIN(m) OVER (PARTITION BY user_id) AS first_m,
             LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
      FROM am
    ),
    flows AS (
      SELECT m,
             SUM(CASE WHEN m = first_m THEN 1 ELSE 0 END) AS n_new,
             SUM(CASE WHEN prev_m = m - 1 THEN 1 ELSE 0 END) AS n_retained,
             SUM(CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1
                      THEN 1 ELSE 0 END) AS n_resurrected
      FROM seq GROUP BY m
    ),
    churn AS (
      SELECT a.m + 1 AS m, COUNT(*) AS n_churned
      FROM am a LEFT JOIN am b
        ON b.user_id = a.user_id AND b.m = a.m + 1
      WHERE b.user_id IS NULL AND a.m < (SELECT MAX(m) FROM am)
      GROUP BY a.m + 1
    )
    SELECT CAST(f.m AS BIGINT) AS week_no,
           CAST(f.n_new AS BIGINT) AS n_new,
           CAST(f.n_retained AS BIGINT) AS n_retained,
           CAST(f.n_resurrected AS BIGINT) AS n_resurrected,
           CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned,
           CAST(f.n_new + f.n_retained + f.n_resurrected AS BIGINT)
             AS n_active
    FROM flows f LEFT JOIN churn c ON c.m = f.m
    """,
)
def event_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user is exactly one of
    new (first week ever), retained (active last week), or
    resurrected (active before, but not last week); churned(w) =
    users active in w-1 and silent in w. The bridge identity
    active(m) = active(m-1) + new + resurrected - churned is what a
    growth team reads weekly (the Social Capital accounting
    framework).

    Shape: the event stream compresses to distinct (user, month) in
    one pass; classification is a per-user lag window on the
    compressed table; churn is an anti-join of consecutive months.
    All shuffles are on user_id / month over O(users x months)
    rows."""
    ev = load_table(spark, sf_dir, "events")
    am = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7.0
        )
        .cast("long")
        .alias("m"),
    ).distinct()
    w_u = Window.partitionBy("user_id")
    seq = am.select(
        "user_id",
        "m",
        F.min("m").over(w_u).alias("first_m"),
        F.lag("m").over(w_u.orderBy("m")).alias("prev_m"),
    )
    flows = seq.groupBy("m").agg(
        F.sum(F.when(F.col("m") == F.col("first_m"), 1).otherwise(0)).alias("n_new"),
        # when/otherwise, not bool-cast: NULL prev_m makes the
        # comparison NULL, and SUM of all-NULL is NULL (not 0)
        F.sum(F.when(F.col("prev_m") == F.col("m") - 1, 1).otherwise(0)).alias(
            "n_retained"
        ),
        F.sum(
            F.when(
                F.col("prev_m").isNotNull() & (F.col("prev_m") < F.col("m") - 1), 1
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    max_m = am.agg(F.max("m").alias("max_m"))
    nxt = am.select("user_id", (F.col("m") + 1).alias("m1"))
    churn = (
        am.crossJoin(F.broadcast(max_m))
        .where(F.col("m") < F.col("max_m"))
        .join(
            nxt,
            (am["user_id"] == nxt["user_id"]) & (nxt["m1"] == am["m"] + 1),
            "left_anti",
        )
        .groupBy((F.col("m") + 1).alias("cm"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    out = flows.join(churn, flows["m"] == churn["cm"], "left")
    return out.select(
        F.col("m").cast("long").alias("week_no"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_retained").cast("long").alias("n_retained"),
        F.col("n_resurrected").cast("long").alias("n_resurrected"),
        F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        (F.col("n_new") + F.col("n_retained") + F.col("n_resurrected"))
        .cast("long")
        .alias("n_active"),
    )


# ========================================================================
# from analytics_extras16.py — original batch rationale:
# Analytics extras, batch 16: quantile normalization via
# applyInPandas, RFM segment migration, power analysis, and invoice
# reconciliation.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's feature-engineering /
# segmentation / experimentation / data-quality tiers:
#
# * quantile normalization — per-group values mapped onto the global
#   quantile ladder (the omics/feature-pipeline distribution fix),
#   implemented as an Arrow-batched applyInPandas grouped-map with the
#   interpolation oracled in SQL;
# * RFM migration — spend-quartile transition matrix between periods,
#   the segmentation-dynamics view behind "are our best customers
#   downgrading";
# * power analysis — required n per arm for a target lift from
#   observed variance, the pre-experiment sizing formula;
# * invoice reconciliation — header-vs-lines amount audit (and in
#   these fixtures it FINDS the inconsistency: o_totalprice is not
#   derivable from lineitem, which is exactly what the audit is for).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_RFM_SPLIT = "1998-01-01"



@register(
    "event_rfm_migration_matrix",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '{_RFM_SPLIT}' THEN 1 ELSE 2 END
               AS period,
             SUM(o_totalprice) AS s
      FROM orders GROUP BY 1, 2
    ),
    tiled AS (
      SELECT o_custkey, period,
             NTILE(4) OVER (PARTITION BY period ORDER BY s DESC, o_custkey)
               AS quartile
      FROM spend
    ),
    m AS (
      SELECT a.quartile AS q_from, b.quartile AS q_to
      FROM tiled a JOIN tiled b
        ON a.o_custkey = b.o_custkey AND a.period = 1 AND b.period = 2
    )
    SELECT CAST(q_from AS BIGINT) AS q_from,
           CAST(q_to AS BIGINT) AS q_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM m GROUP BY q_from, q_to
    """,
)
def event_rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: customers are spend-quartiled (NTILE
    4, deterministic custkey tie-break) independently in two periods
    (split at 1998-01-01), and the matrix counts who moved where —
    the dynamics view that static RFM (segment_rfm) cannot show:
    a heavy diagonal means stable segments, mass below it means your
    best customers are downgrading.

    Shape: one grouped pass to (customer, period) spend, then the
    two NTILEs via the grouped two-level primitive — period has TWO
    values, so PARTITION BY period would sort O(customers)/2 rows in
    one task per period (r11 window audit: max group 10x across a
    10x step); grouped_ntile hash-exchanges on (period, spend
    bucket) instead. One self-join on customer."""
    from hivetomysql_spark.operators.ranks import grouped_ntile

    o = load_table(spark, sf_dir, "orders")

    spend = o.groupBy(
        "o_custkey",
        F.when(F.col("o_orderdate") < F.lit(_RFM_SPLIT).cast("timestamp"), 1)
        .otherwise(2)
        .alias("period"),
    ).agg(F.sum("o_totalprice").alias("s"))
    tiled = grouped_ntile(
        spend.withColumn("__negs", -F.col("s")),
        ["period"],
        4,
        "__negs",
        ["o_custkey"],
        out="quartile",
    ).select("o_custkey", "period", "quartile")
    a = tiled.where(F.col("period") == 1).select(
        "o_custkey", F.col("quartile").alias("q_from")
    )
    b = tiled.where(F.col("period") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("quartile").alias("q_to")
    )
    m = a.join(b, a["o_custkey"] == b["ck2"])
    return m.groupBy("q_from", "q_to").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    ).select(
        F.col("q_from").cast("long").alias("q_from"),
        F.col("q_to").cast("long").alias("q_to"),
        "n_customers",
    )


# ========================================================================
# from analytics_extras18.py — original batch rationale:
# Analytics extras, batch 18: engagement stickiness and bounce rate.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); rounds out SURVEY.md §2.2's product-analytics tier:
#
# * stickiness — avg(DAU)/WAU per week, the engagement-frequency
#   ratio every consumer product tracks;
# * bounce rate — share of 30-minute-gap sessions containing exactly
#   one event, on the same sessionization the streaming tier uses.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "event_stickiness_dau_mau",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(FLOOR(date_diff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
      FROM events
    ),
    dau AS (
      SELECT wk, day, COUNT(*) AS dau FROM d GROUP BY wk, day
    ),
    wau AS (
      SELECT wk, COUNT(DISTINCT user_id) AS wau FROM d GROUP BY wk
    )
    SELECT CAST(a.wk AS BIGINT) AS week_no,
           CAST(w.wau AS BIGINT) AS wau,
           ROUND(AVG(a.dau), 2) AS avg_dau,
           ROUND(AVG(a.dau) / w.wau, 4) AS stickiness
    FROM dau a JOIN wau w ON w.wk = a.wk
    GROUP BY a.wk, w.wau
    """,
)
def event_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness per week: avg(DAU)/WAU — 1.0 means every
    weekly user shows up every day, ~0.14 means once a week. The
    frequency ratio (classically DAU/MAU) that separates habitual
    products from occasional ones, over the same weekly grain as
    event_user_lifecycle.

    Shape: distinct (user, day) in one pass, then two tiny
    aggregates; everything after the first distinct is O(users x
    days)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7.0
        )
        .cast("long")
        .alias("wk"),
    ).distinct()
    dau = d.groupBy("wk", "day").agg(F.count(F.lit(1)).alias("dau"))
    wau = d.groupBy("wk").agg(F.countDistinct("user_id").alias("wau"))
    j = dau.join(wau, "wk")
    return j.groupBy("wk", "wau").agg(
        F.round(F.avg("dau"), 2).alias("avg_dau"),
        F.round(F.avg("dau") / F.first("wau"), 4).alias("stickiness"),
    ).select(
        F.col("wk").cast("long").alias("week_no"),
        F.col("wau").cast("long").alias("wau"),
        "avg_dau",
        "stickiness",
    )



@register(
    "event_bounce_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    ),
    per AS (
      SELECT user_id, session_id, COUNT(*) AS n FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS bounce_rate,
           ROUND(AVG(n), 2) AS avg_session_events
    FROM per
    """,
)
def event_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over 30-minute-gap sessions: the share of sessions
    containing exactly one event — the engagement-quality headline
    that pairs with session counts (stream_gap_sessions_batch uses
    the identical sessionization, so streaming and batch report the
    same denominator).

    Shape: the standard lag/cumsum sessionizer (user-keyed windows,
    well-spread shuffle) followed by an O(sessions) rollup to a
    single row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > 1800 * 1_000_000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n"))
    bounce = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounces"),
        F.round(bounce / F.count(F.lit(1)), 4).alias("bounce_rate"),
        F.round(F.avg("n"), 2).alias("avg_session_events"),
    )


# ========================================================================
# from analytics_extras24.py — original batch rationale:
# Analytics extras, batch 24: realized volatility and activation
# rate.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's finance / product-analytics
# tiers:
#
# * realized volatility — rolling 10-day standard deviation of daily
#   log revenue returns (annualized), the risk gauge behind
#   vol-scaled alerting and position sizing;
# * activation rate — share of users reaching >= 3 events in their
#   first week, the onboarding funnel's headline number.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_ACT_MIN_EVENTS = 3



@register(
    "event_activation_rate",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    week1 AS (
      SELECT e.user_id, COUNT(*) AS n_w1
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      WHERE e.ts < f.first_ts + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_w1 >= {_ACT_MIN_EVENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_activated,
           ROUND(SUM(CASE WHEN n_w1 >= {_ACT_MIN_EVENTS} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS activation_rate,
           ROUND(AVG(n_w1), 2) AS avg_week1_events
    FROM week1
    """,
)
def event_activation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-1 activation: the share of users who reach >= 3 events
    within 7 days of their first event — the onboarding-funnel
    headline (the 'aha moment' proxy metric) that growth teams pick
    before optimizing anything else.

    Shape: one groupBy for first timestamps, re-joined on user (the
    classic fact-to-firsts join, co-partitioned under bucketing), one
    filtered count, one O(users) rollup to a single row."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    week1 = (
        ev.join(firsts, "user_id")
        .where(F.col("ts") < F.col("first_ts") + F.expr("INTERVAL 7 DAYS"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_w1"))
    )
    act = F.sum(F.when(F.col("n_w1") >= _ACT_MIN_EVENTS, 1).otherwise(0))
    return week1.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        act.cast("long").alias("n_activated"),
        F.round(act / F.count(F.lit(1)), 4).alias("activation_rate"),
        F.round(F.avg("n_w1"), 2).alias("avg_week1_events"),
    )


# ========================================================================
# from analytics_extras26.py — original batch rationale:
# Analytics extras, batch 26: peak concurrency via sweep line.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); the round's final SURVEY.md §2.2 entry:
#
# * peak concurrency — maximum simultaneous 30-minute-gap sessions by
#   the classic sweep-line (+1 at session start, -1 after session end,
#   running sum) — the capacity-planning number behind connection
#   pools and autoscaling floors.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_peak_concurrency",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    ),
    bounds AS (
      SELECT user_id, session_id,
             MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT s AS t, 1 AS delta FROM bounds
      UNION ALL
      SELECT e + INTERVAL 1 MICROSECOND AS t, -1 AS delta FROM bounds
    ),
    sweep AS (
      SELECT t,
             SUM(delta) OVER (ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS concurrent
      FROM deltas
    )
    SELECT CAST((SELECT COUNT(*) FROM bounds) AS BIGINT) AS n_sessions,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrency,
           MIN(CASE WHEN concurrent = (SELECT MAX(concurrent) FROM sweep)
                    THEN t END) AS peak_at
    FROM sweep
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions by sweep line: every 30-minute-gap
    session (same sessionizer as the streaming tier) contributes +1
    at its start and -1 just after its end; the running sum over the
    merged, time-ordered delta stream is the concurrency curve, and
    its maximum (with first time it is reached) is the capacity
    number connection pools and autoscaling floors are sized to.
    Tie handling: ends are shifted one microsecond past the last
    event so a session ending exactly when another starts still
    counts as overlapping; at any remaining equal instant the
    ascending delta tie-break applies ends (-1) before starts —
    identical on both engines, which is all a differential gate
    needs.

    Shape: sessionize (user-keyed windows), reduce to O(sessions)
    intervals, explode to 2 deltas each, one global ordered running
    sum over the O(sessions) delta stream — the sweep is tiny relative
    to the event scan; at 100 TB the global sweep becomes
    range-partitioned prefix sums with broadcast offsets."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > 1800 * 1_000_000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # checkpoint the O(sessions) reduction: bounds feeds four
    # consumers (both sweep branches, n_sessions, the peak probe) —
    # without pinning, each re-runs the full sessionization subtree
    # (measured 2.6x at sf0.1 when the r9 distributed sweep added
    # its offsets branch)
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).localCheckpoint()
    deltas = bounds.select(F.col("s").alias("t"), F.lit(1).alias("delta")).union(
        bounds.select(
            (F.timestamp_micros(F.unix_micros("e") + 1)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    # distributed sweep: value-range buckets over t + per-bucket
    # running sums + broadcast offsets (operators/ranks) — the r9
    # measured-row audit caught the previous form running the whole
    # O(sessions) delta stream through one sorted partition
    from hivetomysql_spark.operators.ranks import grouped_row_number

    # the sweep frame is consumed twice (peak probe + final filter);
    # pin it so the bucketed machinery runs once
    sweep = (
        grouped_row_number(
            deltas, [], "t", ["delta"], out=None, sums={"concurrent": "delta"}
        )
        .select("t", F.col("concurrent").cast("long").alias("concurrent"))
        .localCheckpoint()
    )
    n_sessions = bounds.count()
    peak = sweep.agg(F.max("concurrent").alias("p")).collect()[0]["p"]
    return sweep.where(F.col("concurrent") == peak).agg(
        F.lit(n_sessions).cast("long").alias("n_sessions"),
        F.lit(peak).cast("long").alias("peak_concurrency"),
        F.min("t").alias("peak_at"),
    )


# ========================================================================
# from analytics_extras29.py — original batch rationale:
# Analytics extras, batch 29: relational ML training/eval and
# corpus-tooling ops.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * multinomial naive Bayes language ID — train AND predict fully
#   relationally (count model + broadcast log-likelihood join), the
#   simplest end-to-end ML loop an engine can host.
# * ABC/XYZ inventory matrix — Pareto revenue class × demand
#   variability class, the ops-planning segmentation.
# * discrete-time churn hazard — the hazard-table complement of the
#   Kaplan-Meier survival query.
# * BPE first-merge candidates — the pair-count step every tokenizer
#   trainer runs over the corpus.
# * RAKE keyword extraction — stopword-delimited phrase scoring via
#   gaps-and-islands, no UDFs.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "event_churn_hazard",
    oracle="""
    WITH life AS (
      SELECT user_id,
             CAST(FLOOR(date_diff('day', MIN(ts), MAX(ts)) / 7.0) AS BIGINT)
               AS w
      FROM events GROUP BY user_id
    ),
    risk AS (
      SELECT w AS week, COUNT(*) AS n_churned FROM life GROUP BY w
    )
    SELECT week,
           CAST(SUM(n_churned) OVER (ORDER BY week DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           ROUND(n_churned * 1.0 /
                 SUM(n_churned) OVER (ORDER BY week DESC
                                      ROWS UNBOUNDED PRECEDING), 6) AS hazard
    FROM risk
    ORDER BY week
    """,
)
def event_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard table: each user's observed
    lifetime in whole weeks (first event → last event); hazard(w) =
    users whose lifetime ended in week w / users surviving at least
    to week w (a reverse-cumulative sum over the week histogram) —
    the hazard-function complement of `stats_kaplan_meier`, and the
    input to any discrete-time survival regression.

    Shape: one user-keyed aggregate reduces the fact table to
    O(users), one week histogram reduces that to O(weeks), then an
    O(weeks) reverse running sum — at 100 TB only the first
    aggregation touches data-sized input."""
    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.floor(
            F.datediff(F.max("ts"), F.min("ts")) / 7.0
        ).cast("long").alias("w")
    )
    risk = life.groupBy(F.col("w").alias("week")).agg(
        F.count(F.lit(1)).alias("n_churned")
    )
    at_risk = F.sum("n_churned").over(
        Window.orderBy(F.desc("week")).rowsBetween(Window.unboundedPreceding, 0)
    )
    return risk.select(
        "week",
        at_risk.cast("long").alias("n_at_risk"),
        F.col("n_churned").cast("long").alias("n_churned"),
        F.round(F.col("n_churned") / at_risk, 6).alias("hazard"),
    ).orderBy("week")


# ========================================================================
# from analytics_extras32.py — original batch rationale:
# Analytics extras, batch 32: graph traversal, SPC monitoring, and
# stateful alerting.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * BFS shortest-path distances — iterative frontier expansion, the
#   traversal primitive under "within N hops" features.
# * EWMA control chart — statistical process control over the metric
#   stream, the alerting layer of every data-quality monitor.
# * alert debounce — throttled alerting with a dynamic anchor (next
#   alert depends on when the previous one fired), the canonical
#   sequential recurrence that plain windows cannot express.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "window_alert_debounce",
    oracle="""
    WITH err AS (
      SELECT user_id, epoch_us(ts) * 1.0 AS t
      FROM events WHERE event_type = 'error'
    ),
    s AS (
      SELECT user_id, list(t ORDER BY t) AS ts_list FROM err
      GROUP BY user_id
    ),
    folded AS (
      -- accumulator [last_alert_t, n_alerts]: an error raises an
      -- alert only if >= 30 min passed since the previous ALERT (a
      -- dynamic anchor — not expressible with fixed-frame windows)
      SELECT user_id, len(ts_list) AS n_errors,
             list_reduce(
               list_transform(ts_list, t -> [t, 0.0]),
               (acc, e) -> CASE
                 WHEN e[1] - acc[1] >= 1800000000.0
                 THEN [e[1], acc[2] + 1.0]
                 ELSE [acc[1], acc[2]] END
             ) AS st
      FROM s
    )
    SELECT user_id,
           CAST(n_errors AS BIGINT) AS n_errors,
           CAST(st[2] + 1 AS BIGINT) AS n_alerts
    FROM folded
    ORDER BY user_id
    """,
)
def window_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounced alerting over error events: the first error alerts;
    subsequent errors alert only if ≥ 30 minutes have passed since
    the PREVIOUS ALERT (not the previous event) — a dynamic-anchor
    recurrence that fixed-frame windows and gap sessionization
    cannot express, because each decision depends on the fold state.
    Per-user error and alert counts.

    Shape: filter to the error stream, one groupBy(user) collecting
    the sorted timestamp array, one JVM-side fold with [last_alert,
    n] state — O(errors-per-user) state, keys parallelize; the
    streaming twin is applyInPandasWithState with the same update."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", (F.unix_micros("ts") * 1.0).alias("t")
    )
    s = err.groupBy("user_id").agg(
        F.array_sort(F.collect_list("t")).alias("ts_list")
    )
    st = F.aggregate(
        F.slice(
            F.col("ts_list"), 2, F.greatest(F.size("ts_list") - 1, F.lit(0))
        ),
        F.array(F.element_at("ts_list", 1), F.lit(0.0)),
        lambda acc, t: F.when(
            t - F.element_at(acc, 1) >= 1800000000.0,
            F.array(t, F.element_at(acc, 2) + 1.0),
        ).otherwise(acc),
    )
    return s.select(
        "user_id",
        F.size("ts_list").cast("long").alias("n_errors"),
        (F.element_at(st, 2) + 1).cast("long").alias("n_alerts"),
    ).orderBy("user_id")


# ========================================================================
# from analytics_extras36.py — original batch rationale:
# Analytics extras, batch 36: watermark economics, distributed
# linear algebra, and spectral audio features.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * late-data accounting — how many events each watermark delay would
#   drop per window, the number that PICKS the watermark.
# * Gram matrix — X^T X over the embedding matrix as a relational
#   aggregate, the kernel under PCA/covariance/linear probes.
# * DFT band energies — real 4-bin spectral features over decoded WAV
#   PCM, cross-engine verified against re-synthesized samples.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stream_late_data_accounting",
    oracle="""
    WITH arr AS (
      -- arrival order = event_id (the generator emits ids in arrival
      -- order); an event is late-by-d if when it arrives, the max
      -- event time already seen exceeds its own event time by > d
      SELECT ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS seen_max
      FROM events
    ),
    lateness AS (
      SELECT DATE_TRUNC('hour', ts) AS w,
             CASE WHEN seen_max IS NULL THEN 0.0
                  ELSE GREATEST(epoch_us(seen_max) - epoch_us(ts), 0)
                       / 1000000.0 END AS late_s
      FROM arr
    )
    SELECT CAST(w AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(SUM(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_10m,
           CAST(SUM(CASE WHEN late_s > 1800 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_30m,
           ROUND(MAX(late_s), 1) AS max_late_s
    FROM lateness
    GROUP BY w
    ORDER BY w
    """,
)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark economics: replaying the event stream in ARRIVAL
    order (event_id), each event's lateness is how far the observed
    event-time high-water mark has already passed it; per hourly
    window, count events a 10-minute vs 30-minute watermark would
    drop. This table — not intuition — is how you pick
    `withWatermark`'s delay: the smallest d whose drop count is
    acceptable. Batch twin of the streaming tier's watermark
    semantics (`streaming/windows.py`).

    Shape: one DISTRIBUTED running-max over arrival order
    (operators/ranks.grouped_running_max_exclusive, no group columns:
    within-bucket
    running max + earlier-bucket maxima joined back — no
    single-partition sort; the r9 measured-row audit caught the
    previous events-sized global window), one hourly aggregate."""
    from hivetomysql_spark.operators.ranks import (
        grouped_running_max_exclusive,
    )

    ev = load_table(spark, sf_dir, "events")
    seen = grouped_running_max_exclusive(
        ev.select("ts", "event_id"),
        [],
        "event_id",
        value="ts",
        out="seen_max",
    ).select("ts", "seen_max")
    late_s = F.when(F.col("seen_max").isNull(), 0.0).otherwise(
        F.greatest(
            (F.unix_micros("seen_max") - F.unix_micros("ts")) / 1e6,
            F.lit(0.0),
        )
    )
    lateness = seen.select(
        F.date_trunc("hour", "ts").alias("window_start"),
        late_s.alias("late_s"),
    )
    return (
        lateness.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_out_of_order"),
            F.sum(F.when(F.col("late_s") > 600, 1).otherwise(0))
            .cast("long")
            .alias("dropped_at_10m"),
            F.sum(F.when(F.col("late_s") > 1800, 1).otherwise(0))
            .cast("long")
            .alias("dropped_at_30m"),
            F.round(F.max("late_s"), 1).alias("max_late_s"),
        )
        .orderBy("window_start")
    )


# ========================================================================
# from analytics_extras37.py — original batch rationale:
# Analytics extras, batch 37: clustering initialization, inventory
# economics, causal estimation, and intermittent-demand forecasting.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * k-means++ seeding — D²-weighted center selection, the step that
#   makes Lloyd's algorithm work; md5-determinized so the sampling
#   itself is oracle-checked round by round.
# * newsvendor quantile — the critical-fractile stocking level from
#   the empirical demand distribution.
# * difference-in-differences — the 2×2 causal estimator over a
#   pre/post × treat/control split.
# * Croston's method — the intermittent-demand forecaster (separate
#   EMAs for demand size and inter-demand interval).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "event_diff_in_diff",
    oracle="""
    WITH split AS (
      SELECT user_id % 2 = 0 AS treated,
             ts >= (SELECT quantile_cont(epoch_us(ts), 0.5) FROM events)
               AS post,
             value
      FROM (SELECT user_id, epoch_us(ts) AS ts, value FROM events)
    ),
    cell AS (
      SELECT treated, post, AVG(value) AS m, COUNT(*) AS n
      FROM split GROUP BY treated, post
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_events,
           ROUND(MAX(CASE WHEN treated AND post THEN m END)
                 - MAX(CASE WHEN treated AND NOT post THEN m END), 6)
             AS treat_delta,
           ROUND(MAX(CASE WHEN NOT treated AND post THEN m END)
                 - MAX(CASE WHEN NOT treated AND NOT post THEN m END), 6)
             AS control_delta,
           ROUND((MAX(CASE WHEN treated AND post THEN m END)
                  - MAX(CASE WHEN treated AND NOT post THEN m END))
                 - (MAX(CASE WHEN NOT treated AND post THEN m END)
                    - MAX(CASE WHEN NOT treated AND NOT post THEN m END)),
                 6) AS did_effect
    FROM cell
    """,
)
def event_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 causal estimator — (treated
    post − treated pre) − (control post − control pre) — over a
    deterministic treatment split (even user ids) and the median
    timestamp as the intervention point. On this fixture the true
    effect is 0 by construction, so the estimate doubles as an A/A
    validity check of the pipeline (the same property experimentation
    platforms continuously assert).

    Shape: one median pass, one 4-cell conditional aggregate — two
    scans at any scale, the parallel-trends diagnostics (per-period
    cell means) fall out of the same groupBy."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.agg(
        F.percentile(F.unix_micros("ts"), F.lit(0.5)).alias("cut")
    )
    split = ev.crossJoin(F.broadcast(med)).select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.unix_micros("ts") >= F.col("cut")).alias("post"),
        "value",
    )
    cell = split.groupBy("treated", "post").agg(
        F.avg("value").alias("m"), F.count(F.lit(1)).alias("n")
    )
    tp = F.max(F.when(F.col("treated") & F.col("post"), F.col("m")))
    tq = F.max(F.when(F.col("treated") & ~F.col("post"), F.col("m")))
    cp = F.max(F.when(~F.col("treated") & F.col("post"), F.col("m")))
    cq = F.max(F.when(~F.col("treated") & ~F.col("post"), F.col("m")))
    return cell.agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(tp - tq, 6).alias("treat_delta"),
        F.round(cp - cq, 6).alias("control_delta"),
        F.round((tp - tq) - (cp - cq), 6).alias("did_effect"),
    )


# ========================================================================
# from analytics_extras39.py — original batch rationale:
# Analytics extras, batch 39: revenue retention, reliability
# metrics, distribution divergence, and metric-learning data prep.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * NRR / GRR — net and gross revenue retention year over year, the
#   SaaS board metrics, as two cohort aggregates.
# * MTBF / MTTR — mean time between failures and to recovery from the
#   error stream, the reliability pair under every SLO.
# * Jensen-Shannon divergence — per-source token-distribution
#   distance from the corpus, the symmetric bounded drift measure.
# * semi-hard triplet mining — the batch data-prep step of metric
#   learning (FaceNet-style): negatives inside the (d_ap, d_ap+margin)
#   band per anchor.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_mtbf_mttr",
    oracle="""
    WITH seq AS (
      SELECT ts, event_type, event_id,
             LAG(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
               OVER (ORDER BY ts, event_id) AS prev_err
      FROM events
    ),
    failures AS (
      -- time between consecutive errors, global stream
      SELECT epoch_us(ts) - epoch_us(prev_err) AS gap_us
      FROM seq WHERE event_type = 'error' AND prev_err IS NOT NULL
    ),
    recoveries AS (
      -- first non-error event after each error = recovery
      SELECT epoch_us(ts) - epoch_us(prev_err) AS rec_us
      FROM (
        SELECT ts, event_type, prev_err,
               ROW_NUMBER() OVER (PARTITION BY prev_err
                                  ORDER BY ts, event_id) AS rn
        FROM seq WHERE event_type <> 'error' AND prev_err IS NOT NULL
      ) WHERE rn = 1
    )
    SELECT CAST((SELECT COUNT(*) + 1 FROM failures) AS BIGINT)
             AS n_failures,
           ROUND((SELECT AVG(gap_us) FROM failures) / 1000000.0, 2)
             AS mtbf_s,
           ROUND((SELECT AVG(rec_us) FROM recoveries) / 1000000.0, 2)
             AS mttr_s,
           ROUND(1.0 - (SELECT AVG(rec_us) FROM recoveries)
                       / (SELECT AVG(gap_us) FROM failures), 6)
             AS availability
    """,
)
def events_mtbf_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTBF and MTTR from the event stream: mean gap between
    consecutive errors (failures), mean gap from each error to the
    first non-error event after it (recovery), and the implied
    availability 1 − MTTR/MTBF — the reliability pair every SLO
    review reads together (high MTBF with high MTTR is a different
    problem than the reverse).

    Shape: the IGNORE-NULLS forward-carry is a DISTRIBUTED running
    max of the conditional error timestamp — legal because the
    carried value (ts when error) is monotone in the (ts, event_id)
    order, so LAST == MAX over earlier rows
    (operators/ranks.grouped_running_max_exclusive with no group
    columns; the r9
    measured-row audit caught the previous events-sized global
    window). Then one row_number per error epoch and two scalar
    aggregates."""
    from hivetomysql_spark.operators.ranks import (
        grouped_running_max_exclusive,
    )

    ev = load_table(spark, sf_dir, "events")
    seq = grouped_running_max_exclusive(
        ev.select(
            "ts",
            "event_type",
            "event_id",
            F.when(F.col("event_type") == "error", F.col("ts")).alias(
                "err_ts"
            ),
        ),
        [],
        "ts",
        ["event_id"],
        value="err_ts",
        out="prev_err",
    ).drop("err_ts")
    failures = seq.where(
        (F.col("event_type") == "error") & F.col("prev_err").isNotNull()
    ).select(
        (F.unix_micros("ts") - F.unix_micros("prev_err")).alias("gap_us")
    )
    rec_w = Window.partitionBy("prev_err").orderBy("ts", "event_id")
    recoveries = (
        seq.where(
            (F.col("event_type") != "error") & F.col("prev_err").isNotNull()
        )
        .withColumn("rn", F.row_number().over(rec_w))
        .where("rn = 1")
        .select(
            (F.unix_micros("ts") - F.unix_micros("prev_err")).alias("rec_us")
        )
    )
    f = failures.agg(
        F.count(F.lit(1)).alias("nf"), F.avg("gap_us").alias("mtbf_us")
    )
    r = recoveries.agg(F.avg("rec_us").alias("mttr_us"))
    return f.crossJoin(F.broadcast(r)).select(
        (F.col("nf") + 1).cast("long").alias("n_failures"),
        F.round(F.col("mtbf_us") / 1e6, 2).alias("mtbf_s"),
        F.round(F.col("mttr_us") / 1e6, 2).alias("mttr_s"),
        F.round(1.0 - F.col("mttr_us") / F.col("mtbf_us"), 6).alias(
            "availability"
        ),
    )


# ========================================================================
# from analytics_extras40.py — original batch rationale:
# Analytics extras, batch 40: ANN index tuning, experimentation
# variance reduction, and composite supplier scoring.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * ANN recall sweep — recall@5 of the IVF index at nprobe 1/2/4 vs
#   exact, the tuning curve that picks the latency/recall operating
#   point.
# * CUPED — pre-period covariate adjustment, the standard
#   experimentation variance-reduction; θ and the measured variance
#   drop from sufficient statistics.
# * supplier scorecard — min-max-normalized composite of on-time
#   rate, price consistency, and volume share.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.operators import similarity as S
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_cuped_adjustment",
    oracle="""
    WITH med AS (
      SELECT quantile_cont(epoch_us(ts), 0.5) AS cut FROM events
    ),
    per_user AS (
      SELECT user_id,
             AVG(CASE WHEN epoch_us(ts) < med.cut THEN value END) AS pre,
             AVG(CASE WHEN epoch_us(ts) >= med.cut THEN value END) AS post
      FROM events, med
      GROUP BY user_id
      HAVING pre IS NOT NULL AND post IS NOT NULL
    ),
    theta AS (
      SELECT COVAR_SAMP(post, pre) / VAR_SAMP(pre) AS th,
             AVG(pre) AS pre_mean
      FROM per_user
    ),
    adj AS (
      SELECT post, post - th * (pre - pre_mean) AS cuped
      FROM per_user, theta
    )
    SELECT CAST((SELECT COUNT(*) FROM per_user) AS BIGINT) AS n_users,
           ROUND((SELECT th FROM theta), 6) AS theta,
           ROUND(AVG(post), 6) AS post_mean,
           ROUND(AVG(cuped), 6) AS cuped_mean,
           ROUND(1.0 - VAR_SAMP(cuped) / VAR_SAMP(post), 6)
             AS variance_reduction
    FROM adj
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): adjust each user's post-period
    metric by θ·(pre − pre-mean) where θ = cov(post, pre)/var(pre) —
    the variance-reduction every mature experimentation platform
    applies before computing treatment effects, because the same
    experiment then needs (1 − var-reduction)× the sample. Reported:
    θ, the unchanged mean (CUPED is mean-preserving by
    construction), and the measured variance drop.

    Shape: one per-user 2-period aggregate, one covariance pass over
    O(users), one adjusted pass — three reduces, nothing data-sized
    after the first."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.agg(F.percentile(F.unix_micros("ts"), F.lit(0.5)).alias("cut"))
    per_user = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.avg(
                F.when(F.unix_micros("ts") < F.col("cut"), F.col("value"))
            ).alias("pre"),
            F.avg(
                F.when(F.unix_micros("ts") >= F.col("cut"), F.col("value"))
            ).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    theta = per_user.agg(
        (F.covar_samp("post", "pre") / F.var_samp("pre")).alias("th"),
        F.avg("pre").alias("pre_mean"),
        F.count(F.lit(1)).alias("n_users"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "post",
        (
            F.col("post") - F.col("th") * (F.col("pre") - F.col("pre_mean"))
        ).alias("cuped"),
        "th",
        "n_users",
    )
    return adj.agg(
        F.first("n_users").cast("long").alias("n_users"),
        F.round(F.first("th"), 6).alias("theta"),
        F.round(F.avg("post"), 6).alias("post_mean"),
        F.round(F.avg("cuped"), 6).alias("cuped_mean"),
        F.round(
            1.0 - F.var_samp("cuped") / F.var_samp("post"), 6
        ).alias("variance_reduction"),
    )


# ========================================================================
# from analytics_extras42.py — original batch rationale:
# Analytics extras, batch 42: tail risk, cluster quality, and
# sequential-testing discipline.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * VaR / CVaR — historical value-at-risk and expected shortfall of
#   daily revenue changes.
# * simplified silhouette — per-cluster cohesion vs nearest-other-
#   centroid separation for the k-means assignment.
# * peeking bias — how often a naive daily-checked A/A "experiment"
#   crosses z=1.96 at least once, the number that justifies
#   sequential corrections.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_ab_peeking_bias",
    oracle="""
    WITH assigned AS (
      SELECT CAST(ts AS DATE) AS d,
             user_id % 2 = 0 AS grp, value
      FROM events
    ),
    daily AS (
      SELECT d, grp, SUM(value) AS s, SUM(value * value) AS ss,
             COUNT(*) AS n
      FROM assigned GROUP BY d, grp
    ),
    cum AS (
      SELECT d, grp,
             SUM(s) OVER (PARTITION BY grp ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS cs,
             SUM(ss) OVER (PARTITION BY grp ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS css,
             SUM(n) OVER (PARTITION BY grp ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS cn
      FROM daily
    ),
    z AS (
      SELECT a.d,
             (a.cs / a.cn - b.cs / b.cn)
             / SQRT((a.css / a.cn - (a.cs / a.cn) * (a.cs / a.cn)) / a.cn
                    + (b.css / b.cn - (b.cs / b.cn) * (b.cs / b.cn)) / b.cn)
               AS zstat
      FROM cum a JOIN cum b ON b.d = a.d AND a.grp AND NOT b.grp
      WHERE a.cn >= 30 AND b.cn >= 30
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_looks,
           CAST(SUM(CASE WHEN ABS(zstat) > 1.96 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_triggers,
           ROUND(MAX(ABS(zstat)), 4) AS max_abs_z,
           ROUND(ABS((SELECT zstat FROM z ORDER BY d DESC LIMIT 1)), 4)
             AS final_abs_z
    FROM z
    """,
)
def events_ab_peeking_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeking-bias measurement on an A/A split (even vs odd user
    ids, no true effect): the cumulative two-sample z statistic
    evaluated EVERY day, counting how many daily looks would have
    (falsely) crossed |z| > 1.96 — the concrete demonstration of why
    naive repeated significance checks inflate false positives and
    sequential corrections (mSPRT, alpha-spending) exist. The final-
    day z is the legitimate fixed-horizon test for contrast.

    Shape: daily (group × day) sufficient statistics, two cumulative
    windows over O(days), one join per day-pair — nothing data-sized
    after the first reduce, so the whole sequential trace costs one
    extra window over the daily table."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        F.col("ts").cast("date").alias("d"),
        (F.col("user_id") % 2 == 0).alias("grp"),
        "value",
    )
    daily = assigned.groupBy("d", "grp").agg(
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("grp").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "d",
        "grp",
        F.sum("s").over(w).alias("cs"),
        F.sum("ss").over(w).alias("css"),
        F.sum("n").over(w).alias("cn"),
    )
    a = cum.where("grp").select(
        "d",
        F.col("cs").alias("csa"),
        F.col("css").alias("cssa"),
        F.col("cn").alias("cna"),
    )
    b = cum.where("NOT grp").select(
        "d",
        F.col("cs").alias("csb"),
        F.col("css").alias("cssb"),
        F.col("cn").alias("cnb"),
    )
    ma = F.col("csa") / F.col("cna")
    mb = F.col("csb") / F.col("cnb")
    va = (F.col("cssa") / F.col("cna") - ma * ma) / F.col("cna")
    vb = (F.col("cssb") / F.col("cnb") - mb * mb) / F.col("cnb")
    z = (
        a.join(b, "d")
        .where((F.col("cna") >= 30) & (F.col("cnb") >= 30))
        .select("d", ((ma - mb) / F.sqrt(va + vb)).alias("zstat"))
    )
    final = (
        z.orderBy(F.desc("d"))
        .limit(1)
        .select(F.abs("zstat").alias("fz"))
    )
    return (
        z.crossJoin(F.broadcast(final))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_looks"),
            F.sum(F.when(F.abs("zstat") > 1.96, 1).otherwise(0))
            .cast("long")
            .alias("n_false_triggers"),
            F.round(F.max(F.abs("zstat")), 4).alias("max_abs_z"),
            F.round(F.first("fz"), 4).alias("final_abs_z"),
        )
    )


# ========================================================================
# from analytics_extras43.py — original batch rationale:
# Analytics extras, batch 43: robust estimation, information rate,
# and vocabulary richness.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * median-of-means — the heavy-tail-robust mean estimator built from
#   k bucketed means (the primitive inside robust streaming
#   estimators).
# * entropy rate — bits per transition of the event-type Markov
#   chain, the compressibility/predictability of the behavior stream.
# * hapax ratio — once-occurring vocabulary share per source, the
#   richness complement of Heaps'-law fitting.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS (
      SELECT event_type AS a, nxt AS b, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    row_tot AS (SELECT a, SUM(n) AS rn FROM trans GROUP BY a),
    tot AS (SELECT SUM(n) * 1.0 AS t FROM trans)
    SELECT CAST((SELECT SUM(n) FROM trans) AS BIGINT) AS n_transitions,
           ROUND(-SUM((row_tot.rn / tot.t)
                      * (trans.n * 1.0 / row_tot.rn)
                      * LN(trans.n * 1.0 / row_tot.rn)) / LN(2.0), 6)
             AS entropy_rate_bits,
           ROUND(LN((SELECT COUNT(DISTINCT a) FROM trans)) / LN(2.0), 6)
             AS max_entropy_bits
    FROM trans
    JOIN row_tot ON row_tot.a = trans.a
    CROSS JOIN tot
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = −Σ_a π(a) Σ_b P(b|a) log₂ P(b|a), with π estimated from
    transition mass — bits of surprise per step, against the log₂|A|
    ceiling. Low rate = predictable journeys (prefetchable,
    compressible, bot-like); near-ceiling = memoryless browsing. The
    information-theoretic single number summarizing the whole
    `event_transitions` matrix.

    Shape: one per-user lead window, one O(|A|²) transition count,
    O(|A|²) log math — data-sized work is the single window pass."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    row_tot = trans.groupBy("a").agg(F.sum("n").alias("rn"))
    tot = trans.agg(F.sum("n").cast("double").alias("t"))
    n_states = trans.select("a").distinct().count()
    joined = trans.join(F.broadcast(row_tot), "a").crossJoin(
        F.broadcast(tot)
    )
    p_cond = F.col("n") * 1.0 / F.col("rn")
    import math

    return joined.agg(
        F.sum("n").cast("long").alias("n_transitions"),
        F.round(
            -F.sum((F.col("rn") / F.col("t")) * p_cond * F.log(p_cond))
            / math.log(2.0),
            6,
        ).alias("entropy_rate_bits"),
        F.round(F.lit(math.log(n_states) / math.log(2.0)), 6).alias(
            "max_entropy_bits"
        ),
    )


# ========================================================================
# from analytics_extras44.py — original batch rationale:
# Analytics extras, batch 44: rolling regression, partial
# autocorrelation, and video shot detection.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * rolling beta — 30-day windowed regression slope of a segment's
#   revenue on total revenue, from windowed sufficient statistics.
# * PACF — partial autocorrelation at lags 1..3 via Durbin-Levinson,
#   the ARIMA order-selection diagnostic.
# * video shot detection — frame-to-frame mean pixel delta over REAL
#   concatenated-P6 frame walks, threshold crossings = cuts.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "window_rolling_beta",
    oracle="""
    WITH daily AS (
      SELECT CAST(o.o_orderdate AS DATE) AS d,
             SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                      THEN o.o_totalprice ELSE 0 END) AS seg,
             SUM(o.o_totalprice) AS tot
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    rolled AS (
      SELECT d,
             COUNT(*) OVER w AS n,
             AVG(seg) OVER w AS ms, AVG(tot) OVER w AS mt,
             AVG(seg * tot) OVER w AS mst,
             AVG(tot * tot) OVER w AS mtt
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ),
    beta AS (
      SELECT d, (mst - ms * mt) / (mtt - mt * mt) AS b
      FROM rolled WHERE n = 30 AND (mtt - mt * mt) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
           ROUND(AVG(b), 6) AS mean_beta,
           ROUND(MIN(b), 6) AS min_beta,
           ROUND(MAX(b), 6) AS max_beta,
           ROUND(STDDEV_SAMP(b), 6) AS beta_vol
    FROM beta
    """,
)
def window_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day regression beta of the BUILDING segment's daily
    revenue against total revenue, computed from windowed sufficient
    statistics (E[xy] − E[x]E[y]) / (E[y²] − E[y]²) — the
    rolling-factor-exposure pattern (finance beta, demand
    sensitivity) with NO per-window refit: four windowed averages
    replace a regression per day. Summary of the beta path
    (mean/min/max/vol).

    Shape: join + daily reduce, then four O(days) frame windows over
    the tiny daily table — the window frames never touch fact-table
    rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("c_mktsegment") == "BUILDING", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("seg"),
            F.sum("o_totalprice").alias("tot"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-29, 0)
    rolled = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.avg("seg").over(w).alias("ms"),
        F.avg("tot").over(w).alias("mt"),
        F.avg(F.col("seg") * F.col("tot")).over(w).alias("mst"),
        F.avg(F.col("tot") * F.col("tot")).over(w).alias("mtt"),
    )
    beta = rolled.where(
        (F.col("n") == 30) & (F.col("mtt") - F.col("mt") * F.col("mt") > 0)
    ).select(
        (
            (F.col("mst") - F.col("ms") * F.col("mt"))
            / (F.col("mtt") - F.col("mt") * F.col("mt"))
        ).alias("b")
    )
    return beta.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.round(F.avg("b"), 6).alias("mean_beta"),
        F.round(F.min("b"), 6).alias("min_beta"),
        F.round(F.max("b"), 6).alias("max_beta"),
        F.round(F.stddev_samp("b"), 6).alias("beta_vol"),
    )


# ========================================================================
# from analytics_extras45.py — original batch rationale:
# Analytics extras, batch 45: the dataset datasheet and engagement
# inequality.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * dataset card — the "datasheets for datasets" statistics table
#   (Gebru et al.): size, composition, duplication, length profile,
#   concentration — one query, release-ready numbers.
# * engagement Lorenz deciles — cumulative share of events held by
#   each user decile, the inequality curve behind "1% of users
#   generate X% of traffic".
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_lorenz_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT n, NTILE(10) OVER (ORDER BY n, user_id) AS decile
      FROM per_user
    ),
    per_dec AS (
      SELECT decile, SUM(n) AS dn, COUNT(*) AS users
      FROM ranked GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(users AS BIGINT) AS n_users,
           ROUND(SUM(dn) OVER (ORDER BY decile
                               ROWS UNBOUNDED PRECEDING)
                 * 1.0 / (SELECT SUM(n) FROM per_user), 6)
             AS cum_event_share
    FROM per_dec
    ORDER BY decile
    """,
)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement Lorenz curve by user decile: users ranked by event
    count into deciles (ascending), each row reporting the cumulative
    share of all events generated by the bottom k deciles — the curve
    whose distance from the diagonal is the engagement Gini, and the
    concrete form of "the top 10 % of users generate X % of traffic"
    for capacity and abuse planning.

    Shape: per-user reduce, one NTILE window over O(users), one
    10-row running share — nothing data-sized after the first
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = per_user.select(
        "n",
        F.ntile(10).over(Window.orderBy("n", "user_id")).alias("decile"),
    )
    per_dec = ranked.groupBy("decile").agg(
        F.sum("n").alias("dn"), F.count(F.lit(1)).alias("users")
    )
    tot = per_user.agg(F.sum("n").alias("t"))
    cum = F.sum("dn").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_dec.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long"),
            F.col("users").cast("long").alias("n_users"),
            F.round(cum * 1.0 / F.col("t"), 6).alias("cum_event_share"),
        )
        .orderBy("decile")
    )


# ========================================================================
# from analytics_extras50.py — original batch rationale:
# Analytics extras, batch 50: data-mixing epoch planning, weighted
# near-dup, a pinned Bloom filter, and time-decay scoring.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * mixture epoch planner — tokens-at-mix and epoch counts per source
#   under a temperature-adjusted sampling mix and a fixed token
#   budget, with the >4-epoch repetition flag (the data-constrained
#   scaling rule of thumb) — the table a pretraining run plans from.
# * IDF-weighted Jaccard — near-dup scoring where rare shingles count
#   more than boilerplate (the weighted upgrade of
#   `dedup_ngram_jaccard`, same posting-list shuffle plan).
# * pinned Bloom filter — a complete m-bit / k-hash Bloom filter
#   built relationally from md5 hashes, with measured-vs-theoretical
#   false-positive rate; completes the sketch family next to the
#   pinned HLL / count-min / linear-counting / KMV.
# * time-decay score — exponentially decayed engagement per user, the
#   classic recency-weighted feature.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_DECAY_TAU_DAYS = 7.0



@register(
    "window_time_decay_score",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value * EXP(-date_diff('second', ts, mx.tmax)
                                 / (86400.0 * {_DECAY_TAU_DAYS}))), 4)
             AS decayed_score
    FROM events CROSS JOIN mx
    GROUP BY user_id
    """,
)
def window_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user:
    sum(value * e^{{-(t_now - t)/tau}}) with tau = 7 days, anchored at
    the corpus max timestamp so the result is reproducible — the
    classic recency-weighted feature (recsys freshness, churn risk,
    support-ticket heat). A decayed sum is associative after scaling
    by the anchor, so partial aggregation works unchanged.

    Shape: one scalar anchor (broadcast), one map-side-combined
    groupBy. Nothing else."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.col("value")
                    * F.exp(
                        -(
                            F.unix_timestamp("tmax")
                            - F.unix_timestamp("ts")
                        )
                        / (86400.0 * _DECAY_TAU_DAYS)
                    )
                ),
                4,
            ).alias("decayed_score"),
        )
    )


# ========================================================================
# from analytics_extras53.py — original batch rationale:
# Analytics extras, batch 53: backfill planning, contribution
# analysis, funnel step latency, and Holm correction.
#
# The backfill planner is the one operator here with a DIRECT
# reference tie: `HiveToMysql.java:270-282` re-imports exactly one
# `ds=` partition per run and trusts the scheduler to know which —
# this query computes which (the gap manifest a scheduler iterates).
# The rest extend SURVEY.md §2.2:
#
# * contribution analysis — year-over-year revenue delta decomposed
#   by nation with share-of-change ranking (the "why did the metric
#   move" BI primitive), integer-cents exact.
# * funnel step latency — median/p90 time between funnel stages from
#   per-user first-touch timestamps.
# * Holm correction — step-down FWER control over the per-metric
#   Welch tests, sibling of `stats_benjamini_hochberg`'s FDR.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_funnel_step_latency",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT 'signup->click' AS step,
             date_diff('second', t_signup, t_click) AS lat
      FROM firsts
      WHERE t_signup IS NOT NULL AND t_click IS NOT NULL
        AND t_click >= t_signup
      UNION ALL
      SELECT 'click->purchase' AS step,
             date_diff('second', t_click, t_purchase) AS lat
      FROM firsts
      WHERE t_click IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_click
    )
    SELECT step,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(lat, 0.5) / 60.0, 4) AS p50_minutes,
           ROUND(quantile_cont(lat, 0.9) / 60.0, 4) AS p90_minutes
    FROM steps GROUP BY step
    """,
)
def events_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-between-funnel-steps: per user, FIRST signup, click, and
    purchase timestamps; per transition, the ordered-latency
    distribution (p50/p90 minutes). The number that tells a growth
    team WHERE the funnel is slow, which `funnel_conversion`'s
    pass-through rates cannot. Latencies are integer seconds, so the
    percentile interpolation is engine-exact.

    Shape: one conditional-aggregate reduce to O(users), a small
    union, one O(steps) percentile rollup."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = firsts.where(
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & (F.col("t_click") >= F.col("t_signup"))
    ).select(
        F.lit("signup->click").alias("step"),
        (
            F.unix_timestamp("t_click") - F.unix_timestamp("t_signup")
        ).alias("lat"),
    )
    s2 = firsts.where(
        F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_click"))
    ).select(
        F.lit("click->purchase").alias("step"),
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_click")
        ).alias("lat"),
    )
    return s1.unionByName(s2).groupBy("step").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.percentile("lat", F.lit(0.5)) / 60.0, 4).alias(
            "p50_minutes"
        ),
        F.round(F.percentile("lat", F.lit(0.9)) / 60.0, 4).alias(
            "p90_minutes"
        ),
    )


# ========================================================================
# from analytics_extras55.py — original batch rationale:
# Analytics extras, batch 55: interrupted time-series analysis and
# economic order quantity. (The third member of this batch is the LEFT
# OUTER stream-stream join registered in queries/streaming_batch.py as
# `stream_join_left_batch`, with its watermark-governed equivalence
# test in tests/test_streaming.py.)
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * interrupted time series — pre-period OLS trend projected as the
#   post-period counterfactual: level shift, slope change, cumulative
#   excess (the quasi-experimental design when there is no control
#   group, sibling of `event_diff_in_diff` which needs one).
# * EOQ — sqrt(2DS/H) economic order quantity per part, completing
#   the inventory family (reorder point, ABC/XYZ, Croston,
#   newsvendor).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_ITS_T0 = "1997-01-01"



@register(
    "events_interrupted_time_series",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                  AS TIMESTAMP) AS m,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1
    ),
    idx AS (
      SELECT m, y,
             CAST(date_diff('month', TIMESTAMP '1995-01-01', m) AS DOUBLE)
               AS t,
             m >= TIMESTAMP '{_ITS_T0}' AS post
      FROM monthly
    ),
    pre AS (
      SELECT COUNT(*) AS n, AVG(t) AS mt, AVG(y) AS my,
             (SUM(t * y) - COUNT(*) * AVG(t) * AVG(y))
             / (SUM(t * t) - COUNT(*) * AVG(t) * AVG(t)) AS slope
      FROM idx WHERE NOT post
    ),
    prefit AS (
      SELECT slope, my - slope * mt AS intercept FROM pre
    ),
    post_pts AS (
      SELECT i.t, i.y, p.intercept + p.slope * i.t AS yhat
      FROM idx i CROSS JOIN prefit p WHERE i.post
    ),
    post_ols AS (
      SELECT COUNT(*) AS n, AVG(t) AS mt, AVG(y) AS my,
             (SUM(t * y) - COUNT(*) * AVG(t) * AVG(y))
             / (SUM(t * t) - COUNT(*) * AVG(t) * AVG(t)) AS slope
      FROM idx WHERE post
    )
    SELECT CAST((SELECT n FROM pre) AS BIGINT) AS n_pre_months,
           CAST((SELECT n FROM post_ols) AS BIGINT) AS n_post_months,
           ROUND((SELECT slope FROM prefit), 4) AS pre_slope,
           ROUND((SELECT slope FROM post_ols), 4) AS post_slope,
           ROUND((SELECT slope FROM post_ols) - (SELECT slope FROM prefit), 4)
             AS slope_change,
           ROUND(AVG(y - yhat), 4) AS mean_level_shift,
           ROUND(SUM(y - yhat), 4) AS cumulative_excess
    FROM post_pts
    """,
)
def events_interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series analysis of the monthly order volume
    around an intervention at 1997-01-01: fit OLS on the PRE period
    only (closed-form slope/intercept from sufficient statistics),
    project it over the post period as the counterfactual, and report
    the mean level shift, the post-vs-pre slope change, and the
    cumulative excess — the quasi-experimental readout when no
    control group exists (`event_diff_in_diff` is the design when one
    does). On these fixtures the series is stable, so the shifts
    correctly read as noise — the A/A property every causal method
    should pass.

    Shape: the fact reduces to O(months) once; both OLS fits are
    single aggregates over the reduced series; the counterfactual is
    a broadcast of two scalars."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    monthly = o.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).alias("m")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    idx = monthly.select(
        "m",
        "y",
        F.months_between(
            F.col("m"), F.lit("1995-01-01").cast("timestamp")
        ).cast("double").alias("t"),
        (F.col("m") >= F.lit(_ITS_T0).cast("timestamp")).alias("post"),
    ).localCheckpoint(eager=False)  # pre/post OLS + counterfactual reuse

    def ols(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("t").alias("mt"),
            F.avg("y").alias("my"),
            (
                (
                    F.sum(F.col("t") * F.col("y"))
                    - F.count(F.lit(1)) * F.avg("t") * F.avg("y")
                )
                / (
                    F.sum(F.col("t") * F.col("t"))
                    - F.count(F.lit(1)) * F.avg("t") * F.avg("t")
                )
            ).alias("slope"),
        )

    pre = ols(idx.where(~F.col("post")))
    prefit = pre.select(
        "n",
        "slope",
        (F.col("my") - F.col("slope") * F.col("mt")).alias("intercept"),
    )
    post_ols = ols(idx.where(F.col("post"))).select(
        F.col("n").alias("pn"), F.col("slope").alias("post_slope")
    )
    post_pts = idx.where(F.col("post")).crossJoin(F.broadcast(prefit))
    resid = F.col("y") - (F.col("intercept") + F.col("slope") * F.col("t"))
    return (
        post_pts.agg(
            F.first("n").alias("n_pre"),
            F.first("slope").alias("pre_slope"),
            F.count(F.lit(1)).alias("n_post"),
            F.avg(resid).alias("mls"),
            F.sum(resid).alias("cex"),
        )
        .crossJoin(F.broadcast(post_ols))
        .select(
            F.col("n_pre").cast("long").alias("n_pre_months"),
            F.col("pn").cast("long").alias("n_post_months"),
            F.round("pre_slope", 4).alias("pre_slope"),
            F.round("post_slope", 4).alias("post_slope"),
            F.round(F.col("post_slope") - F.col("pre_slope"), 4).alias(
                "slope_change"
            ),
            F.round("mls", 4).alias("mean_level_shift"),
            F.round("cex", 4).alias("cumulative_excess"),
        )
    )


# ========================================================================
# from analytics_extras58.py — original batch rationale:
# Analytics extras, batch 58: bandit allocation, count-model
# goodness of fit, and the parallel-trends check.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Thompson allocation — P(arm is best) via md5-determinized Beta
#   posterior draws per event-type arm: the allocation table a bandit
#   serves from, extending `stats_bayesian_ab`'s two-arm posterior to
#   the k-arm decision.
# * Poisson GOF — items-per-order dispersion index and chi-square fit
#   against the Poisson hypothesis: the test that says whether a
#   count model (or the `stats_poisson_rate_test` machinery) applies.
# * parallel trends — pre-period slope gap between treatment proxies,
#   the validity check `event_diff_in_diff` silently assumes.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "events_did_parallel_trends",
    oracle="""
    WITH daily AS (
      SELECT user_id % 2 = 0 AS treated,
             date_trunc('day', ts) AS d,
             COUNT(*) AS y
      FROM events
      WHERE ts < TIMESTAMP '2024-01-20'
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT treated, CAST(date_diff('day', TIMESTAMP '2024-01-01', d)
                           AS DOUBLE) AS t, CAST(y AS DOUBLE) AS y
      FROM daily
    ),
    slopes AS (
      SELECT treated,
             COUNT(*) AS n,
             (SUM(t * y) - COUNT(*) * AVG(t) * AVG(y))
             / (SUM(t * t) - COUNT(*) * AVG(t) * AVG(t)) AS slope,
             (SUM(t * t) - COUNT(*) * AVG(t) * AVG(t)) AS sxx,
             VAR_SAMP(y) AS vy
      FROM idx GROUP BY treated
    )
    SELECT ROUND((SELECT slope FROM slopes WHERE treated), 4)
             AS treated_slope,
           ROUND((SELECT slope FROM slopes WHERE NOT treated), 4)
             AS control_slope,
           ROUND((SELECT slope FROM slopes WHERE treated)
                 - (SELECT slope FROM slopes WHERE NOT treated), 4)
             AS slope_gap,
           ROUND(((SELECT slope FROM slopes WHERE treated)
                  - (SELECT slope FROM slopes WHERE NOT treated))
                 / SQRT((SELECT vy / sxx FROM slopes WHERE treated)
                        + (SELECT vy / sxx FROM slopes WHERE NOT treated)),
                 4) AS approx_z
    FROM (SELECT 1)
    """,
)
def events_did_parallel_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parallel-trends validity check behind every
    difference-in-differences estimate (`event_diff_in_diff` assumes
    it silently): fit pre-period OLS trends separately for the
    treatment proxy (even user_ids) and control, and report the
    slope gap with an approximate z — a material gap here means the
    DiD identification fails BEFORE any effect estimate is read. On
    these A/A fixtures the gap correctly reads as noise.

    Shape: one reduce to (arm, day), two closed-form OLS fits over
    the reduced series, scalar assembly."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-20").cast("timestamp")
    )
    daily = ev.groupBy(
        (F.col("user_id") % 2 == 0).alias("treated"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.count(F.lit(1)).alias("y"))
    idx = daily.select(
        "treated",
        (
            F.unix_timestamp("d")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        ).cast("double").alias("secs"),
        F.col("y").cast("double").alias("y"),
    ).select("treated", (F.col("secs") / 86400.0).alias("t"), "y")
    idx = idx.localCheckpoint(eager=False)  # both arms' fits reuse it
    slopes = idx.groupBy("treated").agg(
        F.count(F.lit(1)).alias("n"),
        (
            (
                F.sum(F.col("t") * F.col("y"))
                - F.count(F.lit(1)) * F.avg("t") * F.avg("y")
            )
            / (
                F.sum(F.col("t") * F.col("t"))
                - F.count(F.lit(1)) * F.avg("t") * F.avg("t")
            )
        ).alias("slope"),
        (
            F.sum(F.col("t") * F.col("t"))
            - F.count(F.lit(1)) * F.avg("t") * F.avg("t")
        ).alias("sxx"),
        F.var_samp("y").alias("vy"),
    )
    tr = slopes.where("treated").select(
        F.col("slope").alias("ts_"), (F.col("vy") / F.col("sxx")).alias("tv")
    )
    ct = slopes.where(~F.col("treated")).select(
        F.col("slope").alias("cs_"), (F.col("vy") / F.col("sxx")).alias("cv")
    )
    j = tr.crossJoin(F.broadcast(ct))
    gap = F.col("ts_") - F.col("cs_")
    return j.select(
        F.round("ts_", 4).alias("treated_slope"),
        F.round("cs_", 4).alias("control_slope"),
        F.round(gap, 4).alias("slope_gap"),
        F.round(
            gap / F.sqrt(F.col("tv") + F.col("cv")), 4
        ).alias("approx_z"),
    )


# ========================================================================
# from analytics_extras66.py — original batch rationale:
# Analytics extras, batch 66: Markov absorption analysis and MATTR
# lexical diversity.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Markov absorption — expected steps-to-absorption and absorption
#   probabilities (purchase vs error) from every transient state via
#   a truncated Neumann series: the funnel-economics number that
#   completes the Markov family (stationary, removal attribution,
#   entropy rate).
# * MATTR — moving-average type-token ratio over 50-token windows:
#   the length-unbiased lexical-diversity measure (plain TTR falls
#   mechanically with document length; MATTR fixes the comparison).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_AB_TRANSIENT = ["signup", "click", "view"]


_AB_ABSORBING = ["purchase", "error"]


_AB_ITERS = 15


def _absorb_oracle() -> str:
    t, a = _AB_TRANSIENT, _AB_ABSORBING
    nt = len(t)
    cells = ",\n             ".join(
        f"SUM(CASE WHEN prev = '{t[i]}' AND event_type = '{s}' "
        f"THEN 1 ELSE 0 END) AS c_{i}_{s}"
        for i in range(nt)
        for s in (t + a)
    )
    rows = ",\n             ".join(
        f"SUM(CASE WHEN prev = '{t[i]}' THEN 1 ELSE 0 END) AS r{i}"
        for i in range(nt)
    )
    sql = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    tc AS (
      SELECT {cells}, {rows}
      FROM seq WHERE prev IS NOT NULL
    ),
    it0 AS (SELECT {", ".join(
        f"{'1.0' if i == j else '0.0'}::DOUBLE AS m{i}{j}"
        for i in range(nt) for j in range(nt))},
        {", ".join(f"1.0::DOUBLE AS st{i}" for i in range(nt))},
        {", ".join(f"0.0::DOUBLE AS ab{i}{s}" for i in range(nt) for s in a)}
    )
    """
    prev = "it0"
    q = lambda i, j: f"(tc.c_{i}_{t[j]} * 1.0 / tc.r{i})"  # noqa: E731
    r = lambda i, s: f"(tc.c_{i}_{s} * 1.0 / tc.r{i})"  # noqa: E731
    for k in range(1, _AB_ITERS + 1):
        absorb = ", ".join(
            f"({prev}.ab{i}{s} + "
            + " + ".join(f"{prev}.m{i}{j} * {r(j, s)}" for j in range(nt))
            + f") AS ab{i}{s}"
            for i in range(nt)
            for s in a
        )
        mass = ", ".join(
            "("
            + " + ".join(f"{prev}.m{i}{x} * {q(x, j)}" for x in range(nt))
            + f") AS m{i}{j}"
            for i in range(nt)
            for j in range(nt)
        )
        steps = ", ".join(
            f"({prev}.st{i} + "
            + " + ".join(
                "("
                + " + ".join(f"{prev}.m{i}{x} * {q(x, j)}" for x in range(nt))
                + ")"
                for j in range(nt)
            )
            + f") AS st{i}"
            for i in range(nt)
        )
        sql += (
            f", it{k} AS (SELECT {mass}, {steps}, {absorb} "
            f"FROM {prev} CROSS JOIN tc)\n"
        )
        prev = f"it{k}"
    selects = " UNION ALL ".join(
        f"SELECT '{t[i]}' AS start_state, "
        f"ROUND({prev}.st{i}, 4) AS expected_steps, "
        f"ROUND({prev}.ab{i}{a[0]}, 6) AS p_purchase, "
        f"ROUND({prev}.ab{i}{a[1]}, 6) AS p_error "
        f"FROM {prev} CROSS JOIN tc"
        for i in range(nt)
    )
    return sql + selects



@register("events_markov_absorption", oracle=_absorb_oracle())
def events_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain analysis of the event funnel: purchase and
    error absorb; from each transient state (signup/click/view) the
    expected number of steps until absorption (t = N·1, N = sum Q^k
    truncated at 15 terms) and where the user ends up (B = N·R,
    purchase vs error split) — the funnel-economics numbers behind
    'how long until a signup converts, and to what'. The 5-state
    matrix collects driver-side (25 scalars, the PageRank-loop
    pattern at its smallest); the oracle unrolls all 15 matrix
    powers with step and absorption accumulators as chained CTEs,
    verifying the series itself.

    Scale: the only O(rows) work is the per-user lag window;
    everything after runs on a 3x5 matrix."""
    t, a = _AB_TRANSIENT, _AB_ABSORBING
    nt = len(t)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    tc = seq.agg(
        *[
            F.sum(
                (
                    (F.col("prev") == t[i]) & (F.col("event_type") == s)
                ).cast("long")
            ).alias(f"c_{i}_{s}")
            for i in range(nt)
            for s in (t + a)
        ],
        *[
            F.sum((F.col("prev") == t[i]).cast("long")).alias(f"r{i}")
            for i in range(nt)
        ],
    ).collect()[0]
    Q = [
        [tc[f"c_{i}_{t[j]}"] / tc[f"r{i}"] for j in range(nt)]
        for i in range(nt)
    ]
    R = [
        [tc[f"c_{i}_{s}"] / tc[f"r{i}"] for s in a] for i in range(nt)
    ]
    M = [[1.0 if i == j else 0.0 for j in range(nt)] for i in range(nt)]
    st = [1.0] * nt
    ab = [[0.0, 0.0] for _ in range(nt)]
    for _ in range(_AB_ITERS):
        for i in range(nt):
            for s in range(2):
                acc = ab[i][s]
                for j in range(nt):
                    acc = acc + M[i][j] * R[j][s]
                ab[i][s] = acc
        NM = [[0.0] * nt for _ in range(nt)]
        for i in range(nt):
            for j in range(nt):
                acc = M[i][0] * Q[0][j]
                for x in range(1, nt):
                    acc = acc + M[i][x] * Q[x][j]
                NM[i][j] = acc
        for i in range(nt):
            st[i] = st[i] + sum(NM[i])
        M = NM
    rows = [
        (t[i], round(st[i], 10), ab[i][0], ab[i][1]) for i in range(nt)
    ]
    out = None
    for i in range(nt):
        row = spark.range(1).select(
            F.lit(t[i]).alias("start_state"),
            F.round(F.lit(st[i]), 4).alias("expected_steps"),
            F.round(F.lit(ab[i][0]), 6).alias("p_purchase"),
            F.round(F.lit(ab[i][1]), 6).alias("p_error"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ========================================================================
# from analytics_extras72.py — original batch rationale:
# Analytics extras, batch 72: parameter-sensitivity sweeps for the
# sessionizer and the entity-resolution matcher.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * session gap sweep — session counts/lengths at 15/30/60-minute
#   inactivity gaps: the table that PICKS the sessionizer's gap
#   parameter (same policy-pricing pattern as
#   `text_dedup_threshold_sweep` for dedup).
# * ER threshold calibration — candidate-pair volume and match-rate
#   versus edit-distance threshold over the blocked pairs: the cost/
#   recall curve that picks `er_blocked_fuzzy`'s cutoff.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_GAPS_MIN = [15, 30, 60]


def _gap_cte(minutes: int) -> str:
    gap = minutes * 60
    return f"""
    g{minutes} AS (
      SELECT '{minutes}min' AS gap_setting,
             COUNT(*) FILTER (WHERE new_s = 1) AS n_sessions,
             COUNT(*) AS n_events
      FROM (
        SELECT CASE WHEN prev IS NULL
                      OR date_diff('second', prev, ts) > {gap}
                    THEN 1 ELSE 0 END AS new_s
        FROM (
          SELECT ts, LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
          FROM events
        )
      )
    )"""



@register(
    "events_session_gap_sweep",
    oracle=f"""
    WITH {",".join(_gap_cte(m) for m in _GAPS_MIN)}
    SELECT gap_setting,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(n_events * 1.0 / n_sessions, 4) AS events_per_session
    FROM (SELECT * FROM g15 UNION ALL SELECT * FROM g30
          UNION ALL SELECT * FROM g60)
    """,
)
def events_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionizer parameter sweep: total sessions and events-per-
    session at 15/30/60-minute inactivity gaps — the sensitivity
    table that justifies the gap every session-based metric in this
    registry assumes (bounce rate, peak concurrency, funnels). A
    metric that halves between adjacent gap settings is a metric
    about the PARAMETER, not the users; a stable one is safe to
    ship. Same policy-pricing pattern as the dedup threshold sweep.

    Shape: ONE per-user lag pass computes the inter-event gap; all
    three settings are conditional aggregates over the same pass
    (no re-scan per setting)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s")
    )
    aggs = gaps.agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(
                (
                    F.col("gap_s").isNull() | (F.col("gap_s") > m * 60)
                ).cast("long")
            ).alias(f"s{m}")
            for m in _GAPS_MIN
        ],
    )
    out = None
    for m in _GAPS_MIN:
        row = aggs.select(
            F.lit(f"{m}min").alias("gap_setting"),
            F.col(f"s{m}").cast("long").alias("n_sessions"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("n_events") * 1.0 / F.col(f"s{m}"), 4).alias(
                "events_per_session"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ========================================================================
# from analytics_extras75.py — original batch rationale:
# Analytics extras, batch 75: time-domain cycle length and the
# Pythagorean means.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * peak cycle length — mean spacing between local maxima of the
#   daily series: the time-domain cycle estimate that should agree
#   with `timeseries_periodogram`'s frequency-domain winner.
# * Pythagorean means — arithmetic/geometric/harmonic means of unit
#   price per priority class with AM >= GM >= HM certified: harmonic
#   for rate-like averages, geometric for growth-like — using the
#   wrong one is a classic silent analytics bug, and this query makes
#   the three (and their mandatory ordering) visible side by side.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "window_peak_cycle_length",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    marked AS (
      SELECT d, y,
             LAG(y) OVER (ORDER BY d) AS pl,
             LEAD(y) OVER (ORDER BY d) AS nl,
             ROW_NUMBER() OVER (ORDER BY d) AS t
      FROM daily
    ),
    peaks AS (
      SELECT t FROM marked
      WHERE pl IS NOT NULL AND nl IS NOT NULL AND y > pl AND y > nl
    ),
    gaps AS (
      SELECT t - LAG(t) OVER (ORDER BY t) AS gap FROM peaks
    )
    SELECT CAST((SELECT COUNT(*) FROM peaks) AS BIGINT) AS n_peaks,
           CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap), 4) AS mean_cycle_days,
           CAST(MIN(gap) AS BIGINT) AS min_gap,
           CAST(MAX(gap) AS BIGINT) AS max_gap
    FROM gaps
    """,
)
def window_peak_cycle_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-domain cycle estimation: strict local maxima of the
    daily series (y above both neighbors) and the mean spacing
    between consecutive peaks — the estimate that should agree with
    `timeseries_periodogram`'s frequency-domain winner when a real
    cycle exists, and scatters when the series is noise (the
    cross-check between the two domains IS the diagnostic). Strict
    inequalities make peaks deterministic under ties.

    Shape: one reduce to O(days), two window passes on the reduced
    series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    w = Window.orderBy("d")
    marked = daily.select(
        "y",
        F.lag("y").over(w).alias("pl"),
        F.lead("y").over(w).alias("nl"),
        F.row_number().over(w).alias("t"),
    )
    peaks = marked.where(
        F.col("pl").isNotNull()
        & F.col("nl").isNotNull()
        & (F.col("y") > F.col("pl"))
        & (F.col("y") > F.col("nl"))
    ).select("t")
    gaps = peaks.select(
        (F.col("t") - F.lag("t").over(Window.orderBy("t"))).alias("gap")
    )
    n_peaks = peaks.agg(F.count(F.lit(1)).alias("np"))
    return gaps.agg(
        F.count("gap").alias("n_gaps"),
        F.round(F.avg("gap"), 4).alias("mean_cycle_days"),
        F.min("gap").cast("long").alias("min_gap"),
        F.max("gap").cast("long").alias("max_gap"),
    ).crossJoin(F.broadcast(n_peaks)).select(
        F.col("np").cast("long").alias("n_peaks"),
        F.col("n_gaps").cast("long").alias("n_gaps"),
        "mean_cycle_days",
        "min_gap",
        "max_gap",
    )
