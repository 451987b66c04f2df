"""Statistical testing and estimation suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



# ========================================================================
# from analytics_extras.py — original batch rationale:
# Analytics extras: robust statistics, customer segmentation,
# sequential recurrences, pinned-hash sketches, containment dedup, and
# one-pass centroid assignment.
#
# Not in the reference (hiveToMysql computes nothing — the single class
# `HiveToMysql.java:1-641` only copies rows); these widen the extension
# tiers of SURVEY.md §2.2 with operator shapes a production analytics /
# training-data stack runs daily:
#
# * MAD outlier flags — the robust anomaly screen (3·1.4826·MAD rule);
# * RFM segmentation — the classic marketing cohort cut;
# * per-key EMA — a *sequential recurrence*, the one aggregation class
#   a parallel engine cannot express as a commutative fold;
# * count-min sketch — with the hash family pinned to md5 so the sketch
#   itself (not just its contract) is oracle-checkable in DuckDB;
# * n-gram containment — the asymmetric near-dup signal for
#   quoted/sub-document duplication (Jaccard misses short-inside-long);
# * k-means assignment — the map-side step of Lloyd's / IVF coarse
#   quantization, as one broadcast join.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.operators import dedup as D
from hivetomysql_spark.operators.similarity import _as_double, _dot, _norm
from hivetomysql_spark.queries import register
from hivetomysql_spark.queries.llm import _SHINGLES_CTE
from hivetomysql_spark.tables import load_table



@register(
    "anomaly_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS absdev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(absdev) AS mad, MIN(med) AS med
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           ROUND(m.med, 4) AS med,
           ROUND(m.mad, 4) AS mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN d.absdev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN d.absdev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS outlier_rate
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
)
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event_type: a point is anomalous when
    its absolute deviation from the group median exceeds 3·1.4826·MAD
    (the consistency-scaled median absolute deviation — the robust
    z-score). Unlike mean/stddev screens, a burst of anomalies cannot
    drag the threshold toward itself.

    Shape: two exact-percentile aggregates (median, then MAD) with the
    O(groups) results broadcast back — the fact table is scanned, never
    shuffled. At 100 TB swap percentile → approx_percentile for
    single-pass mergeable sketches; the exact form keeps the oracle
    strict."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("absdev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad"),
        F.min("med").alias("med"),
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    is_out = (F.col("absdev") > 3 * 1.4826 * F.col("mad")).cast("long")
    return flagged.groupBy("event_type").agg(
        F.round(F.min("med"), 4).alias("med"),
        F.round(F.min("mad"), 4).alias("mad"),
        F.count(F.lit(1)).alias("n"),
        F.sum(is_out).alias("n_outliers"),
        F.round(F.sum(is_out) / F.count(F.lit(1)), 4).alias("outlier_rate"),
    )


# ========================================================================
# from analytics_extras2.py — original batch rationale:
# Analytics extras, batch 2: experiment statistics, categorical
# encoding, and relational graph analytics.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's aggregation / governance tiers:
#
# * Welch's t-test — the unequal-variance A/B significance test, as ONE
#   conditional-aggregate pass (no per-variant scans);
# * frequency string indexer — MLlib StringIndexer semantics
#   (frequencyDesc with deterministic tie-break) expressed relationally;
# * degree distribution + triangle count — graph-shape metrics computed
#   on relational edge lists, the pre-GraphX shape that scales as plain
#   joins/aggregates.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_ab_welch",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             AVG(value) FILTER (WHERE user_id % 2 = 0) AS mean_a,
             AVG(value) FILTER (WHERE user_id % 2 = 1) AS mean_b,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS var_a,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 1) AS var_b
      FROM events
      GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           ROUND(mean_a, 4) AS mean_a,
           ROUND(mean_b, 4) AS mean_b,
           ROUND((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
           ROUND(pow(var_a / n_a + var_b / n_b, 2)
                 / (pow(var_a / n_a, 2) / (n_a - 1)
                    + pow(var_b / n_b, 2) / (n_b - 1)), 2) AS welch_df
    FROM g
    """,
)
def stats_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event_type, treating even/odd
    user_id as the A/B assignment: one conditional-aggregate pass
    produces both variants' (n, mean, s²) and the t statistic plus
    Welch–Satterthwaite degrees of freedom come out map-side from the
    O(groups) aggregate — the experiment-readout shape that at 100 TB
    is a single shuffle of partial moments, never two scans."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    b = F.col("user_id") % 2 == 1
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("mean_a"),
        F.avg(F.when(b, F.col("value"))).alias("mean_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("var_a"),
        F.var_samp(F.when(b, F.col("value"))).alias("var_b"),
    )
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2_a + se2_b)
    df_w = F.pow(se2_a + se2_b, 2) / (
        F.pow(se2_a, 2) / (F.col("n_a") - 1) + F.pow(se2_b, 2) / (F.col("n_b") - 1)
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
    )



@register(
    "stats_chi_square",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS b
      FROM events GROUP BY event_type
    ),
    tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb, SUM(a + b) AS n FROM g)
    SELECT CAST(COUNT(*) - 1 AS BIGINT) AS dof,
           ROUND(SUM(
             pow(a - (a + b) * ta * 1.0 / n, 2) / ((a + b) * ta * 1.0 / n)
             + pow(b - (a + b) * tb * 1.0 / n, 2) / ((a + b) * tb * 1.0 / n)
           ), 4) AS chi2
    FROM g, tot
    """,
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type × A/B variant
    (even/odd user_id): one conditional-aggregate pass builds the
    contingency table (O(types) rows), the grand totals broadcast
    back, and expected-vs-observed contributions sum map-side. The
    fact table is scanned once; everything after is O(cells) — the
    test scales to 100 TB as a single shuffle of partial counts."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("a"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("b"),
    )
    tot = g.agg(
        F.sum("a").alias("ta"),
        F.sum("b").alias("tb"),
        F.sum(F.col("a") + F.col("b")).alias("n"),
    )
    j = g.crossJoin(F.broadcast(tot))
    row_t = F.col("a") + F.col("b")
    exp_a = row_t * F.col("ta") / F.col("n")
    exp_b = row_t * F.col("tb") / F.col("n")
    contrib = F.pow(F.col("a") - exp_a, 2) / exp_a + F.pow(
        F.col("b") - exp_b, 2
    ) / exp_b
    return j.agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.round(F.sum(contrib), 4).alias("chi2"),
    )



@register(
    "stats_mann_whitney",
    oracle="""
    WITH r AS (
      SELECT event_type, user_id % 2 AS variant,
             rank() OVER (PARTITION BY event_type ORDER BY value) AS rk
      FROM events
    ),
    g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE variant = 0) AS n_a,
             COUNT(*) FILTER (WHERE variant = 1) AS n_b,
             SUM(rk) FILTER (WHERE variant = 0) AS r_a
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           CAST(r_a - n_a * (n_a + 1) / 2 AS BIGINT) AS u_a,
           ROUND((r_a - n_a * (n_a + 1) / 2 - n_a * n_b / 2.0)
                 / sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0), 4) AS z_approx
    FROM g
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test per event_type for the A/B
    variants — the non-parametric complement to stats_ab_welch:
    immune to outliers and non-normality. One rank window per
    event_type (the partition IS the shuffle key — no global sort),
    then a conditional aggregate for rank sums and the normal
    z-approximation. Rank ties share the min rank in both engines,
    keeping the oracle exact for continuous data.

    The rank is the grouped two-level primitive, not a window:
    event_type is bounded (5 values), so PARTITION BY event_type
    sorts N/5 rows in one task per type (r11 window audit) — and
    events.value is right-skewed, so the bucket boundaries come from
    quantiles (the ranks.py skew caveat)."""
    from hivetomysql_spark.operators.ranks import grouped_min_rank

    ev = load_table(spark, sf_dir, "events")
    r = grouped_min_rank(
        ev.select(
            "event_type",
            (F.col("user_id") % 2).alias("variant"),
            "value",
        ),
        ["event_type"],
        "value",
        out="rk",
        bucket_mode="quantile",
    )
    g = r.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("rk"))).alias("r_a"),
    )
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2
    mu = F.col("n_a") * F.col("n_b") / 2.0
    sigma = F.sqrt(
        F.col("n_a") * F.col("n_b") * (F.col("n_a") + F.col("n_b") + 1) / 12.0
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        u_a.cast("long").alias("u_a"),
        F.round((u_a - mu) / sigma, 4).alias("z_approx"),
    )



@register(
    "stats_ks_test",
    oracle="""
    WITH per_val AS (
      SELECT event_type, value,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS b
      FROM events GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type,
             SUM(a) OVER (PARTITION BY event_type ORDER BY value
                          ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(b) OVER (PARTITION BY event_type ORDER BY value
                          ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM per_val
    ),
    tot AS (
      SELECT event_type, CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(b) AS BIGINT) AS n_b
      FROM per_val GROUP BY event_type
    )
    SELECT c.event_type, t.n_a, t.n_b,
           ROUND(MAX(abs(c.cum_a * 1.0 / t.n_a - c.cum_b * 1.0 / t.n_b)), 6)
             AS ks_d
    FROM cum c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.n_a, t.n_b
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event_type between
    the A/B variants: sup-norm distance between the two empirical
    CDFs, evaluated after pre-grouping to distinct values (ties are
    counted jointly, so the step function is well-defined and
    engine-agnostic). One groupBy compresses the stream to distinct
    values, then both running CDFs in one fused grouped prefix-sum
    pass (operators/ranks.grouped_row_number's running sums — the
    distinct-value frame is itself data-sized for near-continuous
    values, and event_type is bounded, so a per-type ordered window
    would sort N_distinct/5 rows in one task per type; r11 window
    audit). One aggregate takes the sup."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    ev = load_table(spark, sf_dir, "events")
    per_val = ev.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("a"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("b"),
    )
    # r13 checkpoint experiment, measured and REJECTED: per_val feeds
    # five consumers (10 parquet scans in the plan), but a
    # localCheckpoint of the ~data-sized distinct-value frame timed
    # 2.07 s vs 1.59 s for the recompute form — the narrow columnar
    # re-scans are cheaper than materializing ~N rows and losing
    # codegen fusion. Left on the recompute form deliberately.
    cum = grouped_row_number(
        per_val,
        ["event_type"],
        "value",
        out=None,
        sums={"cum_a": "a", "cum_b": "b"},
        bucket_mode="quantile",
    ).select("event_type", "a", "b", "cum_a", "cum_b")
    tot = per_val.groupBy("event_type").agg(
        F.sum("a").alias("n_a"), F.sum("b").alias("n_b")
    )
    j = cum.join(F.broadcast(tot), "event_type")
    d = F.abs(F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b"))
    return j.groupBy("event_type", "n_a", "n_b").agg(
        F.round(F.max(d), 6).alias("ks_d")
    )


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
    "stats_anova_f",
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, AVG(value) AS m,
             VAR_SAMP(value) AS s2
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(n) AS n_tot, SUM(n * m) / SUM(n) AS m_all, COUNT(*) AS k
      FROM g
    )
    SELECT CAST(t.k AS BIGINT) AS k_groups, CAST(t.n_tot AS BIGINT) AS n_total,
      ROUND(SUM(g.n * (g.m - t.m_all) * (g.m - t.m_all)) / (t.k - 1), 6)
        AS ms_between,
      ROUND(SUM((g.n - 1) * g.s2) / (t.n_tot - t.k), 6) AS ms_within,
      ROUND((SUM(g.n * (g.m - t.m_all) * (g.m - t.m_all)) / (t.k - 1))
            / (SUM((g.n - 1) * g.s2) / (t.n_tot - t.k)), 6) AS f_stat
    FROM g, tot t GROUP BY t.k, t.n_tot, t.m_all
    """,
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for `value` across event types:
    between-group mean square over within-group mean square.

    One O(data) scan reduces to k per-group (n, mean, var) rows; the
    grand mean and the two mean squares are O(k) arithmetic on that
    tiny frame (k=5 here, k≤thousands at scale — always driver-
    broadcastable). Sufficient-statistics decomposition is what makes
    this a single-pass test at 100 TB: no per-group re-scan, no
    residual materialization.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    tot = g.agg(
        F.sum("n").alias("n_tot"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("m_all"),
        F.count("*").alias("k"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ssb = F.sum(
        F.col("n") * (F.col("m") - F.col("m_all")) * (F.col("m") - F.col("m_all"))
    )
    ssw = F.sum((F.col("n") - 1) * F.col("s2"))
    return j.groupBy(
        F.col("k").alias("k_groups"), F.col("n_tot").alias("n_total")
    ).agg(
        F.round(ssb / (F.first("k") - 1), 6).alias("ms_between"),
        F.round(ssw / (F.first("n_tot") - F.first("k")), 6).alias("ms_within"),
        F.round(
            (ssb / (F.first("k") - 1))
            / (ssw / (F.first("n_tot") - F.first("k"))),
            6,
        ).alias("f_stat"),
    )


# ========================================================================
# from analytics_extras5.py — original batch rationale:
# Analytics extras, batch 5: leave-one-out target encoding, bigram
# language-model surprisal, closed-form two-factor OLS, data-freshness
# audit, and a running order-backlog series.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's feature-engineering / corpus-
# curation / governance tiers:
#
# * LOO target encoding — the leakage-safe categorical encoder
#   ((sum−own)/(n−1)), reported as per-category distribution stats;
# * bigram surprisal — add-one-smoothed bigram LM scored over its own
#   corpus, the step past `text_lm_unigram_score`'s unigram model;
# * two-factor OLS — price ~ quantity + line-count by Cramer's rule on
#   sufficient statistics, the multivariate step past
#   `udaf_regression_slope`;
# * freshness lag — hours since each event type's latest record vs the
#   global high-watermark, the staleness monitor every ingest needs;
# * order backlog — opened-minus-shipped running balance, peak and
#   date, the gaps-and-islands-free flow/stock query.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_ols_two_factor",
    oracle="""
    WITH feat AS (
      SELECT o.o_orderkey, ANY_VALUE(o.o_totalprice) AS y,
             SUM(l.l_quantity) AS x1, COUNT(*) AS x2
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
             SUM(x1*x1) AS sx11, SUM(x2*x2) AS sx22, SUM(x1*x2) AS sx12,
             SUM(x1*y) AS sx1y, SUM(x2*y) AS sx2y
      FROM feat
    ),
    c AS (
      SELECT n,
        sx11 - sx1*sx1/n AS a11, sx12 - sx1*sx2/n AS a12,
        sx22 - sx2*sx2/n AS a22,
        sx1y - sx1*sy/n AS b1, sx2y - sx2*sy/n AS b2,
        sy/n AS my, sx1/n AS m1, sx2/n AS m2
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
      ROUND((b1*a22 - b2*a12) / (a11*a22 - a12*a12), 6) AS beta_qty,
      ROUND((b2*a11 - b1*a12) / (a11*a22 - a12*a12), 6) AS beta_lines,
      ROUND(my - ((b1*a22 - b2*a12)/(a11*a22 - a12*a12))*m1
               - ((b2*a11 - b1*a12)/(a11*a22 - a12*a12))*m2, 4) AS intercept
    FROM c
    """,
)
def stats_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS (order price ~ total quantity + line count)
    solved in closed form: centered normal equations by Cramer's rule
    over nine sufficient statistics.

    Scale shape: one shuffle builds per-order features (join keys on
    the order key both sides — co-partitioned); every cross-moment is
    then a single global aggregate with map-side partials, and the
    2×2 solve is O(1) arithmetic on that one row. This is the
    sufficient-statistics pattern that scales OLS to any row count
    with exactly two shuffles and no iteration — the p-regressor
    generalization just widens the moment vector to O(p²) columns.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    feat = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.any_value("o_totalprice").alias("y"),
            F.sum("l_quantity").alias("x1"),
            F.count("*").alias("x2"),
        )
    )
    s = feat.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    c = s.select(
        "n",
        (F.col("sx11") - F.col("sx1") * F.col("sx1") / F.col("n")).alias("a11"),
        (F.col("sx12") - F.col("sx1") * F.col("sx2") / F.col("n")).alias("a12"),
        (F.col("sx22") - F.col("sx2") * F.col("sx2") / F.col("n")).alias("a22"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / F.col("n")).alias("b1"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / F.col("n")).alias("b2"),
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sx1") / F.col("n")).alias("m1"),
        (F.col("sx2") / F.col("n")).alias("m2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    return c.select(
        F.col("n").alias("n_orders"),
        F.round(beta1, 6).alias("beta_qty"),
        F.round(beta2, 6).alias("beta_lines"),
        F.round(
            F.col("my") - beta1 * F.col("m1") - beta2 * F.col("m2"), 4
        ).alias("intercept"),
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
    "stats_kaplan_meier",
    oracle="""
    WITH dur AS (
      SELECT o.o_orderkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(MAX(l.l_shipdate) AS DATE)) AS t,
             MAX(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus
    ),
    at_t AS (
      SELECT t, COUNT(*) AS n_at_t, SUM(ev) AS d
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             SUM(n_at_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_le,
             SUM(n_at_t) OVER () AS total,
             n_at_t
      FROM at_t
    ),
    terms AS (
      SELECT t, d, total - cum_le + n_at_t AS n_risk,
             CASE WHEN d < total - cum_le + n_at_t
                  THEN ln(1.0 - d * 1.0 / (total - cum_le + n_at_t))
                  ELSE NULL END AS term,
             CASE WHEN d = total - cum_le + n_at_t THEN 1 ELSE 0 END AS dead
      FROM risk
    )
    SELECT t,
           CAST(d AS BIGINT) AS d,
           CAST(n_risk AS BIGINT) AS n_risk,
           CASE WHEN MAX(dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) = 1 THEN 0.0
                ELSE ROUND(exp(SUM(term) OVER (ORDER BY t ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END AS survival
    FROM terms
    """,
)
def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over right-censored order
    fulfillment durations: t = days from order date to last line
    shipment, event observed when o_orderstatus = 'F' (fully shipped),
    censored otherwise. S(t) = prod over event times <= t of
    (1 - d_i/n_i) with n_i the at-risk count, computed in the log
    domain (exp of a running sum of ln terms) so the product is an
    associative prefix aggregation, not a sequential multiply.

    Shape: one grouped pass compresses N orders to O(distinct
    durations) rows; every window after that runs on the compressed
    table. The single unpartitioned window is over ~hundreds of rows
    regardless of input scale — the classic sketch-then-finalize
    split that keeps 100 TB out of the ordered stage. Not in the
    reference (HiveToMysql.java computes nothing)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    dur = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate")).alias("t"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
        )
    )
    at_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at_t"), F.sum("ev").alias("d")
    )
    w_all = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = at_t.select(
        "t",
        "d",
        "n_at_t",
        F.sum("n_at_t").over(w_all).alias("cum_le"),
        F.sum("n_at_t").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).alias("total"),
    )
    n_risk = F.col("total") - F.col("cum_le") + F.col("n_at_t")
    terms = risk.select(
        "t",
        "d",
        n_risk.alias("n_risk"),
        F.when(F.col("d") < n_risk, F.log(1.0 - F.col("d") / n_risk)).alias("term"),
        F.when(F.col("d") == n_risk, 1).otherwise(0).alias("dead"),
    )
    return terms.select(
        "t",
        F.col("d").cast("long").alias("d"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.when(F.max("dead").over(w_all) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("term").over(w_all)), 6))
        .alias("survival"),
    )



@register(
    "stats_benjamini_hochberg",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             AVG(value) FILTER (WHERE user_id % 2 = 0) AS m_a,
             AVG(value) FILTER (WHERE user_id % 2 = 1) AS m_b,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS v_a,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 1) AS v_b
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT event_type,
             (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) AS z
      FROM g
    ),
    p AS (
      SELECT event_type, z,
             2.0 / (1.0 + exp(1.702 * abs(z))) AS p,
             COUNT(*) OVER () AS m,
             ROW_NUMBER() OVER (ORDER BY 2.0 / (1.0 + exp(1.702 * abs(z))),
                                event_type) AS i
      FROM z
    )
    SELECT event_type,
           ROUND(z, 4) AS z,
           ROUND(p, 6) AS p,
           ROUND(MIN(LEAST(1.0, p * m / i)) OVER (
             ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ), 6) AS p_adj,
           CAST(CASE WHEN MIN(LEAST(1.0, p * m / i)) OVER (
             ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) <= 0.1 THEN 1 ELSE 0 END AS BIGINT) AS reject_q10
    FROM p
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR correction over the per-
    event-type A/B Welch z-tests: p_(i) is adjusted to
    min_{j>=i}(p_(j)·m/j) capped at 1, the standard multiple-testing
    control when one experiment fans out into many metrics. The
    normal CDF uses the logistic approximation Phi(z) ~
    1/(1+exp(-1.702 z)) — closed-form and bit-identical across
    engines, unlike erf which neither Spark nor DuckDB exposes.

    Shape: one conditional-aggregate scan to O(groups) sufficient
    statistics; the rank and reverse-running-min windows operate on
    the group table only, so the ordered stage is O(metrics), never
    O(rows)."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(~a, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~a, F.col("value"))).alias("v_b"),
    )
    z = (F.col("m_a") - F.col("m_b")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    p = 2.0 / (1.0 + F.exp(1.702 * F.abs(z)))
    scored = g.select("event_type", z.alias("z"), p.alias("p"))
    w_rank = Window.orderBy("p", "event_type")
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "event_type",
        "z",
        "p",
        F.count(F.lit(1)).over(w_all).alias("m"),
        F.row_number().over(w_rank).alias("i"),
    )
    raw = F.least(F.lit(1.0), F.col("p") * F.col("m") / F.col("i"))
    w_rev = Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    adj = F.min(raw).over(w_rev)
    return ranked.select(
        "event_type",
        F.round("z", 4).alias("z"),
        F.round("p", 6).alias("p"),
        F.round(adj, 6).alias("p_adj"),
        F.when(adj <= 0.1, 1).otherwise(0).cast("long").alias("reject_q10"),
    )



@register(
    "stats_poisson_rate_test",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND((n_a - n_b) / sqrt(n_a + n_b), 4) AS z_rate
    FROM g
    """,
)
def stats_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional two-sample Poisson rate test per event_type: under
    H0 (equal rates, equal exposure) the A-count given the total is
    Binomial(n, 1/2), giving z = (n_a - n_b)/sqrt(n_a + n_b) — the
    event-count analogue of the mean tests, detecting traffic-rate
    (not value) shifts between the variants.

    Shape: one conditional-count scan to O(groups); nothing ordered,
    nothing wide — the cheapest possible guardrail metric at any
    scale."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
    )
    return g.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            (F.col("n_a") - F.col("n_b")) / F.sqrt(F.col("n_a") + F.col("n_b")), 4
        ).alias("z_rate"),
    )


# ========================================================================
# from analytics_extras12.py — original batch rationale:
# Analytics extras, batch 12: Bayesian A/B and linear counting.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); rounds out SURVEY.md §2.2's statistics / sketch tiers:
#
# * Bayesian A/B — Beta(1,1)-posterior conversion comparison with the
#   normal approximation, P(A beats B) per metric (the decision-ready
#   complement to the frequentist Welch/U/KS family);
# * linear counting — the bitmap NDV sketch (Whang et al.) that beats
#   HLL at small cardinalities, md5-pinned so the sketch itself is
#   oracle-checked.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_bayesian_ab",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 0 AND value > 50) AS s_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             COUNT(*) FILTER (WHERE user_id % 2 = 1 AND value > 50) AS s_b
      FROM events GROUP BY event_type
    ),
    post AS (
      SELECT event_type, n_a, s_a, n_b, s_b,
             (s_a + 1.0) / (n_a + 2.0) AS mu_a,
             (s_b + 1.0) / (n_b + 2.0) AS mu_b,
             ((s_a + 1.0) / (n_a + 2.0)) * (1.0 - (s_a + 1.0) / (n_a + 2.0))
               / (n_a + 3.0) AS v_a,
             ((s_b + 1.0) / (n_b + 2.0)) * (1.0 - (s_b + 1.0) / (n_b + 2.0))
               / (n_b + 3.0) AS v_b
      FROM g
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(mu_a, 4) AS conv_a,
           ROUND(mu_b, 4) AS conv_b,
           ROUND(1.0 / (1.0 + exp(-1.702 * (mu_a - mu_b) / sqrt(v_a + v_b))),
                 4) AS p_a_beats_b
    FROM post
    """,
)
def stats_bayesian_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion comparison per event_type: with a
    uniform Beta(1,1) prior the posterior conversion is
    Beta(s+1, n-s+1); P(A beats B) integrates the posterior
    difference, here via the normal approximation (posterior means /
    variances, logistic CDF — identical closed form on both
    engines). Unlike a p-value this is the number a launch decision
    actually wants: the probability A is better.

    Shape: one conditional-count scan to O(metrics) sufficient
    statistics; the posterior algebra is scalar math on the
    aggregate. The normal approximation holds for n in the hundreds+
    (these cells have thousands); below that, swap in Monte-Carlo
    sampling over the broadcast posterior parameters."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    conv = F.col("value") > 50
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(a & conv, 1)).alias("s_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.count(F.when(~a & conv, 1)).alias("s_b"),
    )
    mu_a = (F.col("s_a") + 1.0) / (F.col("n_a") + 2.0)
    mu_b = (F.col("s_b") + 1.0) / (F.col("n_b") + 2.0)
    v_a = mu_a * (1.0 - mu_a) / (F.col("n_a") + 3.0)
    v_b = mu_b * (1.0 - mu_b) / (F.col("n_b") + 3.0)
    z = (mu_a - mu_b) / F.sqrt(v_a + v_b)
    return g.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mu_a, 4).alias("conv_a"),
        F.round(mu_b, 4).alias("conv_b"),
        F.round(1.0 / (1.0 + F.exp(-1.702 * z)), 4).alias("p_a_beats_b"),
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



@register(
    "stats_power_analysis",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             AVG(value) AS mu,
             VAR_SAMP(value) AS v
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_observed,
           ROUND(mu, 4) AS mean_value,
           CAST(CEIL(2.0 * v * (1.96 + 0.84) * (1.96 + 0.84)
                     / (0.05 * mu * 0.05 * mu)) AS BIGINT) AS n_per_arm_5pct,
           CAST(CEIL(2.0 * v * (1.96 + 0.84) * (1.96 + 0.84)
                     / (0.01 * mu * 0.01 * mu)) AS BIGINT) AS n_per_arm_1pct
    FROM g
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment sample sizing: n per arm = 2σ²(z_{α/2}+z_β)²/δ²
    for α=0.05 two-sided, 80% power (z=1.96, 0.84), at minimum
    detectable effects of 5% and 1% of the current mean — the
    capacity-planning number every A/B platform quotes before an
    experiment is approved, from the same one-scan sufficient
    statistics as the test itself.

    Shape: one conditional aggregate to O(metrics); the sizing
    formula is scalar math."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    zsum_sq = (1.96 + 0.84) * (1.96 + 0.84)

    def n_per_arm(mde_frac: float):
        delta = mde_frac * F.col("mu")
        return F.ceil(2.0 * F.col("v") * zsum_sq / (delta * delta)).cast("long")

    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_observed"),
        F.round("mu", 4).alias("mean_value"),
        n_per_arm(0.05).alias("n_per_arm_5pct"),
        n_per_arm(0.01).alias("n_per_arm_1pct"),
    )


# ========================================================================
# from analytics_extras27.py — original batch rationale:
# Analytics extras, batch 27: training-split governance, URL
# parsing, schema contracts, and feature-engineering statistics.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's DQ / feature / governance tiers:
#
# * URL parsing — parse_url family over deterministic event URLs;
# * schema contract — declared column constraints audited in one scan;
# * NTILE binning — exact equal-depth feature discretization;
# * Cramér's V — categorical association strength from a contingency
#   table;
# * target encoding — smoothed mean-target categorical encoding;
# * split leakage — cross-split exact-duplicate contamination count;
# * PMI bigrams — pointwise-mutual-information collocations.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_cramers_v",
    oracle="""
    WITH ct AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS n FROM ct
    ), marg AS (
      SELECT ct.a, ct.b, ct.n,
             SUM(ct.n) OVER (PARTITION BY ct.a) AS ra,
             SUM(ct.n) OVER (PARTITION BY ct.b) AS cb,
             tot.n AS total
      FROM ct CROSS JOIN tot
    ), chi AS (
      SELECT SUM(POWER(n - ra * cb * 1.0 / total, 2)
                 / (ra * cb * 1.0 / total)) AS chi2,
             MAX(total) AS total,
             COUNT(DISTINCT a) AS r,
             COUNT(DISTINCT b) AS c
      FROM marg
    )
    SELECT ROUND(chi2, 4) AS chi2,
           CAST(total AS BIGINT) AS n,
           CAST(r AS INT) AS n_rows_levels,
           CAST(c AS INT) AS n_col_levels,
           ROUND(SQRT(chi2 / (total * (LEAST(r, c) - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order priority and status:
    contingency counts (one groupBy on the pair), marginals via two
    windows over the TINY distinct-pair table, χ² against
    independence expectations, V = sqrt(χ²/(n·(min(r,c)-1))). The
    only O(rows) work is the first groupBy — the association math
    runs on the r×c table, which is what makes categorical drift
    scans over hundreds of column pairs feasible at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    ct = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    marg = ct.select(
        "a",
        "b",
        "n",
        F.sum("n").over(Window.partitionBy("a")).alias("ra"),
        F.sum("n").over(Window.partitionBy("b")).alias("cb"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    exp = F.col("ra") * F.col("cb") / F.col("total")
    chi = marg.agg(
        F.sum(F.pow(F.col("n") - exp, 2) / exp).alias("chi2"),
        F.max("total").alias("total"),
        F.count_distinct("a").alias("r"),
        F.count_distinct("b").alias("c"),
    )
    return chi.select(
        F.round("chi2", 4).alias("chi2"),
        F.col("total").cast("long").alias("n"),
        F.col("r").cast("int").alias("n_rows_levels"),
        F.col("c").cast("int").alias("n_col_levels"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("total") * (F.least("r", "c") - F.lit(1)))
            ),
            6,
        ).alias("cramers_v"),
    )


# ========================================================================
# from analytics_extras28.py — original batch rationale:
# Analytics extras, batch 28: scalable statistics and graph/recsys ops.
#
# None of these exist in the reference (`HiveToMysql.java:1-641` copies
# rows, computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Spearman rank correlation — the robust (monotone, outlier-immune)
#   complement of the `agg_stats` Pearson family.
# * Poisson bootstrap — THE scalable bootstrap (one pass, no
#   resampling shuffle); md5-deterministic so the whole mechanism is
#   oracle-checked end-to-end.
# * item co-occurrence similarity — the item-item collaborative-
#   filtering kernel (cosine over co-purchase incidence).
# * common-neighbor link prediction — Jaccard scores for unlinked
#   pairs of the co-purchase graph.
# * WOE / information value — the credit-scoring feature screen.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_AVG_RANK_SQL = (
    "RANK() OVER (ORDER BY {c}) + (COUNT(*) OVER (PARTITION BY {c}) - 1) / 2.0"
)



@register(
    "stats_spearman_corr",
    oracle=f"""
    WITH r AS (
      SELECT {_AVG_RANK_SQL.format(c="l_quantity")} AS rq,
             {_AVG_RANK_SQL.format(c="l_extendedprice")} AS rp,
             {_AVG_RANK_SQL.format(c="l_discount")} AS rd
      FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CORR(rq, rp), 6) AS rho_qty_price,
           ROUND(CORR(rq, rd), 6) AS rho_qty_disc,
           ROUND(CORR(rd, rp), 6) AS rho_disc_price
    FROM r
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation = Pearson correlation of
    tie-averaged ranks — the monotone-association measure that
    ignores outliers and nonlinear-but-monotone scaling, computed for
    three lineitem column pairs in one pass over the ranked relation.
    Tie handling is the classical fractional rank (average of the
    positions the tied block occupies), written as
    min-rank + (ties-1)/2 so both engines agree exactly.

    Shape: DISTRIBUTED rank-by-value — each column's tie-averaged
    rank is an O(distinct)-row map (groupBy + bucketed prefix sum,
    operators/ranks.fractional_rank_map) joined back onto the rows:
    the low-cardinality maps (quantity: 50 values, discount: 11)
    broadcast, the near-unique price map shuffle-joins. No
    single-partition sort anywhere — the r9 measured-row audit caught
    the previous textbook form running three lineitem-sized global
    rank windows."""
    from hivetomysql_spark.operators.ranks import fractional_rank_map

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select("l_quantity", "l_extendedprice", "l_discount")
    r = base
    for col, out in [
        ("l_quantity", "rq"),
        ("l_extendedprice", "rp"),
        ("l_discount", "rd"),
    ]:
        r = r.join(fractional_rank_map(base, col, out=out), col)
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("rq", "rp"), 6).alias("rho_qty_price"),
        F.round(F.corr("rq", "rd"), 6).alias("rho_qty_disc"),
        F.round(F.corr("rd", "rp"), 6).alias("rho_disc_price"),
    )


_POIS_CDF = (
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


_BOOT_R = 32


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p!r} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"



@register(
    "stats_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(RANGE(0, {_BOOT_R})) AS rep),
    seeded AS (
      -- ONE md5 per row; per-replicate uniforms come from a
      -- multiplicative shift mod the same prime (32x fewer digest
      -- evaluations than md5-per-(row,rep) — measured 4x on the
      -- whole query at sf0.1)
      SELECT o_totalprice AS x,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
               % 999983 AS s
      FROM orders
    ),
    weighted AS (
      SELECT r.rep, o.x,
             {_pois_case_sql(
                 "(((o.s * (7919 + 104729 * r.rep)) % 999983) + 0.5) "
                 "/ 999983.0"
             )} AS w
      FROM seeded o CROSS JOIN reps r
    ),
    means AS (
      SELECT rep, SUM(w * x) / SUM(w) AS m
      FROM weighted GROUP BY rep
    )
    SELECT CAST({_BOOT_R} AS BIGINT) AS n_replicates,
           ROUND((SELECT AVG(o_totalprice) FROM orders), 4) AS point_mean,
           ROUND(AVG(m), 4) AS boot_mean,
           ROUND(STDDEV_SAMP(m), 4) AS boot_se,
           ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for mean order value —
    the bootstrap that actually scales: instead of drawing n-out-of-n
    resamples (a shuffle per replicate), every row independently
    contributes a Poisson(1)-distributed weight to each of R
    replicates, so all R resample means come out of ONE scan with
    map-side partial aggregation (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012). The Poisson
    draw is the inverse-CDF transform of an md5-derived uniform, so
    the mechanism itself is deterministic and oracle-verified; a
    production run would swap in a seeded RNG, nothing else changes.

    Shape: scan × R in-row fan-out (R=32, a projection not a join on
    the Spark side), groupBy(rep) with partial aggregation → R rows,
    then O(R) quantile math. Zero data-sized shuffles; this is the
    100 TB uncertainty-quantification pattern."""
    o = load_table(spark, sf_dir, "orders")
    # ONE md5 per row; per-replicate uniforms via a multiplicative
    # shift mod the same prime — 32x fewer digest evaluations than
    # md5-per-(row, rep), measured 4x on the whole query at sf0.1
    s = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 999983
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("rep")
    # hoist the digest BELOW the generator: a single select would put
    # the Project above Generate and evaluate md5 once per (row, rep)
    # — R times more digests (measured 3.7s -> ~1s at sf0.1)
    seeded = o.select(
        F.col("o_totalprice").alias("x"), s.alias("s")
    ).select("x", "s", rep)
    u = (
        (F.col("s") * (7919 + 104729 * F.col("rep"))) % 999983 + 0.5
    ) / 999983.0
    w = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(w)
    weighted = seeded.select("rep", "x", w.alias("w"))
    means = weighted.groupBy("rep").agg(
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("m")
    )
    point = o.agg(F.avg("o_totalprice").alias("pm"))
    return means.crossJoin(F.broadcast(point)).agg(
        F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        F.round(F.first("pm"), 4).alias("point_mean"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )


# ========================================================================
# from analytics_extras30.py — original batch rationale:
# Analytics extras, batch 30: iterative graph core, diversified
# retrieval, resampling-free uncertainty, embedding normalization.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * k-core decomposition — iterative degree peeling, the classic
#   "dense engagement subgraph" extraction.
# * MMR re-ranking — maximal marginal relevance diversified top-k,
#   the retrieval-stage de-duplication of semantic search results.
# * jackknife ratio SE — delete-one variance of a RATIO estimator
#   from sufficient statistics (no resampling pass).
# * per-dimension embedding standardization — corpus-level feature
#   scaling (diagonal whitening) as a broadcast join.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.operators.similarity import _as_double, _dot, _norm
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_jackknife_ratio",
    oracle="""
    WITH base AS (
      SELECT l_extendedprice * (1 - l_discount) AS rev, l_quantity AS q
      FROM lineitem
    ),
    tot AS (
      SELECT SUM(rev) AS sr, SUM(q) AS sq, COUNT(*) AS n FROM base
    ),
    loo AS (
      -- d_i = r_i - R expanded analytically: subtracting two ~equal
      -- ratios loses ~10 digits to cancellation and the two engines'
      -- sum orders then disagree past the rounding; the expanded form
      -- keeps every term small
      SELECT (b.q * t.sr - b.rev * t.sq) / (t.sq * (t.sq - b.q)) AS d_i,
             t.n AS n, t.sr / t.sq AS ratio
      FROM base b CROSS JOIN tot t
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(ratio), 6) AS ratio,
           ROUND(SQRT((MAX(n) - 1.0) / MAX(n)
                 * (SUM(d_i * d_i)
                    - COUNT(*) * AVG(d_i) * AVG(d_i))), 6) AS jk_se,
           ROUND((MAX(n) - 1.0) * AVG(d_i), 6) AS jk_bias
    FROM loo
    """,
)
def stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife standard error and bias of the RATIO
    estimator revenue-per-unit (Σ discounted revenue / Σ quantity) —
    the uncertainty method of record for ratio metrics, computed
    WITHOUT any resampling pass: each leave-one-out replicate
    r_i = (S_rev − rev_i)/(S_qty − q_i) is closed-form from the
    broadcast totals, so the whole estimate is one scan + one
    aggregate. Complements `stats_poisson_bootstrap` (which needs R
    passes-worth of weighted sums) for smooth estimators.

    Shape: one aggregate produces the totals (3 scalars, broadcast
    back); the replicate column is map-side arithmetic; the final
    moment aggregate is map-side combined. Two scans total, zero
    data-sized shuffles at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.col("l_quantity").alias("q"),
    )
    tot = base.agg(
        F.sum("rev").alias("sr"), F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    # d_i = r_i - R expanded analytically (q·S_r - rev·S_q) /
    # (S_q·(S_q - q)): subtracting two nearly-equal ratios loses ~10
    # digits to cancellation and cross-engine sum order then breaks
    # the 6-decimal canon; the expanded form keeps terms small
    loo = base.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("q") * F.col("sr") - F.col("rev") * F.col("sq"))
            / (F.col("sq") * (F.col("sq") - F.col("q")))
        ).alias("d_i"),
        "n",
        (F.col("sr") / F.col("sq")).alias("ratio"),
    )
    return loo.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max("ratio"), 6).alias("ratio"),
        F.round(
            F.sqrt(
                (F.max("n") - 1.0)
                / F.max("n")
                * (
                    F.sum(F.col("d_i") * F.col("d_i"))
                    - F.count(F.lit(1)) * F.avg("d_i") * F.avg("d_i")
                )
            ),
            6,
        ).alias("jk_se"),
        F.round((F.max("n") - 1.0) * F.avg("d_i"), 6).alias("jk_bias"),
    )


# ========================================================================
# from analytics_extras31.py — original batch rationale:
# Analytics extras, batch 31: relational model training, robust
# regression, incremental ingestion, and DP order statistics.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * decision stump — the depth-1 CART split search as one scan
#   (candidate × side aggregate), "train a tree node as a query".
# * Theil-Sen slope — median-of-pairwise-slopes robust trend.
# * incremental corpus dedup — the production ingestion path: new
#   batch vs existing corpus only (never corpus × corpus).
# * DP median via the exponential mechanism — md5-determinized so the
#   mechanism itself is oracle-checked.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_theil_sen",
    oracle="""
    WITH monthly AS (
      SELECT (EXTRACT(year FROM o_orderdate) - 1990) * 12
               + EXTRACT(month FROM o_orderdate) AS mx,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.mx - a.mx) AS s
      FROM monthly a JOIN monthly b ON a.mx < b.mx
    ),
    m AS (SELECT quantile_cont(s, 0.5) AS slope FROM slopes),
    icept AS (
      SELECT quantile_cont(rev - m.slope * mx, 0.5) AS intercept
      FROM monthly, m
    )
    SELECT CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_points,
           CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           ROUND(m.slope, 4) AS slope_per_month,
           ROUND(icept.intercept, 4) AS intercept
    FROM m, icept
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the median of all
    pairwise slopes (and the median intercept given that slope) — the
    estimator that shrugs off outlier months where OLS gets dragged
    (29 % breakdown point).

    Shape: the fact table reduces to O(months) points FIRST, so the
    all-pairs slope set is months²/2 — thousands of rows, not a data-
    sized blowup; at 100 TB the reduce is the only data-sized stage.
    For point sets too large to pair exactly, the standard fallback
    is pairing a deterministic sample (same plan, sampled join) —
    documented, not needed at any fixture scale."""
    o = load_table(spark, sf_dir, "orders")
    # materialize the O(months) reduction once — it feeds both pair
    # sides, the intercept pass, and the count (was 8 fact scans)
    monthly = (
        o.groupBy(
            (
                (F.year("o_orderdate") - 1990) * 12 + F.month("o_orderdate")
            ).alias("mx")
        )
        .agg(F.sum("o_totalprice").alias("rev"))
        .localCheckpoint()
    )
    a = monthly.select(F.col("mx").alias("x1"), F.col("rev").alias("r1"))
    b = monthly.select(F.col("mx").alias("x2"), F.col("rev").alias("r2"))
    slopes = (
        a.join(b, F.col("x1") < F.col("x2"))
        .select(((F.col("r2") - F.col("r1")) / (F.col("x2") - F.col("x1"))).alias("s"))
    )
    m = slopes.agg(F.percentile("s", F.lit(0.5)).alias("slope"))
    icept = (
        monthly.crossJoin(F.broadcast(m))
        .agg(
            F.percentile(
                F.col("rev") - F.col("slope") * F.col("mx"), F.lit(0.5)
            ).alias("intercept")
        )
    )
    np_ = monthly.agg(F.count(F.lit(1)).alias("n_points"))
    npair = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        np_.crossJoin(npair)
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(icept))
        .select(
            F.col("n_points").cast("long"),
            F.col("n_pairs").cast("long"),
            F.round("slope", 4).alias("slope_per_month"),
            F.round("intercept", 4).alias("intercept"),
        )
    )


# ========================================================================
# from analytics_extras38.py — original batch rationale:
# Analytics extras, batch 38: receivables aging, PR curves, local
# graph structure, and randomization inference.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * AR aging buckets — open-order value by age band at a snapshot,
#   the finance-ops workhorse report.
# * precision/recall curve — threshold sweep over score deciles, the
#   imbalanced-data complement of the ROC.
# * local clustering coefficient — per-node triangle closure rate,
#   averaged (Watts-Strogatz C).
# * permutation (randomization) test — md5-determinized label
#   reshuffles completing the bootstrap/jackknife resampling family.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_PERM_R = 64



@register(
    "stats_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp,
             event_id
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    obs AS (
      SELECT AVG(CASE WHEN grp = 1 THEN value END)
             - AVG(CASE WHEN grp = 0 THEN value END) AS d_obs,
             AVG(grp * 1.0) AS p1
      FROM base
    ),
    reps AS (SELECT UNNEST(RANGE(0, {_PERM_R})) AS rep),
    seeded AS (
      SELECT value,
             ('0x' || substr(md5('perm:' || event_id), 1, 15))::BIGINT
               % 999983 AS s
      FROM base
    ),
    perm AS (
      -- randomization test: replicate r reassigns each row to group
      -- 1 with the observed group-1 rate, via the shared md5 seed
      SELECT r.rep,
             CASE WHEN (((b.s * (7919 + 104729 * r.rep)) % 999983) + 0.5)
                       / 999983.0 < obs.p1
                  THEN 1 ELSE 0 END AS g,
             b.value
      FROM seeded b CROSS JOIN reps r CROSS JOIN obs
    ),
    null_d AS (
      SELECT rep,
             AVG(CASE WHEN g = 1 THEN value END)
             - AVG(CASE WHEN g = 0 THEN value END) AS d
      FROM perm GROUP BY rep
    )
    SELECT CAST({_PERM_R} AS BIGINT) AS n_replicates,
           ROUND((SELECT d_obs FROM obs), 6) AS observed_diff,
           ROUND(AVG(ABS(d)), 6) AS null_mean_abs,
           ROUND((SUM(CASE WHEN ABS(d) >= ABS((SELECT d_obs FROM obs))
                           THEN 1.0 ELSE 0.0 END) + 1.0)
                 / ({_PERM_R} + 1.0), 6) AS p_value
    FROM null_d
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation) test for the purchase-vs-click
    mean value difference: 64 label reshuffles (each row reassigned
    with the observed group rate via md5-determinized coins), p-value
    = (1 + #{|d_null| ≥ |d_obs|}) / (R + 1) — the
    distribution-free complement of `stats_ab_welch`, and the third
    member of the resampling family (bootstrap → SE, jackknife →
    bias, permutation → p-value). Deterministic coins make the
    whole inference oracle-checkable.

    Shape: one observed-stat pass, then a ×R in-row fan-out into a
    groupBy(rep) with map-side combine (same plan as
    `stats_poisson_bootstrap`) — no data-sized shuffle at any R."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "grp"
        ),
        "event_id",
    )
    obs = base.agg(
        (
            F.avg(F.when(F.col("grp") == 1, F.col("value")))
            - F.avg(F.when(F.col("grp") == 0, F.col("value")))
        ).alias("d_obs"),
        F.avg(F.col("grp") * 1.0).alias("p1"),
    )
    s = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("perm:"), F.col("event_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 999983
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(_PERM_R - 1))).alias("rep")
    # digest hoisted BELOW the generator: one md5 per input row, not
    # per (row, rep) — same fix as stats_poisson_bootstrap
    seeded = (
        base.select("value", s.alias("s"))
        .select("value", "s", rep)
        .crossJoin(F.broadcast(obs))
    )
    u = (
        (F.col("s") * (7919 + 104729 * F.col("rep"))) % 999983 + 0.5
    ) / 999983.0
    perm = seeded.select(
        "rep",
        F.when(u < F.col("p1"), 1).otherwise(0).alias("g"),
        "value",
        "d_obs",
    )
    null_d = perm.groupBy("rep").agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("value")))
            - F.avg(F.when(F.col("g") == 0, F.col("value")))
        ).alias("d"),
        F.first("d_obs").alias("d_obs"),
    )
    return null_d.agg(
        F.lit(_PERM_R).cast("long").alias("n_replicates"),
        F.round(F.first("d_obs"), 6).alias("observed_diff"),
        F.round(F.avg(F.abs("d")), 6).alias("null_mean_abs"),
        F.round(
            (
                F.sum(
                    F.when(
                        F.abs("d") >= F.abs(F.col("d_obs")), 1.0
                    ).otherwise(0.0)
                )
                + 1.0
            )
            / (_PERM_R + 1.0),
            6,
        ).alias("p_value"),
    )


# ========================================================================
# from analytics_extras47.py — original batch rationale:
# Analytics extras, batch 47: image perceptual hashing, state-space
# filtering, variance-homogeneity testing, and l-diversity auditing.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * perceptual hash — block-mean 64-bit image signatures over real PPM
#   pixels, the image-dedup analogue of `dedup_simhash` (signatures
#   feed the same banded Hamming self-join at scale).
# * Kalman local-level filter — the simplest state-space model over
#   the daily order series, the principled successor to the EMA/Holt
#   smoothers already in the registry.
# * Brown-Forsythe (robust Levene) — variance-homogeneity test, the
#   gate statistic before pooled-variance tests like `stats_anova_f`.
# * l-diversity — per-quasi-identifier-group distinct-sensitive-value
#   audit, the release gate that `privacy_k_anonymity` alone misses
#   (a k-anonymous group with one sensitive value still leaks).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.operators import multimodal as M
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_levene_brown_forsythe",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority AS g, median(o_totalprice) AS med
      FROM orders GROUP BY 1
    ),
    z AS (
      SELECT o.o_orderpriority AS g,
             ABS(o.o_totalprice - m.med) AS z
      FROM orders o JOIN med m ON m.g = o.o_orderpriority
    ),
    grp AS (
      SELECT g, COUNT(*) AS n, SUM(z) AS sz, SUM(z * z) AS szz
      FROM z GROUP BY g
    ),
    tot AS (
      -- expanded between-group sum of squares (single-level
      -- aggregates only): sum n_j(m_j - zbar)^2
      --   = sum(sz^2/n) - (sum sz)^2 / sum n
      SELECT COUNT(*) AS k, CAST(SUM(n) AS DOUBLE) AS n_total,
             SUM(sz * sz / n) - SUM(sz) * SUM(sz) / CAST(SUM(n) AS DOUBLE)
               AS num,
             SUM(szz - sz * sz / n) AS den
      FROM grp
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n_total - k AS BIGINT) AS df2,
           ROUND(((n_total - k) * 1.0 / (k - 1)) * num / den, 4) AS w_stat
    FROM tot
    """,
)
def stats_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe robust Levene test: are order-price variances
    homogeneous across priority classes? z_ij = |x_ij - median_j|
    (group MEDIAN, not mean — the robust variant), then the one-way
    ANOVA F statistic on the z's: W = ((N-k)/(k-1)) * sum n_j(z̄_j -
    z̄)^2 / sum(z_ij - z̄_j)^2. This is the assumption gate in front
    of pooled-variance tests (`stats_anova_f` assumes what this
    tests). Two passes: group medians (one percentile aggregate),
    then sufficient statistics (n, sum z, sum z^2) per group — W
    assembles from O(k) scalars, no row ever revisited.

    Scale: medians per group are one approx/exact percentile shuffle;
    at 100 TB swap percentile for percentile_approx and the test is
    unchanged to its published robustness. Everything downstream of
    the two scans is O(groups)."""
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    z = (
        o.join(F.broadcast(med), o.o_orderpriority == med.g)
        .select(
            "g", F.abs(F.col("o_totalprice") - F.col("med")).alias("z")
        )
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    # expanded between-group sum of squares — single-level aggregates
    # only (Spark forbids nested aggregate expressions):
    # sum n_j(m_j - zbar)^2 = sum(sz^2/n) - (sum sz)^2 / sum n
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("double").alias("n_total"),
        (
            F.sum(F.col("sz") * F.col("sz") / F.col("n"))
            - F.sum("sz") * F.sum("sz") / F.sum("n").cast("double")
        ).alias("num"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n")).alias(
            "den"
        ),
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df2"),
        F.round(
            ((F.col("n_total") - F.col("k")) * F.lit(1.0) / (F.col("k") - 1))
            * F.col("num")
            / F.col("den"),
            4,
        ).alias("w_stat"),
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
    "stats_holm_correction",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             AVG(value) FILTER (WHERE user_id % 2 = 0) AS m_a,
             AVG(value) FILTER (WHERE user_id % 2 = 1) AS m_b,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS v_a,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 1) AS v_b
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT event_type,
             (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) AS z
      FROM g
    ),
    p AS (
      SELECT event_type, z,
             2.0 / (1.0 + exp(1.702 * abs(z))) AS p,
             COUNT(*) OVER () AS m,
             ROW_NUMBER() OVER (ORDER BY 2.0 / (1.0 + exp(1.702 * abs(z))),
                                event_type) AS i
      FROM z
    )
    SELECT event_type,
           ROUND(z, 4) AS z,
           ROUND(p, 6) AS p,
           ROUND(MAX(LEAST(1.0, p * (m - i + 1))) OVER (
             ORDER BY i ROWS UNBOUNDED PRECEDING
           ), 6) AS p_adj,
           CAST(CASE WHEN MAX(LEAST(1.0, p * (m - i + 1))) OVER (
             ORDER BY i ROWS UNBOUNDED PRECEDING
           ) <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS reject_fwer05
    FROM p
    """,
)
def stats_holm_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-DOWN correction over the per-metric A/B Welch
    z-tests: p_(i) adjusts to the running MAX of (m-i+1)·p_(j) for
    j<=i, capped at 1 — family-wise error control, uniformly more
    powerful than Bonferroni and assumption-free, the conservative
    sibling of `stats_benjamini_hochberg`'s FDR (use Holm when ONE
    false claim is unacceptable, BH when a false-discovery RATE is).
    Same logistic normal-CDF approximation (bit-identical across
    engines).

    Shape: one conditional-aggregate scan to O(metrics); ordered
    windows run on the metric table only."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(~a, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~a, F.col("value"))).alias("v_b"),
    )
    z = (F.col("m_a") - F.col("m_b")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    p = 2.0 / (1.0 + F.exp(1.702 * F.abs(z)))
    scored = g.select("event_type", z.alias("z"), p.alias("p"))
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "event_type",
        "z",
        "p",
        F.count(F.lit(1)).over(w_all).alias("m"),
        F.row_number().over(Window.orderBy("p", "event_type")).alias("i"),
    )
    raw = F.least(F.lit(1.0), F.col("p") * (F.col("m") - F.col("i") + 1))
    w_cum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    adj = F.max(raw).over(w_cum)
    return ranked.select(
        "event_type",
        F.round("z", 4).alias("z"),
        F.round("p", 6).alias("p"),
        F.round(adj, 6).alias("p_adj"),
        F.when(adj <= 0.05, 1).otherwise(0).cast("long").alias(
            "reject_fwer05"
        ),
    )


# ========================================================================
# from analytics_extras56.py — original batch rationale:
# Analytics extras, batch 56: perceptual frame similarity, the runs
# test, and star-except projection.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * video frame SSIM — the perceptual similarity metric between
#   consecutive decoded frames (global-window SSIM over real pixels);
#   the principled upgrade of `multimodal_video_shot_detection`'s raw
#   mean-delta, fully pixel-oracled.
# * runs test — Wald-Wolfowitz randomness check on the daily series'
#   median-sign sequence: too FEW runs = trending/clustered, too MANY
#   = oscillating; the model-free residual diagnostic.
# * star-except — `SELECT * EXCEPT (...)` (Spark 4) vs DuckDB's
#   `EXCLUDE`: the schema-evolution-friendly projection idiom, proven
#   equivalent cross-engine.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    med AS (SELECT median(y) AS m FROM daily),
    signs AS (
      SELECT d, y > med.m AS above
      FROM daily CROSS JOIN med
      WHERE y <> med.m
    ),
    runs AS (
      SELECT above,
             CASE WHEN LAG(above) OVER (ORDER BY d) IS DISTINCT FROM above
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    agg AS (
      SELECT SUM(new_run) AS r,
             SUM(CASE WHEN above THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN above THEN 0 ELSE 1 END) AS n2
      FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 4) AS expected_runs,
           ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))),
                 4) AS z
    FROM agg
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event counts: encode
    each day as above/below the series median (ties dropped, the
    standard treatment), count sign runs, and compare against the
    expected count 2 n1 n2/(n1+n2)+1 — significantly FEW runs mean
    trending/clustered data, MANY mean oscillation; either way the
    'iid residuals' assumption under the control charts and
    forecast backtests in this registry is violated. Model-free,
    one ordered pass over the O(days) reduced series.

    Shape: N events reduce to O(days); the lag window, run count,
    and z statistic are all O(days) work after that."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    med = daily.agg(F.percentile("y", F.lit(0.5)).alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("m"))
        .select("d", (F.col("y") > F.col("m")).alias("above"))
    )
    runs = signs.select(
        "above",
        F.when(
            ~F.lag("above").over(Window.orderBy("d")).eqNullSafe(
                F.col("above")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").alias("r"),
        F.sum(F.col("above").cast("long")).alias("n1"),
        F.sum((~F.col("above")).cast("long")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    exp_r = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))
    )
    return agg.select(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        F.round(exp_r, 4).alias("expected_runs"),
        F.round((r - exp_r) / F.sqrt(var_r), 4).alias("z"),
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
    "stats_poisson_gof",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT COUNT(*) AS n, AVG(k) AS lam, VAR_SAMP(k) AS v FROM per_order
    ),
    hist AS (
      SELECT LEAST(k, 10) AS kb, COUNT(*) AS obs FROM per_order GROUP BY 1
    ),
    expected AS (
      -- Poisson pmf via exp(k ln lam - lam - ln k!) with ln k! as a
      -- literal prefix sum (k <= 9); bucket 10 takes the tail mass
      SELECT kb, obs,
             CASE WHEN kb < 10 THEN
               stats.n * EXP(kb * LN(stats.lam) - stats.lam
                 - CASE kb WHEN 0 THEN 0.0 WHEN 1 THEN 0.0
                   WHEN 2 THEN LN(2.0) WHEN 3 THEN LN(6.0)
                   WHEN 4 THEN LN(24.0) WHEN 5 THEN LN(120.0)
                   WHEN 6 THEN LN(720.0) WHEN 7 THEN LN(5040.0)
                   WHEN 8 THEN LN(40320.0) ELSE LN(362880.0) END)
             ELSE NULL END AS exp_n
      FROM hist CROSS JOIN stats
    ),
    tail AS (
      SELECT SUM(obs) AS tot_obs, SUM(exp_n) AS head_exp
      FROM expected
    ),
    fixed AS (
      SELECT e.kb, e.obs,
             COALESCE(e.exp_n, (SELECT n FROM stats) - t.head_exp) AS exp_n
      FROM expected e CROSS JOIN tail t
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n_orders,
           ROUND((SELECT lam FROM stats), 4) AS lambda_hat,
           ROUND((SELECT v / lam FROM stats), 4) AS dispersion_index,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(SUM((obs - exp_n) * (obs - exp_n) / exp_n), 4)
             AS chi_square
    FROM fixed
    """,
)
def stats_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness of fit for items-per-order: the dispersion
    index Var/Mean (1 under Poisson; >1 overdispersed -> negative
    binomial territory) plus a chi-square against the fitted pmf
    over buckets 0-9 with the tail pooled at 10+ — the check that
    decides whether Poisson-based machinery (rate tests, bootstrap
    weights, M/M/1-style queue math) is even applicable to this
    count distribution. The pmf is computed in closed form with
    ln k! as literals, identical on both engines.

    Shape: one fact reduce to order grain, an O(buckets) histogram,
    scalar math."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("k")
    ).localCheckpoint(eager=False)  # stats + histogram reuse it
    stats = per_order.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("k").alias("lam"),
        F.var_samp("k").alias("v"),
    )
    hist = per_order.groupBy(
        F.least(F.col("k"), F.lit(10)).alias("kb")
    ).agg(F.count(F.lit(1)).alias("obs"))
    lnfact = F.when(F.col("kb") <= 1, 0.0)
    for kk, v in [(2, 2.0), (3, 6.0), (4, 24.0), (5, 120.0), (6, 720.0),
                  (7, 5040.0), (8, 40320.0), (9, 362880.0)]:
        lnfact = lnfact.when(F.col("kb") == kk, float(math.log(v)))
    expected = hist.crossJoin(F.broadcast(stats)).select(
        "kb",
        "obs",
        F.when(
            F.col("kb") < 10,
            F.col("n")
            * F.exp(
                F.col("kb") * F.log("lam") - F.col("lam") - lnfact
            ),
        ).alias("exp_n"),
        "n",
        "lam",
        "v",
    )
    head = expected.agg(F.sum("exp_n").alias("head_exp"))
    fixed = expected.crossJoin(F.broadcast(head)).select(
        "kb",
        "obs",
        F.coalesce(
            F.col("exp_n"), F.col("n") - F.col("head_exp")
        ).alias("exp_n"),
        "n",
        "lam",
        "v",
    )
    return fixed.agg(
        F.first("n").cast("long").alias("n_orders"),
        F.round(F.first("lam"), 4).alias("lambda_hat"),
        F.round(F.first("v") / F.first("lam"), 4).alias("dispersion_index"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(
            F.sum(
                (F.col("obs") - F.col("exp_n"))
                * (F.col("obs") - F.col("exp_n"))
                / F.col("exp_n")
            ),
            4,
        ).alias("chi_square"),
    )


# ========================================================================
# from analytics_extras59.py — original batch rationale:
# Analytics extras, batch 59: decoder-accuracy auditing, TOST
# equivalence testing, and n-gram novelty.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * audio pitch estimate — recover each WAV's sine frequency from its
#   DECODED samples via zero-crossing rate and compare against the
#   synthesizer's md5-derived ground truth: a decoder-accuracy audit
#   with internal ground truth, fully oracled.
# * TOST equivalence — two one-sided Welch tests proving the ABSENCE
#   of a meaningful difference (non-inferiority), the inverse goal of
#   every significance test in the registry.
# * n-gram novelty — share of held-out trigrams never seen in the
#   training half: the memorization/novelty complement of
#   `text_train_eval_perplexity`.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_TOST_MARGIN = 0.05  # equivalence margin: 5% of the pooled mean



@register(
    "stats_equivalence_tost",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             AVG(value) FILTER (WHERE user_id % 2 = 0) AS m_a,
             AVG(value) FILTER (WHERE user_id % 2 = 1) AS m_b,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS v_a,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 1) AS v_b,
             AVG(value) AS m_all
      FROM events GROUP BY event_type
    ),
    t AS (
      SELECT event_type,
             m_a - m_b AS diff,
             {_TOST_MARGIN} * m_all AS margin,
             SQRT(v_a / n_a + v_b / n_b) AS se
      FROM g
    )
    SELECT event_type,
           ROUND(diff, 4) AS diff,
           ROUND(margin, 4) AS margin,
           ROUND((diff + margin) / se, 4) AS z_lower,
           ROUND((diff - margin) / se, 4) AS z_upper,
           (diff + margin) / se > 1.645 AND (diff - margin) / se < -1.645
             AS equivalent_90
    FROM t
    """,
)
def stats_equivalence_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence testing by TOST (two one-sided tests): the A/B
    groups are declared EQUIVALENT at 90% when the difference is
    significantly ABOVE -margin AND significantly BELOW +margin
    (margin = 5% of the metric mean) — the procedure that proves a
    refactor/migration changed nothing, which a non-significant
    t-test cannot (absence of evidence is not evidence of absence).
    Inverse inference goal of every significance test in the
    registry; same one-scan Welch sufficient statistics.

    Shape: one conditional-aggregate scan to O(metrics), scalar
    math."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(~a, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~a, F.col("value"))).alias("v_b"),
        F.avg("value").alias("m_all"),
    )
    diff = F.col("m_a") - F.col("m_b")
    margin = _TOST_MARGIN * F.col("m_all")
    se = F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    return g.select(
        "event_type",
        F.round(diff, 4).alias("diff"),
        F.round(margin, 4).alias("margin"),
        F.round((diff + margin) / se, 4).alias("z_lower"),
        F.round((diff - margin) / se, 4).alias("z_upper"),
        (
            ((diff + margin) / se > 1.645) & ((diff - margin) / se < -1.645)
        ).alias("equivalent_90"),
    )


# ========================================================================
# from analytics_extras60.py — original batch rationale:
# Analytics extras, batch 60: SCD2 change application, the
# Mann-Kendall trend test, and bot-regularity screening.
#
# The SCD2 apply is the closest of these to the reference's world:
# `HiveToMysql.java` re-imports whole dimension partitions because it
# has no notion of history (`270-282` deletes and reloads); an SCD2
# dimension with incremental change application is what that pipeline
# grows into. The rest extend SURVEY.md §2.2:
#
# * Mann-Kendall — the nonparametric monotone-trend test (pairwise
#   sign statistic with tie correction) next to `stats_theil_sen`'s
#   slope and `stats_runs_test`'s randomness check.
# * bot screen — inter-event gap regularity per user (a near-zero
#   coefficient of variation is a metronome, not a human), the
#   abuse-detection primitive over the events stream.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_mann_kendall",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      FROM monthly a JOIN monthly b ON b.m > a.m
    ),
    s AS (SELECT SUM(sgn) AS s_stat FROM pairs),
    n_ AS (SELECT COUNT(*) AS n FROM monthly),
    ties AS (
      SELECT COALESCE(SUM(t * (t - 1.0) * (2 * t + 5.0)), 0.0) AS tcorr
      FROM (SELECT COUNT(*) AS t FROM monthly GROUP BY y HAVING COUNT(*) > 1)
    )
    SELECT CAST(n_.n AS BIGINT) AS n_months,
           CAST(s.s_stat AS BIGINT) AS s_statistic,
           ROUND((n_.n * (n_.n - 1.0) * (2 * n_.n + 5.0) - ties.tcorr)
                 / 18.0, 4) AS var_s,
           ROUND((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / SQRT((n_.n * (n_.n - 1.0) * (2 * n_.n + 5.0)
                         - ties.tcorr) / 18.0), 4) AS z
    FROM s CROSS JOIN n_ CROSS JOIN ties
    """,
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the monthly order series:
    S = sum of pairwise sign(y_j - y_i) for i<j, variance with the
    standard tie correction, continuity-corrected z — the
    nonparametric companion of `stats_theil_sen` (which estimates
    the slope MK tests) and the trend complement of
    `stats_runs_test`. Distribution-free: no normality or linearity
    assumed, which is why hydrology/ops monitoring defaults to it.

    Shape: the fact reduces to O(months) FIRST; the pairwise
    self-join is months^2 (~6k pairs), never data-sized — the same
    reduced-table discipline as Theil-Sen."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("double").alias("y")).localCheckpoint(
        eager=False
    )  # pinned: the pair join, n, and tie scan all reuse it
    b = monthly.select(F.col("m").alias("m2"), F.col("y").alias("y2"))
    pairs = monthly.join(b, F.col("m2") > F.col("m")).select(
        F.when(F.col("y2") > F.col("y"), 1)
        .when(F.col("y2") < F.col("y"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(F.sum("sgn").alias("s_stat"))
    n_ = monthly.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        monthly.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1.0) * (2 * F.col("t") + 5.0)
                ),
                F.lit(0.0),
            ).alias("tcorr")
        )
    )
    j = s.crossJoin(F.broadcast(n_)).crossJoin(F.broadcast(ties))
    var_s = (
        F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5.0)
        - F.col("tcorr")
    ) / 18.0
    cc = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
    )
    return j.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("s_stat").cast("long").alias("s_statistic"),
        F.round(var_s, 4).alias("var_s"),
        F.round((F.col("s_stat") - cc) / F.sqrt(var_s), 4).alias("z"),
    )


# ========================================================================
# from analytics_extras64.py — original batch rationale:
# Analytics extras, batch 64: price indexing and inter-arrival
# distribution fitting.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Laspeyres price index — base-year-basket-weighted price relatives
#   per year: the economics-grade inflation measure over the catalog
#   (a plain average of prices confounds mix shift with price change;
#   Laspeyres holds the basket fixed).
# * exponential gap fit — MLE fit of inter-event gaps with a KS
#   distance against the fitted exponential: the Poisson-process
#   check underlying every rate-based model in the registry.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_exponential_gaps_fit",
    oracle="""
    WITH ordered AS (
      SELECT ts, LAG(ts) OVER (ORDER BY ts, event_id) AS prev
      FROM events
    ),
    gaps AS (
      SELECT epoch_us(ts) - epoch_us(prev) AS g
      FROM ordered WHERE prev IS NOT NULL
        AND epoch_us(ts) - epoch_us(prev) > 0
    ),
    lam AS (SELECT COUNT(*) AS n, 1.0 / AVG(g) AS lambda_us FROM gaps),
    ranked AS (
      SELECT g,
             ROW_NUMBER() OVER (ORDER BY g) AS r,
             COUNT(*) OVER () AS n2
      FROM gaps
    ),
    ks AS (
      SELECT MAX(GREATEST(
               ABS(r * 1.0 / n2 - (1.0 - EXP(-lam.lambda_us * g))),
               ABS((r - 1.0) / n2 - (1.0 - EXP(-lam.lambda_us * g)))
             )) AS d
      FROM ranked CROSS JOIN lam
    )
    SELECT CAST(lam.n AS BIGINT) AS n_gaps,
           ROUND(lam.lambda_us * 1e6, 6) AS lambda_per_sec,
           ROUND((1.0 / lam.lambda_us) / 1e6, 4) AS mean_gap_s,
           ROUND(ks.d, 4) AS ks_distance,
           ks.d < 0.05 AS exponential_plausible
    FROM lam CROSS JOIN ks
    """,
)
def stats_exponential_gaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential fit of global inter-event gaps: MLE rate lambda =
    1/mean, then the Kolmogorov-Smirnov distance between the
    empirical gap CDF and the fitted Exp(lambda) — the direct test
    of the Poisson-process assumption that rate tests, M/M/1-style
    capacity math, and the bot screen's 'CV near 1' heuristic all
    lean on. Both CDF step sides enter the KS sup, the textbook
    one-sample form.

    Shape: one ordered lag pass, one O(1) rate aggregate, and a
    DISTRIBUTED rank over the O(gaps) set (operators/ranks:
    value-range buckets + per-bucket row_number + broadcast offsets
    — ties on g may order arbitrarily within a bucket, which cannot
    move the KS sup because tied gaps share their CDF value and the
    rank multiset per value is deterministic). The event-stream lag
    is ALSO distributed (operators/ranks.grouped_lag, no group
    columns: within-bucket
    lag + a one-row-per-bucket boundary hand-off) — the r9
    measured-row audit caught the previous form single-partition-
    sorting both the event stream and the gaps.

    Gaps are measured in integer MICROseconds (converted to per-
    second units only in the output): the earlier whole-second gaps
    became massively tied as event density rose — at 10x the rate
    most gaps collapse onto a handful of small integers, and since a
    tie group can never split across value buckets, ONE bucket
    inherited the mass (r11 window audit: max bucket 21.4x across a
    10x step under quantile boundaries) while the g > 0 filter
    silently discarded the growing sub-second class. Micro gaps are
    near-tie-free at any scale, so quantile buckets stay balanced
    and only true same-instant pairs are dropped."""
    from hivetomysql_spark.operators.ranks import (
        grouped_lag,
        grouped_row_number,
    )

    ev = load_table(spark, sf_dir, "events")
    lagged = grouped_lag(
        ev.select("ts", "event_id"), [], "ts", ["event_id"], out="prev_ts"
    )
    gaps = lagged.select(
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("g")
    ).where(F.col("g").isNotNull() & (F.col("g") > 0))
    gaps = gaps.localCheckpoint(eager=False)  # rate + KS reuse it
    lam = gaps.agg(
        F.count(F.lit(1)).alias("n"), (1.0 / F.avg("g")).alias("lambda_us")
    )
    # quantile boundaries, not value-range: the gaps are (by this
    # query's own hypothesis!) exponential, so range buckets would
    # concentrate ~ln(N)/64 of all rows in bucket 1 — the documented
    # ranks.py skew caveat, closed in r10
    ranked = grouped_row_number(
        gaps, [], "g", out="r", bucket_mode="quantile"
    )
    # n2 (the KS denominator) is lam.n — same frame, no second
    # global count window needed
    j = ranked.crossJoin(F.broadcast(lam)).withColumn("n2", F.col("n"))
    cdf = 1.0 - F.exp(-F.col("lambda_us") * F.col("g"))
    ks = j.agg(
        F.max(
            F.greatest(
                F.abs(F.col("r") * 1.0 / F.col("n2") - cdf),
                F.abs((F.col("r") - 1.0) / F.col("n2") - cdf),
            )
        ).alias("d")
    )
    return lam.crossJoin(F.broadcast(ks)).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(F.col("lambda_us") * 1e6, 6).alias("lambda_per_sec"),
        F.round((1.0 / F.col("lambda_us")) / 1e6, 4).alias("mean_gap_s"),
        F.round("d", 4).alias("ks_distance"),
        (F.col("d") < 0.05).alias("exponential_plausible"),
    )


# ========================================================================
# from analytics_extras67.py — original batch rationale:
# Analytics extras, batch 67: empirical-Bayes shrinkage and the
# Simpson/Pielou diversity pair.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Dirichlet shrinkage — per-source language proportions shrunk
#   toward the corpus prior with pseudo-count m: the small-sample
#   stabilizer (a 5-doc source's raw shares are noise; the shrunk
#   estimate is usable), sibling of the smoothed target encoder but
#   for full distributions.
# * Simpson + Pielou — Simpson's diversity (1 - sum p^2 =
#   P(two draws differ)) and Pielou's evenness (H/ln k) per source,
#   completing the diversity-index trio with the registry's Shannon
#   entropy.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_DS_M = 20.0  # prior pseudo-count



@register(
    "stats_dirichlet_shrinkage",
    oracle=f"""
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    src_tot AS (SELECT source, SUM(n) AS ns FROM counts GROUP BY 1),
    prior AS (
      SELECT lang, SUM(n) * 1.0 / (SELECT SUM(n) FROM counts) AS p
      FROM counts GROUP BY 1
    ),
    grid AS (
      SELECT st.source, pr.lang, st.ns, pr.p,
             COALESCE(c.n, 0) AS n
      FROM src_tot st CROSS JOIN prior pr
      LEFT JOIN counts c ON c.source = st.source AND c.lang = pr.lang
    )
    SELECT source, lang,
           CAST(n AS BIGINT) AS n_docs,
           ROUND(n * 1.0 / ns, 4) AS raw_share,
           ROUND((n + {_DS_M} * p) / (ns + {_DS_M}), 4) AS shrunk_share
    FROM grid
    """,
)
def stats_dirichlet_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source language mixes toward
    the corpus prior: theta = (n_sl + m*p_l) / (n_s + m) with
    pseudo-count m=20 — the Dirichlet-multinomial posterior mean that
    keeps a 5-document source from reporting '100% French' on one
    coincidence. Zero-count (source, lang) cells appear explicitly
    (shrunk toward the prior, never exactly zero) — the property raw
    shares lack that makes shrunk shares safe to take logs of or
    rank by. The distribution-valued sibling of
    `feature_target_encoding_smooth`.

    Shape: one reduce to O(source x lang) cells, a tiny domain cross
    join, scalar math."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    counts = counts.localCheckpoint(eager=False)  # 3 consumers below
    src_tot = counts.groupBy("source").agg(F.sum("n").alias("ns"))
    total = counts.agg(F.sum("n").alias("tot"))
    prior = (
        counts.groupBy("lang")
        .agg(F.sum("n").alias("nl"))
        .crossJoin(F.broadcast(total))
        .select("lang", (F.col("nl") * 1.0 / F.col("tot")).alias("p"))
    )
    grid = (
        src_tot.crossJoin(F.broadcast(prior))
        .join(counts, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "ns",
            "p",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    return grid.select(
        "source",
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("n") * 1.0 / F.col("ns"), 4).alias("raw_share"),
        F.round(
            (F.col("n") + _DS_M * F.col("p")) / (F.col("ns") + _DS_M), 4
        ).alias("shrunk_share"),
    )


# ========================================================================
# from analytics_extras77.py — original batch rationale:
# Analytics extras, batch 77: standardized effect sizes.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); SURVEY.md §2.2 extension-tier entry:
#
# * Cohen's d / Hedges' g — standardized A/B effect sizes per metric:
#   the magnitude answer that p-values cannot give (at fleet sample
#   sizes everything is 'significant'; d says whether anyone should
#   care), with the small-sample bias correction and the conventional
#   small/medium/large banding.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "stats_cohens_d",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             AVG(value) FILTER (WHERE user_id % 2 = 0) AS m_a,
             AVG(value) FILTER (WHERE user_id % 2 = 1) AS m_b,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS v_a,
             VAR_SAMP(value) FILTER (WHERE user_id % 2 = 1) AS v_b
      FROM events GROUP BY event_type
    ),
    eff AS (
      SELECT event_type, n_a, n_b,
             (m_a - m_b)
             / SQRT(((n_a - 1) * v_a + (n_b - 1) * v_b)
                    / (n_a + n_b - 2.0)) AS d
      FROM g
    )
    SELECT event_type,
           CAST(n_a + n_b AS BIGINT) AS n_total,
           ROUND(d, 6) AS cohens_d,
           ROUND(d * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 6)
             AS hedges_g,
           CASE WHEN ABS(d) < 0.2 THEN 'negligible'
                WHEN ABS(d) < 0.5 THEN 'small'
                WHEN ABS(d) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM eff
    """,
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size per A/B metric: Cohen's d (mean
    difference over the pooled standard deviation) plus Hedges' g
    (the small-sample bias correction d·(1 − 3/(4N−9))) and the
    conventional negligible/small/medium/large banding — the number
    that keeps large-sample 'significance' honest: at fleet scale a
    p-value rejects for effects nobody should act on, and d is what
    the decision should read (the same reason `stats_power_analysis`
    sizes experiments in effect units). Completes the inference kit:
    test (Welch/TOST/Bayesian), correct (BH/Holm), size (this).

    Shape: one conditional-aggregate scan to O(metrics), scalar
    math."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(~a, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~a, F.col("value"))).alias("v_b"),
    )
    pooled_sd = F.sqrt(
        (
            (F.col("n_a") - 1) * F.col("v_a")
            + (F.col("n_b") - 1) * F.col("v_b")
        )
        / (F.col("n_a") + F.col("n_b") - 2.0)
    )
    d = (F.col("m_a") - F.col("m_b")) / pooled_sd
    n = F.col("n_a") + F.col("n_b")
    return g.select(
        "event_type",
        n.cast("long").alias("n_total"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1.0 - 3.0 / (4.0 * n - 9.0)), 6).alias("hedges_g"),
        F.when(F.abs(d) < 0.2, "negligible")
        .when(F.abs(d) < 0.5, "small")
        .when(F.abs(d) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ========================================================================
# from analytics_extras79.py — original batch rationale:
# Analytics extras, batch 79: the Ljung-Box portmanteau test.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); SURVEY.md §2.2 extension-tier entry:
#
# * Ljung-Box — the JOINT autocorrelation test over lags 1..7:
#   Q = n(n+2) sum r_k^2/(n-k), cumulated per lag against the
#   chi-square 5% line — the standard 'are these residuals white'
#   portmanteau that single-lag ACF (`timeseries_autocorr`), PACF,
#   and the runs test each only probe one slice of.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_LB_LAGS = 7


_CHI2_05 = [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067]


def _lb_oracle() -> str:
    lag_sqls = []
    for k in range(1, _LB_LAGS + 1):
        lag_sqls.append(f"""
    r{k} AS (
      SELECT SUM((a.yc) * (b.yc)) / (SELECT SUM(yc * yc) FROM centered)
               AS r
      FROM centered a JOIN centered b ON b.t = a.t + {k}
    )""")
    rows = " UNION ALL ".join(
        f"SELECT {k} AS lag, (SELECT r FROM r{k}) AS rk FROM (SELECT 1)"
        for k in range(1, _LB_LAGS + 1)
    )
    crit = ", ".join(str(c) for c in _CHI2_05)
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    centered AS (
      SELECT y - AVG(y) OVER () AS yc,
             ROW_NUMBER() OVER (ORDER BY d) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    {",".join(lag_sqls)},
    acfs AS ({rows}),
    n_ AS (SELECT MAX(n) AS n FROM centered),
    terms AS (
      SELECT lag, rk,
             n_.n * (n_.n + 2.0) * rk * rk / (n_.n - lag) AS term
      FROM acfs CROSS JOIN n_
    ),
    cum AS (
      SELECT lag, rk,
             SUM(term) OVER (ORDER BY lag) AS q
      FROM terms
    )
    SELECT CAST(lag AS INT) AS lag,
           ROUND(rk, 6) AS acf,
           ROUND(q, 4) AS ljung_box_q,
           CAST(([{crit}])[lag] AS DOUBLE) AS chi2_crit_05,
           q > ([{crit}])[lag] AS reject_white_05
    FROM cum
    """



@register("stats_ljung_box", oracle=_lb_oracle())
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event counts:
    autocorrelations r_1..r_7 of the mean-centered series, the
    cumulative statistic Q_m = n(n+2) sum_{{k<=m}} r_k^2/(n-k), and
    the chi-square 5% rejection line per degree of freedom — the
    JOINT whiteness test under every 'iid residuals' assumption in
    this registry (control charts, backtests, bootstrap CIs), where
    `timeseries_autocorr` reads one lag and `stats_runs_test` only
    signs. A rejection at m=7 with weekly data is the seasonality
    the decomposition queries then remove.

    Shape: the fact reduces to O(days) once; each r_k is one
    shifted self-join on the reduced series; Q is an O(lags)
    running sum."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    wall = Window.partitionBy()
    centered = daily.select(
        (F.col("y") - F.avg("y").over(wall)).alias("yc"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).localCheckpoint(eager=False)  # 7 shifted joins + denom reuse it
    denom = centered.agg(F.sum(F.col("yc") * F.col("yc")).alias("ss"))
    b = centered.select(F.col("t").alias("tb"), F.col("yc").alias("ycb"))
    acf_rows = []
    for k in range(1, _LB_LAGS + 1):
        rk = (
            centered.join(b, F.col("tb") == F.col("t") + k)
            .agg(F.sum(F.col("yc") * F.col("ycb")).alias("num"))
            .crossJoin(F.broadcast(denom))
            .select(
                F.lit(k).alias("lag"),
                (F.col("num") / F.col("ss")).alias("rk"),
            )
        )
        acf_rows.append(rk)
    acfs = acf_rows[0]
    for df_ in acf_rows[1:]:
        acfs = acfs.unionByName(df_)
    n_ = centered.agg(F.max("n").alias("nn"))
    terms = acfs.crossJoin(F.broadcast(n_)).select(
        "lag",
        "rk",
        (
            F.col("nn")
            * (F.col("nn") + 2.0)
            * F.col("rk")
            * F.col("rk")
            / (F.col("nn") - F.col("lag"))
        ).alias("term"),
    )
    crit = F.array(*[F.lit(c) for c in _CHI2_05])
    cum = terms.select(
        "lag",
        "rk",
        F.sum("term")
        .over(Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0))
        .alias("q"),
    )
    return cum.select(
        F.col("lag").cast("int").alias("lag"),
        F.round("rk", 6).alias("acf"),
        F.round("q", 4).alias("ljung_box_q"),
        F.round(F.element_at(crit, F.col("lag")), 3).alias("chi2_crit_05"),
        (F.col("q") > F.element_at(crit, F.col("lag"))).alias(
            "reject_white_05"
        ),
    )
