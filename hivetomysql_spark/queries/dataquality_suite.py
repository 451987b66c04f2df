"""Data-quality expectation suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



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
    "dq_freshness_lag",
    oracle="""
    SELECT event_type,
           ROUND(EXTRACT(EPOCH FROM
             (SELECT MAX(ts) FROM events) - MAX(ts)) / 3600.0, 4)
             AS lag_hours,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit: hours between each event type's latest
    record and the global high-watermark — the staleness monitor that
    pages when one upstream feed silently stops.

    Scale shape: one O(data) aggregate to per-type (max ts, count);
    the global watermark is the max of that k-row frame, broadcast
    back — the fact table is scanned once, not once per type and not
    twice for the global max.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.max("ts").alias("mx"), F.count("*").alias("n")
    )
    hi = g.agg(F.max("mx").alias("hi"))
    return g.crossJoin(F.broadcast(hi)).select(
        "event_type",
        F.round(
            (
                F.col("hi").cast("double") - F.col("mx").cast("double")
            )
            / 3600.0,
            4,
        ).alias("lag_hours"),
        "n",
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



@register(
    "dq_cross_table_reconciliation",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                  AS TIMESTAMP) AS m
      FROM orders
    ),
    l AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.m, o.o_orderkey, COALESCE(l.n_lines, 0) AS n_lines
      FROM o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT m AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n_lines > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS orders_with_lines,
           CAST(SUM(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS orphan_orders,
           CAST(SUM(n_lines) AS BIGINT) AS line_rows,
           ROUND(SUM(CASE WHEN n_lines > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS coverage
    FROM j GROUP BY m
    """,
)
def dq_cross_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fact reconciliation: per order month, how many orders
    have at least one lineitem, how many are orphans, and the raw
    line-row volume — the audit that catches partial loads and
    referential drift between pipelines feeding two fact tables.

    Shape: lineitem pre-aggregates to one row per orderkey BEFORE the
    join (the classic reduce-then-join — the join input shrinks from
    line grain to order grain), then a LEFT join preserves orphans
    and one grouped pass rolls up to months. Both shuffles key on
    orderkey/month; at 100 TB bucketing both facts on orderkey makes
    the join co-located."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", F.to_date("o_orderdate")).alias("m"),
    )
    lag = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    j = o.join(lag, F.col("l_orderkey") == F.col("o_orderkey"), "left").select(
        "m", F.coalesce("n_lines", F.lit(0)).alias("n_lines")
    )
    has = (F.col("n_lines") > 0).cast("long")
    return j.groupBy(F.col("m").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(has).cast("long").alias("orders_with_lines"),
        F.sum(1 - has).cast("long").alias("orphan_orders"),
        F.sum("n_lines").cast("long").alias("line_rows"),
        F.round(F.sum(has) / F.count(F.lit(1)), 4).alias("coverage"),
    )


# ========================================================================
# from analytics_extras10.py — original batch rationale:
# Analytics extras, batch 10: retrieval end-to-end, embedding
# compression trade-offs, volume anomaly alerts, and cohort LTV.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's similarity-search / embedding /
# data-quality / finance tiers:
#
# * semantic search e2e — query vector -> cosine top-k -> metadata
#   join, the full retrieval path in one plan;
# * Matryoshka truncation — recall@10 of prefix-16-dim cosine against
#   full 64-dim ranking (the MRL trade-off, measured);
# * binary quantization — sign-bit signatures + Hamming ranking vs
#   exact cosine, recall@10 per query;
# * volume spike — trailing-window z-score day alerts;
# * cohort LTV — first-order cohorts x age, cumulative spend per
#   customer (the retention-triangle economics view).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_anomaly_volume_spike",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT d, n,
             AVG(n) OVER (ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
               AS mu,
             STDDEV_SAMP(n) OVER (ORDER BY d ROWS BETWEEN 28 PRECEDING
                                  AND 1 PRECEDING) AS sigma,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 28 PRECEDING
                            AND 1 PRECEDING) AS wn
      FROM daily
    )
    SELECT day, n_events, z FROM (
      SELECT d AS day,
             CAST(n AS BIGINT) AS n_events,
             ROUND((n - mu) / sigma, 2) AS z,
             ROW_NUMBER() OVER (ORDER BY abs((n - mu) / sigma) DESC, d) AS rk
      FROM scored
      WHERE wn = 28 AND sigma > 0
    ) WHERE rk <= 5
    """,
)
def dq_anomaly_volume_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly alerts: each day's event count is scored
    against the trailing 28 days (mean/stddev, current day excluded),
    and the 5 most anomalous days are reported — the pipeline-health
    monitor that catches double-loads and silent drops before
    consumers do.

    Shape: N events compress to O(days) in one grouped pass; the
    trailing window runs on the compressed series. Self-exclusion
    (ROWS ... 1 PRECEDING) matters: a spike must not inflate its own
    baseline."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.orderBy("d").rowsBetween(-28, -1)
    scored = daily.select(
        "d",
        "n",
        F.avg("n").over(wt).alias("mu"),
        F.stddev_samp("n").over(wt).alias("sigma"),
        F.count(F.lit(1)).over(wt).alias("wn"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    flagged = scored.where((F.col("wn") == 28) & (F.col("sigma") > 0)).select(
        F.col("d").alias("day"),
        F.col("n").cast("long").alias("n_events"),
        F.round(z, 2).alias("z"),
        F.row_number().over(Window.orderBy(F.desc(F.abs(z)), "d")).alias("rk"),
    )
    return flagged.where(F.col("rk") <= 5).drop("rk")


# ========================================================================
# from analytics_extras11.py — original batch rationale:
# Analytics extras, batch 11: star-schema flattening, join-key skew
# profiling, entity-resolution cluster rollup, and forecast
# backtesting.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's relational / data-quality /
# entity-resolution / time-series tiers:
#
# * star flatten — the one-pass all-broadcast-dims denormalization
#   every BI extract runs;
# * join-key skew — the partition-balance profiler you consult BEFORE
#   a 100 TB join, quantifying hot keys;
# * ER cluster rollup — fuzzy-match pairs closed into entities by
#   iterative min-label propagation (recursive-CTE closure oracle);
# * seasonal-naive backtest — forecast y(d) with y(d-7) and score it,
#   the baseline every fancier model must beat.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_join_key_skew",
    oracle="""
    WITH k AS (
      SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    ),
    st AS (
      SELECT COUNT(*) AS n_keys,
             SUM(n) AS n_rows,
             MAX(n) AS max_n,
             quantile_cont(n, 0.5) AS p50,
             quantile_cont(n, 0.99) AS p99
      FROM k
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_n AS BIGINT) AS max_rows_one_key,
           ROUND(max_n * 1.0 / n_rows, 6) AS top_key_share,
           ROUND(p50, 1) AS p50_rows_per_key,
           ROUND(p99, 1) AS p99_rows_per_key,
           ROUND(p99 / p50, 2) AS p99_p50_ratio
    FROM st
    """,
)
def dq_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for lineitem.l_orderkey: per-key row
    counts summarized as max share, p50/p99 rows-per-key, and their
    ratio — the numbers that decide whether a planned join needs
    salting, AQE skew splitting, or nothing. Profiling the key is
    O(keys); discovering skew mid-join at 100 TB is an OOM.

    Shape: one count-by-key pass (map-side partial aggregation does
    most of the work), then exact percentiles over the O(keys)
    count table."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    st = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.percentile("n", F.lit(0.5)).alias("p50"),
        F.percentile("n", F.lit(0.99)).alias("p99"),
    )
    return st.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_n").cast("long").alias("max_rows_one_key"),
        F.round(F.col("max_n") / F.col("n_rows"), 6).alias("top_key_share"),
        F.round("p50", 1).alias("p50_rows_per_key"),
        F.round("p99", 1).alias("p99_rows_per_key"),
        F.round(F.col("p99") / F.col("p50"), 2).alias("p99_p50_ratio"),
    )


# ========================================================================
# from analytics_extras15.py — original batch rationale:
# Analytics extras, batch 15: ratio-metric confidence intervals,
# duplicate-transaction detection, and embedding outliers.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's statistics / data-quality /
# embedding tiers:
#
# * ratio-metric CI — the delta method for revenue-per-order style
#   metrics whose numerator and denominator are correlated per unit
#   (naive SE is wrong there; this is the standard experimentation-
#   platform fix);
# * duplicate transactions — same customer, same amount, within 30
#   days: the double-charge / double-load screen;
# * Mahalanobis outliers — diagonal-covariance standardized distance
#   over the embedding cloud, top-k most anomalous vectors.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_duplicate_transactions",
    oracle="""
    SELECT a.o_custkey,
           a.o_orderkey AS orderkey_a,
           b.o_orderkey AS orderkey_b,
           ROUND(a.o_totalprice, 2) AS amount_a,
           ROUND(b.o_totalprice, 2) AS amount_b,
           CAST(abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                              CAST(b.o_orderdate AS DATE))) AS BIGINT)
             AS days_apart
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND FLOOR(a.o_totalprice / 500) = FLOOR(b.o_totalprice / 500)
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                        CAST(b.o_orderdate AS DATE))) <= 90
    """,
)
def dq_duplicate_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: two orders by the same customer in the
    same $500 amount band within 90 days are flagged as suspected
    duplicates — the transactional analogue of near-dup detection,
    and the first report a billing/ingest incident review pulls.

    Shape: a self-join blocked on (custkey, amount-band) — the
    blocking keys make candidate sets tiny, so the join output is
    near-linear; the date-window predicate prunes the rest. At 100 TB
    this is the equi-join + residual-filter pattern, shuffle keyed on
    the blocking pair."""
    o = load_table(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    days = F.abs(
        F.datediff(F.to_date("a.o_orderdate"), F.to_date("b.o_orderdate"))
    )
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (
                F.floor(F.col("a.o_totalprice") / 500)
                == F.floor(F.col("b.o_totalprice") / 500)
            )
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(days <= 90)
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.round(F.col("a.o_totalprice"), 2).alias("amount_a"),
            F.round(F.col("b.o_totalprice"), 2).alias("amount_b"),
            days.cast("long").alias("days_apart"),
        )
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
    "dq_invoice_reconciliation",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  * (1 + l_tax) AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS line_total
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderpriority AS priority,
             o.o_totalprice,
             l.line_total,
             abs(o.o_totalprice - l.line_total)
               / GREATEST(o.o_totalprice, 0.01) AS rel_gap
      FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN rel_gap <= 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_1pct,
           ROUND(median(rel_gap), 4) AS median_rel_gap,
           ROUND(MAX(rel_gap), 4) AS max_rel_gap
    FROM j GROUP BY priority
    """,
)
def dq_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines reconciliation: o_totalprice against the
    recomputed sum(extendedprice·(1-disc)·(1+tax)) per order, with
    the relative-gap distribution by priority class. On real TPC-H
    data the books balance; on THESE fixtures the audit correctly
    reports that header totals are NOT derivable from lines (median
    relative gap ~40%) — which is precisely the finding such an audit
    exists to surface before anyone joins the two as if consistent.

    Shape: reduce lineitem to order grain BEFORE the join (the
    reduce-then-join pattern), then one grouped rollup; both
    shuffles key on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    l_tot = li.groupBy("l_orderkey").agg(
        # DECIMAL(18,6) ledger: the 6-decimal charge sums feed a
        # rel_gap threshold, so engine-exact sums matter
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(18,6)")
            ),
            2,
        ).alias("line_total")
    )
    j = o.join(l_tot, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.abs(F.col("o_totalprice") - F.col("line_total"))
            / F.greatest(F.col("o_totalprice"), F.lit(0.01))
        ).alias("rel_gap"),
    )
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("rel_gap") <= 0.01, 1).otherwise(0))
        .cast("long")
        .alias("n_within_1pct"),
        F.round(F.percentile("rel_gap", F.lit(0.5)), 4).alias("median_rel_gap"),
        F.round(F.max("rel_gap"), 4).alias("max_rel_gap"),
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
    "dq_schema_contract",
    oracle="""
    SELECT * FROM (
      SELECT 'o_orderkey_not_null' AS constraint_name,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'o_orderkey_unique',
             CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                  AS BIGINT)
      UNION ALL
      SELECT 'o_totalprice_positive',
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus_domain',
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate_range',
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate >= TIMESTAMP '2030-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_custkey_in_customer',
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT)
    )
    """,
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared schema contract audited in one pass: NOT NULL,
    uniqueness, positivity, value domain, date range, and referential
    integrity, each reported as a (constraint, violations) row — the
    dbt-tests / Great-Expectations contract shape. The five scalar
    constraints fold into ONE aggregate over one scan; uniqueness
    reuses the same scan (count - distinct); the FK check is an
    anti-join on the customer key set (unhinted — customer scales
    with the warehouse, AQE decides). At 100 TB this is exactly the
    audit you
    append to every load job: no extra shuffle beyond one aggregate
    and one anti-join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("nn"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("uq"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("pos"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("dom"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2030-01-01").cast("timestamp")
                )
            ).cast("long")
        ).alias("rng"),
    )
    fk = (
        o.join(
            c.select("c_custkey"),
            o.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("fk"))
    )
    row = base.crossJoin(F.broadcast(fk))
    pairs = [
        ("o_orderkey_not_null", "nn"),
        ("o_orderkey_unique", "uq"),
        ("o_totalprice_positive", "pos"),
        ("o_orderstatus_domain", "dom"),
        ("o_orderdate_range", "rng"),
        ("o_custkey_in_customer", "fk"),
    ]
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("constraint_name"),
                    F.col(col).cast("long").alias("n_violations"),
                )
                for name, col in pairs
            ]
        )
    ).alias("kv")
    return row.select(stacked).select("kv.constraint_name", "kv.n_violations")



@register(
    "dq_split_leakage",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 5 = 0
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ), by_text AS (
      SELECT md5(text) AS h,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
      FROM split GROUP BY 1
    )
    SELECT CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_texts,
           CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN n_test
                         ELSE 0 END) AS BIGINT) AS leaked_test_docs,
           CAST(SUM(n_train) AS BIGINT) AS n_train_docs,
           CAST(SUM(n_test) AS BIGINT) AS n_test_docs
    FROM by_text
    """,
)
def dq_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: a deterministic 80/20 hash
    split (md5(doc_id) mod 5), then exact-duplicate texts appearing
    on BOTH sides are counted — the leakage check every eval pipeline
    must run before reporting numbers. One groupBy on md5(text)
    (32-byte shuffle keys); both counters fold in the same pass."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "text",
        F.when(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 5
            == 0,
            F.lit("test"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    by_text = split.groupBy(F.md5("text").alias("h")).agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"),
    )
    leaked = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    return by_text.agg(
        F.sum(leaked.cast("long")).alias("leaked_texts"),
        F.sum(F.when(leaked, F.col("n_test")).otherwise(0)).alias(
            "leaked_test_docs"
        ),
        F.sum("n_train").alias("n_train_docs"),
        F.sum("n_test").alias("n_test_docs"),
    )


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


_EWMA_LAMBDA = 0.2



@register(
    "dq_control_chart_ewma",
    oracle=f"""
    WITH monthly AS (
      -- CAST, not *1.0: DuckDB's COUNT(*)*1.0 is DECIMAL and the
      -- fold would run in decimal arithmetic, diverging from the
      -- double-precision Spark fold
      SELECT DATE_TRUNC('month', o_orderdate) AS m,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT list(x ORDER BY m) AS xs,
             AVG(x) AS mu, STDDEV_SAMP(x) AS sigma,
             COUNT(*) AS n
      FROM monthly
    ),
    folded AS (
      -- accumulator is the growing list of EWMA values; seed is x_1
      SELECT n, mu, sigma,
             list_reduce(
               list_transform(xs, x -> [x]),
               (acc, e) -> acc ||
                 [{_EWMA_LAMBDA} * e[1]
                  + {1 - _EWMA_LAMBDA} * acc[len(acc)]]
             ) AS ew
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_periods,
           CAST(len(list_filter(ew,
                  z -> ABS(z - mu) > 3.0 * sigma
                       * SQRT({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA}))))
                AS BIGINT) AS n_alarms,
           ROUND(list_max(list_transform(ew,
                  z -> ABS(z - mu) / (sigma
                       * SQRT({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA}))))),
                 4) AS max_abs_z
    FROM folded
    """,
)
def dq_control_chart_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.2, asymptotic 3σ·√(λ/(2−λ)) limits)
    over monthly order volume — the statistical-process-control
    monitor that catches small sustained drifts an individual-point
    Shewhart chart misses. Reports periods, alarm count, and the
    worst standardized excursion.

    Shape: the fact table reduces to O(months) first; the EWMA
    recurrence is a per-series sorted-array fold (same
    sequential-recurrence-as-fold pattern as `timeseries_ema` /
    `timeseries_holt_winters`, here with a growing-list accumulator
    so every intermediate EWMA is flagged against the limits). All
    post-reduce work is O(months)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        (F.count(F.lit(1)) * 1.0).alias("x")
    )
    s = monthly.agg(
        F.array_sort(F.collect_list(F.struct("m", "x"))).alias("seq"),
        F.avg("x").alias("mu"),
        F.stddev_samp("x").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    xs = F.transform(F.col("seq"), lambda e: e["x"])
    ew = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.array(F.element_at(xs, 1)),
        lambda acc, x: F.concat(
            acc,
            F.array(
                _EWMA_LAMBDA * x
                + (1 - _EWMA_LAMBDA) * F.element_at(acc, F.size(acc))
            ),
        ),
    )
    lim = 3.0 * F.col("sigma") * F.sqrt(
        F.lit(_EWMA_LAMBDA / (2 - _EWMA_LAMBDA))
    )
    folded = s.select("n", "mu", "sigma", ew.alias("ew"))
    return folded.select(
        F.col("n").cast("long").alias("n_periods"),
        F.size(
            F.filter(F.col("ew"), lambda z: F.abs(z - F.col("mu")) > lim)
        )
        .cast("long")
        .alias("n_alarms"),
        F.round(
            F.array_max(
                F.transform(
                    F.col("ew"),
                    lambda z: F.abs(z - F.col("mu")) / (lim / 3.0),
                )
            ),
            4,
        ).alias("max_abs_z"),
    )


# ========================================================================
# from analytics_extras51.py — original batch rationale:
# Analytics extras, batch 51: a verified quantile sketch, DP means,
# seasonal-aware anomaly flags, and embedding-coverage auditing.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * DDSketch-style quantiles — log-bucketed (gamma=1.02) quantile
#   sketch with its relative-error guarantee measured against the
#   exact percentiles; the VERIFIED member of the quantile-sketch
#   family next to the rows-only t-digest tier.
# * DP clipped mean — the textbook clip-then-Laplace release with the
#   clipping-bias bookkeeping, md5-pinned noise.
# * STL-style anomaly flags — trend (centered MA) + DOW seasonal +
#   remainder, alerting on remainder > 3 robust sigma: anomalies that
#   respect seasonality instead of re-alerting every Monday.
# * embedding coverage — the documents<->embeddings referential audit
#   (missing vectors, orphan vectors, zero-norm/NaN health) every
#   feature store runs before training reads it.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_embedding_coverage",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents),
    e AS (
      SELECT vec_id, len(embedding) AS dim,
             list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                            'sum') AS sq
      FROM embeddings
    ),
    j AS (
      SELECT d.doc_id, e.vec_id, e.dim, e.sq
      FROM d FULL OUTER JOIN e ON e.vec_id = d.doc_id
    )
    SELECT CAST(COUNT(doc_id) AS BIGINT) AS n_documents,
           CAST(COUNT(vec_id) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_missing_vector,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orphan_vectors,
           CAST(SUM(CASE WHEN dim IS NOT NULL AND dim <> 64
                         THEN 1 ELSE 0 END) AS BIGINT) AS wrong_dim,
           CAST(SUM(CASE WHEN sq IS NOT NULL AND sq = 0.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_norm,
           CAST(SUM(CASE WHEN sq IS NOT NULL AND isnan(sq)
                         THEN 1 ELSE 0 END) AS BIGINT) AS nan_vectors
    FROM j
    """,
)
def dq_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents<->embeddings referential and health audit: docs with
    no vector, vectors with no doc, wrong-dimension rows, zero-norm
    vectors (cosine would divide by zero), NaN contamination — the
    integrity gate a feature store runs before any training job is
    allowed to read the pair. One full-outer join on the id plus
    per-vector O(d) expression work; at 100 TB both sides bucket on
    the id and the join is co-partitioned.

    On healthy fixtures every failure column is 0 — which is the
    point: this query is the proof, re-checked every ingest."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("sq"),
    )
    j = d.join(e, d["doc_id"] == e["vec_id"], "full_outer")
    return j.agg(
        F.count("doc_id").cast("long").alias("n_documents"),
        F.count("vec_id").cast("long").alias("n_vectors"),
        F.sum(F.col("vec_id").isNull().cast("long")).cast("long").alias(
            "docs_missing_vector"
        ),
        F.sum(F.col("doc_id").isNull().cast("long")).cast("long").alias(
            "orphan_vectors"
        ),
        F.sum(
            (F.col("dim").isNotNull() & (F.col("dim") != 64)).cast("long")
        )
        .cast("long")
        .alias("wrong_dim"),
        F.sum(
            (F.col("sq").isNotNull() & (F.col("sq") == 0.0)).cast("long")
        )
        .cast("long")
        .alias("zero_norm"),
        F.sum((F.col("sq").isNotNull() & F.isnan("sq")).cast("long"))
        .cast("long")
        .alias("nan_vectors"),
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
    "dq_bot_regularity_screen",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             date_diff('second',
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), ts) AS gap
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             COUNT(gap) AS n_gaps,
             AVG(gap) AS mean_gap,
             STDDEV_SAMP(gap) AS sd_gap,
             MIN(gap) AS min_gap
      FROM gaps WHERE gap IS NOT NULL
      GROUP BY user_id HAVING COUNT(gap) >= 10
    ),
    scored AS (
      SELECT user_id, n_gaps,
             ROUND(mean_gap, 2) AS mean_gap_s,
             ROUND(sd_gap / mean_gap, 4) AS gap_cv,
             CAST(min_gap AS BIGINT) AS min_gap_s,
             ROW_NUMBER() OVER (ORDER BY sd_gap / mean_gap, user_id)
               AS regularity_rank
      FROM per_user
    )
    SELECT CAST(regularity_rank AS INT) AS regularity_rank,
           user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           mean_gap_s, gap_cv, min_gap_s,
           gap_cv < 0.1 AS metronomic_flag
    FROM scored WHERE regularity_rank <= 10
    """,
)
def dq_bot_regularity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation screen from inter-event timing: per user, the
    coefficient of variation of gaps between consecutive events — a
    human's CV is near 1 (bursty, Poisson-ish); a cron job's is near
    0 (metronomic). Reports the 10 most regular users with the
    CV < 0.1 flag and their minimum gap (rate-limit evidence). The
    abuse-detection primitive that runs before any engagement
    metric is trusted; on organic fixtures the flags correctly stay
    false while the ranking still surfaces the most regular actors.

    Shape: one per-user lag window over the partitioned stream, one
    O(users) reduce, a top-10 rank."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.avg("gap").alias("mean_gap"),
        F.stddev_samp("gap").alias("sd_gap"),
        F.min("gap").alias("min_gap"),
    ).where(F.col("n_gaps") >= 10)
    scored = per_user.select(
        "user_id",
        "n_gaps",
        F.round("mean_gap", 2).alias("mean_gap_s"),
        F.round(F.col("sd_gap") / F.col("mean_gap"), 4).alias("gap_cv"),
        F.col("min_gap").cast("long").alias("min_gap_s"),
        F.row_number()
        .over(
            Window.orderBy(F.col("sd_gap") / F.col("mean_gap"), "user_id")
        )
        .alias("regularity_rank"),
    )
    return scored.where(F.col("regularity_rank") <= 10).select(
        F.col("regularity_rank").cast("int").alias("regularity_rank"),
        "user_id",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        "mean_gap_s",
        "gap_cv",
        "min_gap_s",
        (F.col("gap_cv") < 0.1).alias("metronomic_flag"),
    )


# ========================================================================
# from analytics_extras61.py — original batch rationale:
# Analytics extras, batch 61: parametric survival, re-identification
# risk, and rare-combination screening.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Weibull fit — parametric survival of order fulfillment via the
#   log-log linearization of the empirical survivor function (the
#   parametric sibling of `stats_kaplan_meier`; shape k tells
#   wear-out from infant-mortality).
# * re-identification risk — sample uniqueness under growing
#   quasi-identifier sets: the % of records unique on the QI combo,
#   the standard re-id risk proxy (k-anonymity's dual: k-anon bounds
#   the worst group, uniqueness measures the typical exposure).
# * rare-combination screen — category pairs whose joint support is
#   far below what their marginals predict: data-entry and fraud
#   signal that pure frequency screens miss.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_categorical_rare_combo",
    oracle="""
    WITH joint AS (
      SELECT c.c_mktsegment AS a, o.o_orderpriority AS b,
             COUNT(*) AS n_joint
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n_joint) AS n FROM joint),
    ma AS (SELECT a, SUM(n_joint) AS na FROM joint GROUP BY a),
    mb AS (SELECT b, SUM(n_joint) AS nb FROM joint GROUP BY b),
    scored AS (
      SELECT j.a, j.b, j.n_joint,
             ma.na * 1.0 * mb.nb / tot.n AS expected,
             j.n_joint / (ma.na * 1.0 * mb.nb / tot.n) AS lift,
             ROW_NUMBER() OVER (
               ORDER BY j.n_joint / (ma.na * 1.0 * mb.nb / tot.n), j.a, j.b
             ) AS rarity_rank
      FROM joint j
      JOIN ma ON ma.a = j.a
      JOIN mb ON mb.b = j.b
      CROSS JOIN tot
    )
    SELECT CAST(rarity_rank AS INT) AS rarity_rank,
           a AS segment, b AS priority,
           CAST(n_joint AS BIGINT) AS n_joint,
           ROUND(expected, 4) AS expected_n,
           ROUND(lift, 4) AS lift,
           lift < 0.5 AS suspicious
    FROM scored WHERE rarity_rank <= 5
    """,
)
def dq_categorical_rare_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-combination screen: category pairs whose JOINT count
    falls far below the independence expectation n_a*n_b/N — the
    'this combination should exist but barely does' signal that
    catches mis-mapped enum codes and fraud patterns which pure
    frequency screens miss (each marginal looks healthy). Reports
    the 5 lowest-lift (segment, priority) cells with the lift < 0.5
    flag; on independent fixtures lift stays near 1 and the flags
    correctly read false.

    Shape: one joined reduce to O(cells), marginals from the cell
    table itself (no second fact scan), O(cells) rank."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joint = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("a"),
            F.col("o_orderpriority").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n_joint"))
        # pin the O(cells) reduce: marginals/total otherwise re-scan
        # the fact join once per consumer (8 scans in the plan)
        .localCheckpoint(eager=False)
    )
    tot = joint.agg(F.sum("n_joint").alias("n"))
    ma = joint.groupBy("a").agg(F.sum("n_joint").alias("na"))
    mb = joint.groupBy("b").agg(F.sum("n_joint").alias("nb"))
    scored = (
        joint.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    expected = F.col("na") * 1.0 * F.col("nb") / F.col("n")
    lift = F.col("n_joint") / expected
    ranked = scored.select(
        "a",
        "b",
        "n_joint",
        expected.alias("expected"),
        lift.alias("lift"),
        F.row_number().over(Window.orderBy(lift, "a", "b")).alias(
            "rarity_rank"
        ),
    )
    return ranked.where(F.col("rarity_rank") <= 5).select(
        F.col("rarity_rank").cast("int").alias("rarity_rank"),
        F.col("a").alias("segment"),
        F.col("b").alias("priority"),
        F.col("n_joint").cast("long").alias("n_joint"),
        F.round("expected", 4).alias("expected_n"),
        F.round("lift", 4).alias("lift"),
        (F.col("lift") < 0.5).alias("suspicious"),
    )


# ========================================================================
# from analytics_extras69.py — original batch rationale:
# Analytics extras, batch 69: SRM guardrail and timestamp sanity.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * SRM check — sample-ratio-mismatch chi-square per metric slice:
#   the first guardrail every experimentation platform runs (a
#   biased assignment invalidates every downstream test in this
#   registry's A/B family before any effect is read).
# * timestamp sanity — future timestamps, implausibly-old rows, and
#   id-vs-time ordering inversions: the ingest-time clock audit that
#   catches producer clock skew and replayed backfills.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "dq_timestamp_sanity",
    oracle="""
    WITH ordered AS (
      SELECT event_id, ts,
             LAG(event_id) OVER (ORDER BY ts, event_id) AS prev_id
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts > TIMESTAMP '2025-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_future,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_implausibly_old,
           CAST(SUM(CASE WHEN prev_id IS NOT NULL AND prev_id > event_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_id_time_inversions
    FROM ordered
    """,
)
def dq_timestamp_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest clock audit: events stamped in the future (producer
    clock skew), implausibly old (epoch-zero defaults, replayed
    backfills), and id-vs-time ordering inversions (monotone ids
    arriving out of time order — the signal that an 'append-only'
    feed was actually re-emitted). Counts only; on healthy fixtures
    future/old read zero while inversions honestly report the
    feed's real id/time agreement. The check a streaming watermark
    DEPENDS on: skewed producer clocks silently turn watermark lag
    into data loss (cf. `stream_late_data_accounting`).

    Shape: one DISTRIBUTED ordered lag pass over the reduced
    projection (operators/ranks.grouped_lag with no group columns:
    within-bucket lag + a
    one-row-per-bucket boundary hand-off — no single-partition sort;
    the r9 measured-row audit caught the previous events-sized global
    window), one rollup."""
    from hivetomysql_spark.operators.ranks import grouped_lag

    ev = load_table(spark, sf_dir, "events")
    ordered = grouped_lag(
        ev.select("event_id", "ts"),
        [],
        "ts",
        ["event_id"],
        value="event_id",
        out="prev_id",
    )
    return ordered.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            (F.col("ts") > F.lit("2025-01-01").cast("timestamp")).cast("long")
        )
        .cast("long")
        .alias("n_future"),
        F.sum(
            (F.col("ts") < F.lit("2020-01-01").cast("timestamp")).cast("long")
        )
        .cast("long")
        .alias("n_implausibly_old"),
        F.sum(
            (
                F.col("prev_id").isNotNull()
                & (F.col("prev_id") > F.col("event_id"))
            ).cast("long")
        )
        .cast("long")
        .alias("n_id_time_inversions"),
    )
