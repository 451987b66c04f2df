"""Advanced relational coverage: statistical aggregates, exact
percentiles, pivot, subqueries (scalar/IN), lateral explode, ordered
string aggregation, distribution window functions.

Extends SURVEY.md §2.2 beyond the basics — each query is one
DataFrame/SQL pattern a user of a general analytics engine expects,
with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4)  AS qty_stddev,
           ROUND(VAR_SAMP(l_quantity), 4)     AS qty_var,
           ROUND(CORR(l_quantity, l_extendedprice), 4) + 0 AS qty_price_corr,
           ROUND(COVAR_SAMP(l_discount, l_tax), 6) + 0     AS disc_tax_covar,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/correlation/
    covariance — single-pass distributed moments (partial states
    merge associatively, so the shuffle carries O(groups) not rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        # +0 maps IEEE −0.0 → +0.0 (DuckDB rounds tiny negatives to
        # −0.0, Spark to 0.0 — hash-visible difference)
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "qty_price_corr"
        ),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
            "disc_tax_covar"
        ),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS p75
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL PERCENTILE_CONT semantics).
    Exact percentile requires a per-group sort — at 100 TB prefer
    approx_percentile (t-digest sketch, single pass); this query is
    the exact baseline the sketch is judged against."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS p50_exact,
           TRUE AS within_rank_bound
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the single-pass sketch that replaces exact
    percentiles at 100 TB (no per-group sort; fixed-size state merged
    associatively).

    The sketch's raw output is implementation-specific, but its
    GUARANTEE is not: with accuracy=100 the returned value's rank
    error is ≤ 1%, so the approx-p50 must land between the exact p40
    and p60 (wide rank bracket — generous slack for interpolation at
    small group sizes). The query emits the exact interpolated p50
    plus that boolean, both DuckDB-checkable; the exact percentiles
    here are the verification harness, not the production plan."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(100)).alias(
            "p50_approx"
        ),
        F.percentile("o_totalprice", F.lit(0.40)).alias("p40"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.60)).alias("p60"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.round("p50", 4).alias("p50_exact"),
        (
            (F.col("p50_approx") >= F.col("p40"))
            & (F.col("p50_approx") <= F.col("p60"))
        ).alias("within_rank_bound"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long→wide): order counts per priority × status. Explicit
    value list — at scale never let pivot infer values (that's an
    extra distinct pass over the data)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "explode_lateral",
    oracle="""
    SELECT doc_id, t.token
    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents WHERE doc_id < 20) d,
         UNNEST(d.toks) AS t(token)
    """,
)
def explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW / explode: one row per token (the tokenization
    fan-out every text pipeline starts with)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    return docs.select("doc_id", F.explode(toks).alias("token"))


@register(
    "agg_string_agg",
    oracle="""
    SELECT c_nationkey,
           STRING_AGG(c_name, '|' ORDER BY c_name) AS members
    FROM customer
    WHERE c_acctbal > 9000
    GROUP BY c_nationkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — collect_list is unordered in a
    distributed engine, so determinism requires sort_array before
    joining (mirrors STRING_AGG ... ORDER BY)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return c.groupBy("c_nationkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias("members")
    )


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > 1.9 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery — Catalyst plans the aggregate once and
    broadcasts the scalar into the filter."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
        FROM orders
        WHERE o_totalprice > 1.9 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "subquery_in",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (
      SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
    )
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery — decorrelated by Catalyst into a left-semi join."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey IN (
          SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
        )
        """
    )


@register(
    "window_distribution",
    oracle="""
    SELECT p_brand, p_partkey,
           ROUND(PERCENT_RANK() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice, p_partkey), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY p_brand
                                   ORDER BY p_retailprice, p_partkey), 6) AS cume
    FROM part
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK / CUME_DIST distribution window functions — the
    ADAPTIVE-dispatch grouped row_number (operators/ranks, r13):
    p_brand over ``part`` is the same CATALOG-bounded group domain as
    window_rank_ntile (25 brands, ~51 rows/brand at sf0.1, ~800 at
    sf10 — the per-brand slice never grows with transactions), so one
    memoized partially-aggregated count keeps the plain one-shuffle
    ``Window.partitionBy(p_brand)`` while the largest brand fits a
    sort task, and flips to the two-level (brand, value-bucket) shape
    only if a genuinely data-sized input ever arrives (r11 window
    audit hazard). Under the TOTAL (price, partkey) order every row
    is its own peer group, so PERCENT_RANK = (rn-1)/(n-1) and
    CUME_DIST = rn/n from the grouped row_number plus its group-size
    column — the identical IEEE divisions Spark's own window
    operators evaluate."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    p = load_table(spark, sf_dir, "part")
    ranked = grouped_row_number(
        p, ["p_brand"], "p_retailprice", ["p_partkey"], out="__rn",
        with_group_size="__n", dispatch="auto",
    )
    return ranked.select(
        "p_brand",
        "p_partkey",
        F.round(
            # single-row partitions: PERCENT_RANK is defined as 0
            F.when(
                F.col("__n") > 1,
                (F.col("__rn") - 1) / (F.col("__n") - 1),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pct_rank"),
        F.round(F.col("__rn") / F.col("__n"), 6).alias("cume"),
    )


@register(
    "agg_regression_builtin",
    oracle="""
    SELECT l_returnflag,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in linear-regression aggregate family (regr_slope /
    intercept / r2 / count): single-pass distributed moments, the
    JVM-native twin of udaf_regression_slope's Arrow UDAF — same
    math, no Python in the path. Price vs quantity per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@register(
    "func_null_semantics",
    oracle="""
    SELECT e1.event_id,
           CASE WHEN e1.v IS NOT DISTINCT FROM e2.v THEN TRUE ELSE FALSE END
             AS same_value_nullsafe,
           COALESCE(e1.v, -1.0) AS v_defaulted,
           NULLIF(e1.event_type, 'error') AS type_or_null,
           CASE WHEN e1.v IS NULL THEN 'missing' ELSE 'present' END
             AS presence,
           e1.v IS NULL AND e2.v IS NULL AS both_missing
    FROM (SELECT event_id, event_type,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
          FROM events WHERE event_id < 200) e1
    JOIN (SELECT event_id, CASE WHEN event_type = 'error' THEN NULL
                                ELSE value END AS v
          FROM events WHERE event_id < 200) e2
      ON e2.event_id = e1.event_id
    """,
)
def func_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic surface in one place: null-safe equality
    (<=> / IS NOT DISTINCT FROM), coalesce defaults, NULLIF
    sentinel-to-null, IS NULL classification, and AND over nullable
    booleans. The semantics every filter/join must get right before
    anything else matters — SQL NULL silently drops rows from
    ordinary equality joins, which is why the null-safe operator
    exists (see also join_null_safe)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    e1 = ev.select("event_id", "event_type", v.alias("v"))
    e2 = ev.select(F.col("event_id").alias("eid2"), v.alias("v2"))
    return e1.join(e2, F.col("eid2") == F.col("event_id")).select(
        "event_id",
        F.col("v").eqNullSafe(F.col("v2")).alias("same_value_nullsafe"),
        F.coalesce("v", F.lit(-1.0)).alias("v_defaulted"),
        F.nullif("event_type", F.lit("error")).alias("type_or_null"),
        F.when(F.col("v").isNull(), "missing")
        .otherwise("present")
        .alias("presence"),
        (F.col("v").isNull() & F.col("v2").isNull()).alias("both_missing"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH wtd AS (
      SELECT event_type, value, 1 + event_id % 3 AS wt, event_id
      FROM events
    ),
    c AS (
      SELECT event_type, value, wt,
             SUM(wt) OVER (PARTITION BY event_type
                           ORDER BY value, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(wt) OVER (PARTITION BY event_type) AS tot
      FROM wtd
    )
    SELECT event_type, ROUND(MIN(value), 4) AS weighted_median
    FROM c WHERE cum >= 0.5 * tot
    GROUP BY event_type
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest value whose cumulative weight
    reaches half the group's total (weights synthesized from the id
    here; survey weights / dollar weights identically). One sorted
    window pass builds the cumulative weights; the qualifying-row
    pick is MIN over the filtered set, so ties and partitioning
    can't change the answer. The estimator percentile() can't
    express, built from the same primitives.

    Scalable form: event_type is bounded (5 values), so the window
    form runs the cumulative-weight sweep over N/5 rows in one task
    per type. grouped_row_number's running sum does the same sweep
    two-level ((type, value-bucket) hash exchange + O(types x buckets)
    offset frame); the group total becomes a 5-row aggregate joined
    back (AQE broadcasts it)."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    ev = load_table(spark, sf_dir, "events")
    wtd = ev.select(
        "event_type",
        "value",
        (1 + F.col("event_id") % 3).alias("wt"),
        "event_id",
    )
    cums = grouped_row_number(
        wtd,
        ["event_type"],
        "value",
        ["event_id"],
        out=None,
        sums={"cum": "wt"},
        # events.value is right-skewed — range buckets concentrate
        # 7x the mean in the low buckets (caught by the skew gate)
        bucket_mode="quantile",
    )
    tots = wtd.groupBy("event_type").agg(F.sum("wt").alias("tot"))
    # null-safe like the window form it replaces (PARTITION BY treats
    # a NULL group as a regular partition; a name-list join drops it)
    from hivetomysql_spark.operators.ranks import join_back

    c = join_back(cums, tots, ["event_type"], []).select(
        "event_type", "value", "cum", "tot"
    )
    return (
        c.where(F.col("cum") >= 0.5 * F.col("tot"))
        .groupBy("event_type")
        .agg(F.round(F.min("value"), 4).alias("weighted_median"))
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 4)
             AS winsorized_mean,
           ROUND(AVG(e.value), 4) AS raw_mean
    FROM events e JOIN bounds b ON b.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clamp to the [p5, p95] band before averaging
    — the robust location estimate that survives heavy-tailed or
    corrupted metrics where the raw mean doesn't. Two passes: a tiny
    per-group percentile aggregate broadcast back onto the scan,
    then one clamped average; the raw mean rides along for the
    outlier-impact delta."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.avg(clamped), 4).alias("winsorized_mean"),
            F.round(F.avg("value"), 4).alias("raw_mean"),
        )
    )


@register(
    "agg_gini_coefficient",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS s FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS i,
             COUNT(*) OVER () AS n, SUM(s) OVER () AS tot
      FROM spend
    )
    SELECT ROUND(2.0 * SUM(i * s) / (MAX(n) * MAX(tot))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
           CAST(MAX(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    inequality summary behind 'top 1% of accounts drive X%' analyses,
    via the sorted-rank formula G = 2Σ(i·xᵢ)/(nΣxᵢ) − (n+1)/n. The
    rank window runs over the per-customer AGGREGATE (O(customers)
    rows, not orders); ties pinned by key. Global ordering is the
    price of exact Gini — at extreme scale, grouped Lorenz bins
    approximate it shuffle-free."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    wr = Window.orderBy("s", "o_custkey")
    wall = Window.partitionBy()
    ranked = spend.select(
        "s",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("s").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("s")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.max("n").alias("n_customers"),
    )


@register(
    "agg_shannon_entropy",
    oracle="""
    WITH dist AS (
      SELECT source, lang, COUNT(*) AS n,
             SUM(COUNT(*)) OVER (PARTITION BY source) AS tot
      FROM documents GROUP BY source, lang
    )
    SELECT source,
           ROUND(-SUM((n * 1.0 / tot) * LN(n * 1.0 / tot)), 6) + 0
             AS lang_entropy,
           CAST(COUNT(*) AS INT) AS n_langs
    FROM dist
    GROUP BY source
    """,
)
def agg_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix (−Σ p·ln p):
    0 = monolingual source, ln(k) = uniform over k languages — the
    diversity summary corpus-balancing reads next to the per-source
    caps. Two tiny aggregates over the (source, lang) contingency
    table; +0 normalizes IEEE −0.0 for the zero-entropy rows."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    dist = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "tot", F.sum("n").over(Window.partitionBy("source"))
        )
    )
    p = F.col("n") * 1.0 / F.col("tot")
    return dist.groupBy("source").agg(
        (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("lang_entropy"),
        F.count(F.lit(1)).cast("int").alias("n_langs"),
    )
