"""Second wave of relational coverage: unpivot/melt, deterministic
sampling, skew-salted join, union-by-name schema evolution, FILTER /
conditional aggregates, map-typed column operations.

Each query targets a pattern the reference's users would need once
they outgrow its scan→map→sink pipeline (SURVEY.md §2.2 extension
tier), expressed so the plan survives a 100 TB scale-up — the salted
join in particular is the manual fallback for key skew where AQE's
skew-join splitting (spark.sql.adaptive.skewJoin) does not reach,
e.g. pre-AQE clusters or deliberately co-partitioned writes.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table

# One pandas batch entering a Python worker should be an Arrow-sized
# work unit, never a data partition (r11 pandas-batch audit,
# tools/pandas_batch_audit.py). Grouped-map / grouped-agg sites here
# salt their keys so batches stay near this many rows at any scale.
_TARGET_BATCH = 65_536


def _salt_count(n_rows: int) -> int:
    """Salts for a grouped pandas site over ``n_rows`` input rows:
    enough that even a single dominant group splits into
    ~_TARGET_BATCH-row batches. The count() feeding this is
    metadata-only on an unfiltered parquet scan, and parallelism then
    grows with the data instead of being pinned at the group-key
    cardinality."""
    return max(1, math.ceil(n_rows / _TARGET_BATCH))

_SALT_N = 8
# cap on the broadcast hot-key set in join_salted_skew: the threshold
# alone admits ~1% of DISTINCT keys — O(data); top-K keeps it constant
_HOT_K = 4096


@register(
    "unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
             ROUND(AVG(l_discount), 6)      AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, CAST(val AS DOUBLE) AS val
    FROM (UNPIVOT wide ON sum_qty, sum_price, avg_disc
          INTO NAME metric VALUE val)
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): per-flag metric matrix to
    (flag, metric, value) triples. Narrow-transform after the
    aggregate, so the unpivot itself adds no shuffle — it triples
    rows only on the already-tiny aggregated side."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.round(F.avg("l_discount"), 6).cast("double").alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "sample_deterministic",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_sampled,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sampled_revenue
    FROM lineitem
    WHERE l_orderkey % 100 < 7
    GROUP BY l_linestatus
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~7% deterministic key-sample: modulo predicate on the key
    instead of TABLESAMPLE, so the sample is reproducible across
    engines/runs and the predicate pushes into the scan. At 100 TB
    this is the audit-sample pattern (same rows every rerun);
    TABLESAMPLE remains the right call when statistical randomness
    matters more than reproducibility."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_orderkey") % 100 < 7)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sampled_revenue"),
        )
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-path skew-salted equi-join. A cheap frequency pass (one
    map-side-combined groupBy, O(distinct keys) shuffle — at 100 TB a
    sampled or sketched estimate, cf. dq_join_key_skew) finds the hot
    keys: the top _HOT_K keys by count at/above the p99 per-key
    frequency (top-K, not threshold-only — 1% of distinct keys is
    itself O(data); the r10 broadcast audit measured the uncapped set
    growing 300 → 3205 rows across one 10× step). Only hot-key
    fact rows are salted into [0, 8) and only the matching build rows
    are exploded 8x; the long tail joins plain, so the build-side
    duplication prices at |hot keys|*8 instead of |orders|*8 (the
    r04 version exploded every key unconditionally). Both paths
    union before the aggregate; the result provably equals the
    unsalted join (oracle is the plain join). Manual counterpart of
    AQE's skewJoin splitting — needed when the skewed side is
    pre-shuffled or AQE is off. The hot-key set rides to both sides
    as a broadcast; the p99 probe moves one scalar to the driver."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    key_counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("kn"))
    p99 = key_counts.agg(
        F.percentile_approx("kn", 0.99).alias("p")
    ).collect()[0]["p"]
    hot = (
        key_counts.where(F.col("kn") >= p99)
        .orderBy(F.desc("kn"), "l_orderkey")
        .limit(_HOT_K)
        .select(F.col("l_orderkey").alias("__hot_key"))
    )

    fact = li.join(
        F.broadcast(hot), li.l_orderkey == F.col("__hot_key"), "left"
    )
    fact_hot = fact.where(F.col("__hot_key").isNotNull()).select(
        "l_orderkey",
        "l_quantity",
        F.pmod(
            F.crc32(F.col("l_orderkey").cast("string")), F.lit(_SALT_N)
        ).alias("__salt"),
    )
    fact_cold = fact.where(F.col("__hot_key").isNull()).select(
        "l_orderkey", "l_quantity", F.lit(0).cast("bigint").alias("__salt")
    )

    build_hot = o.join(
        F.broadcast(hot), o.o_orderkey == F.col("__hot_key")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(
            F.array(*[F.lit(i).cast("bigint") for i in range(_SALT_N)])
        ).alias("__salt"),
    )
    build_cold = o.join(
        F.broadcast(hot), o.o_orderkey == F.col("__hot_key"), "left_anti"
    ).select(
        "o_orderkey", "o_orderpriority", F.lit(0).cast("bigint").alias("__salt")
    )

    hot_join = fact_hot.join(
        build_hot,
        (fact_hot.l_orderkey == build_hot.o_orderkey)
        & (fact_hot.__salt == build_hot.__salt),
    ).select("o_orderpriority", "l_quantity")
    cold_join = fact_cold.join(
        build_cold,
        (fact_cold.l_orderkey == build_cold.o_orderkey)
        & (fact_cold.__salt == build_cold.__salt),
    ).select("o_orderpriority", "l_quantity")
    return (
        hot_join.unionByName(cold_join)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "set_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT n_name AS name, 'nation' AS kind, n_regionkey AS region_key
      FROM nation
      UNION ALL BY NAME
      SELECT r_name AS name, 'region' AS kind FROM region
    )
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two inputs with different column sets
    aligned by NAME (not position), missing columns null-filled —
    the append pattern for a dataset whose schema grew a column.
    Pure narrow op: no shuffle at any scale."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"),
        F.lit("nation").alias("kind"),
        F.col("n_regionkey").alias("region_key"),
    )
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"), F.lit("region").alias("kind")
    )
    return n.unionByName(r, allowMissingColumns=True)


@register(
    "agg_filtered",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE)
             AS finished_revenue,
           BOOL_OR(o_orderstatus = 'O') AS any_open,
           BOOL_AND(o_custkey IS NOT NULL) AS all_have_cust
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: SQL FILTER clauses (count_if /
    sum(when)) and boolean quantifier aggregates — one scan produces
    every conditional metric; partial aggregation keeps the shuffle
    at O(groups)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F", F.col("o_totalprice")
                ).cast("decimal(18,2)")
            ),
            2,
        )
        .cast("double")
        .alias("finished_revenue"),
        F.bool_or(F.col("o_orderstatus") == "O").alias("any_open"),
        F.bool_and(F.col("o_custkey").isNotNull()).alias("all_have_cust"),
    )


@register(
    "func_map_ops",
    oracle="""
    SELECT n_name,
           m['region'][1]  AS region_str,
           map_keys(m)     AS ks,
           CAST(cardinality(m) AS INT) AS n_keys
    FROM (
      SELECT n_name,
             map(['nation', 'region'],
                 [n_name, CAST(n_regionkey AS VARCHAR)]) AS m
      FROM nation
    )
    """,
)
def func_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: construct (map_from_arrays), point
    lookup (element_at), key enumeration, cardinality. All
    expression-level — maps stay inside Tungsten rows, no shuffle."""
    n = load_table(spark, sf_dir, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("nation"), F.lit("region")),
        F.array(F.col("n_name"), F.col("n_regionkey").cast("string")),
    )
    return n.select(
        "n_name",
        F.element_at(m, "region").alias("region_str"),
        F.map_keys(m).alias("ks"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


def hll_merge_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw two-level HLL merge (per-group sketches UNIONed to a
    global estimate). Kept un-registered because the estimate bytes/
    value are implementation-specific; the registered
    ``agg_hll_sketch_merge`` wraps this with the driver-checkable
    error-bound contract. pytest asserts the estimate directly."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_group.agg(
        F.hll_union_agg("sk").alias("sk_all"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        F.hll_sketch_estimate("sk_all").alias("approx_distinct_custkeys"),
        "n_rows",
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             AS exact_distinct_custkeys,
           TRUE AS within_5pct
    FROM orders
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL):
    build one sketch per order-priority partition, then UNION the
    sketches to a global estimate — the two-level pattern that makes
    100 TB distinct counts cheap (per-partition sketches persist as
    bytes; tomorrow's job merges yesterday's sketches instead of
    rescanning raw data).

    The estimate itself is implementation-specific, so the
    driver-checkable contract is the published error bound: at the
    default lgConfigK=12 the rsd is ~1.6%, and ``within_5pct``
    asserts |est−exact|/exact ≤ 0.05 (3σ headroom) next to the exact
    global distinct. The exact twin is the harness; production keeps
    only the sketch path."""
    est = hll_merge_estimate(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    exact = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct_custkeys")
    )
    rel_err = (
        F.abs(
            F.col("approx_distinct_custkeys")
            - F.col("exact_distinct_custkeys")
        )
        / F.col("exact_distinct_custkeys")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("n_rows").cast("long").alias("n_rows"),
        "exact_distinct_custkeys",
        (rel_err <= 0.05).alias("within_5pct"),
    )


@register(
    "udaf_regression_slope",
    oracle="""
    SELECT l_returnflag,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via Arrow grouped-agg pandas_udf: per-group OLS
    slope computed in vectorized numpy. This is the engine's UDF
    policy demonstrated: Python only as an Arrow-batched aggregate,
    never row-at-a-time. The oracle is exact (REGR_SLOPE), so the
    Arrow path is value-checked, not just smoke-tested. At 100 TB
    prefer the built-in F.regr_slope (pure JVM); this query exists to
    prove the escape hatch works when no built-in matches.

    A grouped-agg pandas_udf has the one property built-in aggregates
    never do: NO partial (map-side) aggregation — the group's entire
    column arrives as ONE pandas Series. Keyed by l_returnflag (3
    values) that was a 200,125-row Series per group at sf0.1, 10x per
    data decade (measured, tools/pandas_batch_audit.py, r11). So the
    UDAF here is demonstrated the way a custom aggregate must be
    shipped at scale: TWO-LEVEL, single pass. The pandas UDAF reduces
    per-(flag, salt) batches of ~_TARGET_BATCH rows to BATCH-CENTERED
    partials (n, mean_x, mean_y, sxy, sxx — exact within the batch,
    no raw-moment cancellation), and the JVM combine merges them with
    the parallel-covariance identity (Chan et al.): with MX/MY the
    n-weighted global means, Sxy = sum(sxy_i + n_i (mx_i-MX)(my_i-MY))
    — algebraically exact, so slope = Sxy/Sxx equals the one-pass
    whole-group value. The hand-built merge is exactly the map-side
    combine the built-ins get for free; Python sees bounded batches
    at any scale, there is no second data scan and no data-sized
    join, and the measured result is FASTER than the whole-group form
    it replaces at every scale (SCALING.md round 11: 2.3x at sf10)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def p_n(x: pd.Series) -> int:
        return len(x)

    @pandas_udf("double")
    def p_mean(x: pd.Series) -> float:
        return float(x.mean())

    @pandas_udf("double")
    def p_sxy(x: pd.Series, y: pd.Series) -> float:
        import numpy as np

        return float(np.dot(x - x.mean(), y - y.mean()))

    @pandas_udf("double")
    def p_sxx(x: pd.Series) -> float:
        import numpy as np

        xm = x - x.mean()
        return float(np.dot(xm, xm))

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_quantity", "l_extendedprice"
    )
    n_salts = _salt_count(li.count())
    salted = li.withColumn(
        "__salt", F.pmod(F.hash("l_orderkey"), F.lit(n_salts))
    )
    # Spark disallows mixing pandas and non-pandas aggregates in one
    # agg(), so the partial count is a pandas aggregate too
    partials = salted.groupBy("l_returnflag", "__salt").agg(
        p_n("l_quantity").alias("__n"),
        p_mean("l_quantity").alias("__mx"),
        p_mean("l_extendedprice").alias("__my"),
        p_sxy("l_quantity", "l_extendedprice").alias("__sxy"),
        p_sxx("l_quantity").alias("__sxx"),
    )
    # the combine's global means are a 3-row aggregate joined back
    # onto the partials (AQE broadcasts it) — NOT a window over the
    # partials: the partials frame is O(N / _TARGET_BATCH) rows, and
    # PARTITION BY l_returnflag (3 values) would funnel a third of
    # it through one task — linear growth the r11 window audit
    # measured (10x per decade; ~40M rows per task at 100 TB). The
    # partials are localCheckpointed so the Arrow UDAF pass runs
    # once, not once per consumer. Global-mean columns must NOT be a
    # case variant of the partial-mean names: spark.sql
    # .caseSensitive=false makes withColumn("__MX", ...) silently
    # REPLACE __mx, which zeroes the Chan correction into a plain
    # pooled slope (caught by the sf1 differential, r11)
    partials = partials.localCheckpoint(eager=False)
    gmeans = partials.groupBy("l_returnflag").agg(
        (F.sum(F.col("__n") * F.col("__mx")) / F.sum("__n")).alias("__gmx"),
        (F.sum(F.col("__n") * F.col("__my")) / F.sum("__n")).alias("__gmy"),
    )
    p2 = partials.join(gmeans, "l_returnflag")
    dx = F.col("__mx") - F.col("__gmx")
    dy = F.col("__my") - F.col("__gmy")
    return p2.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("__sxy") + F.col("__n") * dx * dy)
            / F.sum(F.col("__sxx") + F.col("__n") * dx * dx),
            4,
        ).alias("slope"),
        F.sum("__n").cast("long").alias("n"),
    )


@register(
    "agg_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM region
    JOIN nation    ON n_regionkey = r_regionkey
    JOIN customer  ON c_nationkey = n_nationkey
    JOIN orders    ON o_custkey = c_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    JOIN supplier  ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier revenue: 6-table join with the
    correlated c_nationkey = s_nationkey constraint. The scale
    shape: region/nation broadcast (fixed dims); customer/supplier
    join unhinted (they scale — AQE decides),
    lineitem⋈orders is the one big SMJ shuffle keyed on orderkey,
    date + region predicates push into the scans so the fact read is
    pruned before any join. (Q5 reference: TPC-H spec, public.)"""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        # DECIMAL ledger: exact sum, engine- and order-independent
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,4)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "sql_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey < 20
    """,
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL surface: top-2
    orders per customer. Demonstrates the engine's full spark.sql
    path (templated DataFrame refs, no temp-view pollution);
    Catalyst decorrelates the lateral into a ranked join, so the
    execution plan is the same window-top-k shape as the DataFrame
    version — LATERAL is sugar, not a nested loop, at any scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {customer} c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey < 20
        """,
        customer=c,
        orders=o,
    )


@register(
    "set_multiset_ops",
    oracle="""
    SELECT nationkey, 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey FROM supplier
    ) GROUP BY nationkey
    UNION ALL
    SELECT nationkey, 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey FROM supplier
    ) GROUP BY nationkey
    """,
)
def set_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL
    semantics with per-row multiplicity (distinct variants are in
    set_intersect / set_except); the DuckDB oracle runs the literal
    INTERSECT ALL / EXCEPT ALL, so the multiplicity arithmetic here
    is value-verified against the real operators.

    Why not ``DataFrame.intersectAll``/``exceptAll`` + count: Spark's
    RewriteIntersectAll/RewriteExceptAll rules execute those by
    aggregating per-value counts and then RE-REPLICATING rows through
    ``Generate(ReplicateRows)`` — measured by tools/explode_audit.py
    (r11): 25 aggregated keys re-expanded at a fan-out of 56x at
    sf0.01 and 560x at sf0.1, i.e. the generator regenerates the full
    O(data) multiset just for this query to count it again. For a
    multiset-op-then-count, the multiplicity arithmetic is the
    correct plan at any scale: per-key counts on each side (partial
    aggs map-side), one join of two O(keys) frames, and
    min(nc, ns) / greatest(nc - ns, 0) — counts never re-expand into
    rows."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    cc = c.groupBy("nationkey").agg(F.count(F.lit(1)).alias("nc"))
    ss = s.groupBy("nationkey").agg(F.count(F.lit(1)).alias("ns"))
    # INTERSECT ALL: min multiplicity, keys present on both sides
    ia = cc.join(ss, "nationkey").select(
        "nationkey",
        F.lit("intersect_all").alias("op"),
        F.least("nc", "ns").alias("n"),
    )
    # EXCEPT ALL: left multiplicity minus right, where positive
    ea = (
        cc.join(ss, "nationkey", "left")
        .where(F.col("nc") > F.coalesce(F.col("ns"), F.lit(0)))
        .select(
            "nationkey",
            F.lit("except_all").alias("op"),
            (F.col("nc") - F.coalesce(F.col("ns"), F.lit(0))).alias("n"),
        )
    )
    return ia.unionByName(ea)


@register(
    "groupedmap_zscore",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           ROUND((o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority))
                 / STDDEV_SAMP(o_totalprice) OVER (PARTITION BY o_orderpriority), 4)
             AS price_z
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def groupedmap_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: each group's rows arrive as ONE
    pandas frame, transformed vectorized, returned 1:1 — the third
    Arrow shape next to mapInPandas (partition-wise) and grouped-agg
    pandas_udf (reduce). The oracle is the window-function
    formulation — same numbers, so the Arrow round-trip is
    value-checked.

    This demo also shows the grouped-map shape that SURVIVES 100 TB.
    Keying by o_orderpriority alone hands one pandas frame per
    priority (5 of them) to one Python worker — O(data/5) rows each,
    measured growing ~10x per data decade by the r11 pandas-batch
    audit (tools/pandas_batch_audit.py). The scalable form splits the
    two roles: the WHOLE-GROUP statistics (mean/stddev) come from a
    distributed JVM aggregate joined back (5 tiny rows, AQE
    broadcasts), and the grouped-map key gains a hash salt sized so
    every batch stays ~_TARGET_BATCH rows at ANY scale — the pandas
    frame is an Arrow-batch-sized work unit, never a data partition.
    Salt count derives from one cheap count(), so parallelism grows
    with the data instead of being pinned at 5."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 50 == 0
    )
    n_salts = _salt_count(o.count())
    stats = o.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("__mu"),
        F.stddev_samp("o_totalprice").alias("__sd"),
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderpriority": pdf["o_orderpriority"],
                "o_orderkey": pdf["o_orderkey"],
                "price_z": (
                    (pdf["o_totalprice"] - pdf["__mu"]) / pdf["__sd"]
                ).round(4),
            }
        )

    salted = o.join(stats, "o_orderpriority").withColumn(
        "__salt", F.pmod(F.hash("o_orderkey"), F.lit(n_salts))
    )
    return salted.groupBy("o_orderpriority", "__salt").applyInPandas(
        zscore, "o_orderpriority string, o_orderkey long, price_z double"
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'O') AS k, COUNT(*) AS na
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, COUNT(*) AS nb
      FROM orders GROUP BY 1
    )
    SELECT a.k AS key_a, b.k AS key_b, na, nb
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — the semantics ETL
    needs when a nullable dimension key is still a real group. Plans
    as an ordinary hash join (the null bucket is just one more key),
    so no scale difference vs plain equi-join."""
    o = load_table(spark, sf_dir, "orders")
    a = o.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k")
    ).agg(F.count(F.lit(1)).alias("na"))
    b = o.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
    ).agg(F.count(F.lit(1)).alias("nb"))
    return a.join(b, a.k.eqNullSafe(b.k)).select(
        a.k.alias("key_a"), b.k.alias("key_b"), "na", "nb"
    )


@register(
    "timeseries_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS hour,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS v
      FROM events WHERE user_id < 10
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(hour) AS lo, MAX(hour) AS hi
      FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.hour, h.v,
             h.v IS NULL AS was_gap
      FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    )
    SELECT user_id, CAST(hour AS TIMESTAMP) AS hour,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled,
           was_gap
    FROM joined
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: densify each user's hourly series to a
    complete grid (sequence + explode — no driver loop), then
    forward-fill with last-non-null over an ordered window. The grid
    generation is per-key and arithmetic, so at 100 TB it costs one
    narrow pass + the window shuffle already keyed by user — the
    standard as-of/staircase resample for feature pipelines."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("v")
    )
    grid = hourly.groupBy("user_id").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    ).select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left").withColumn(
        "was_gap", F.col("v").isNull()
    )
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        "was_gap",
    )


@register(
    "func_variant",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def func_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via Spark 4 VariantType: parse_json
    once into the binary variant encoding, then typed path extraction
    (variant_get) — unlike get_json_object's per-access string
    re-parse, the variant parse cost is paid once per row however
    many paths are read. The 100 TB guidance: store the variant
    column in parquet and extractions become columnar reads."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v"))
    return v.groupBy("event_type").agg(
        F.sum(F.variant_get("v", "$.k", "int")).alias("k_sum"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "layout_zorder_clustering",
    oracle="""
    WITH bounds AS (
      SELECT MIN(l_orderkey) AS xlo, MAX(l_orderkey) AS xhi,
             MIN(l_partkey)  AS ylo, MAX(l_partkey)  AS yhi
      FROM lineitem
    ),
    norm AS (
      SELECT l_orderkey, l_partkey,
             CAST(FLOOR((l_orderkey - xlo) * 1.0 / (xhi - xlo) * 65535) AS BIGINT) AS nx,
             CAST(FLOOR((l_partkey  - ylo) * 1.0 / (yhi - ylo) * 65535) AS BIGINT) AS ny
      FROM lineitem, bounds
    ),
    zed AS (
      SELECT l_orderkey, l_partkey,
             CAST(list_sum(list_transform(generate_series(0, 15), i ->
               (((nx >> i) & 1) << (2*i + 1)) + (((ny >> i) & 1) << (2*i))
             )) AS BIGINT) AS z
      FROM norm
    ),
    bucketed AS (
      SELECT l_orderkey, l_partkey,
             NTILE(16) OVER (ORDER BY z, l_orderkey, l_partkey) AS bucket
      FROM zed
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
           MIN(l_partkey)  AS min_pk, MAX(l_partkey)  AS max_pk
    FROM bucketed
    GROUP BY bucket
    """,
)
def layout_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering quality: interleave the bits of
    (orderkey, partkey), range-bucket by the Z key, report per-bucket
    min/max of BOTH dimensions — with Z-ordering every bucket covers
    a bounded rectangle in (orderkey, partkey) space, so file-level
    min/max stats can skip on either column (a plain orderkey sort
    leaves partkey ranges spanning the whole domain). The NTILE is
    the DISTRIBUTED form (operators/ranks.grouped_ntile, no group
    columns): value-range
    buckets on __z + per-bucket rank + broadcast offsets — the same
    shape as the range-partitioned write a real OPTIMIZE does. The r8
    measured-row audit caught the previous global-window form sorting
    all of lineitem on one partition."""
    from hivetomysql_spark.operators.layout import zorder_key
    from hivetomysql_spark.operators.ranks import grouped_ntile

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    z = zorder_key(li, "l_orderkey", "l_partkey")
    bucketed = grouped_ntile(
        z, [], 16, "__z", ["l_orderkey", "l_partkey"], out="bucket"
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
    )


@register(
    "window_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT o_orderpriority,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, total,
           ROUND(total / SUM(total) OVER (), 6) AS share,
           ROUND(SUM(total) OVER (
             ORDER BY total DESC, o_orderpriority
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / SUM(total) OVER (), 6) AS cum_share
    FROM rev
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution / Pareto analysis: each priority class's share of
    total revenue plus the cumulative share in descending-revenue
    order (the 80/20 readout). The ratio-to-report pattern is an
    unpartitioned window over an ALREADY-aggregated input — the
    single-partition exchange touches O(groups) rows, never the fact
    table, which is what makes global-total windows safe at 100 TB.
    Both windows share the one total order (total desc, priority).
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total")
    )
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    wcum = (
        Window.partitionBy()
        .orderBy(F.desc("total"), F.asc("o_orderpriority"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "o_orderpriority",
        "total",
        F.round(F.col("total") / F.sum("total").over(wall), 6).alias("share"),
        F.round(
            F.sum("total").over(wcum) / F.sum("total").over(wall), 6
        ).alias("cum_share"),
    )


@register(
    "agg_weighted_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
             AS wavg_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS net_revenue,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price + discounted net revenue per
    return flag — weighted aggregates as pure sum ratios, so every
    term is a mergeable partial (map-side combine) and the reduce side
    carries 3 doubles per group regardless of table size. The pattern
    generalizes to any weighted mean/variance without a second pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            6,
        ).alias("wavg_price"),
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,4)")
            ),
            2,
        )
        .cast("double")
        .alias("net_revenue"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_qty"),
        F.count("*").alias("n_items"),
    )


@register(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE anc(c_custkey, anc_key, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT c_custkey, CAST(floor(anc_key / 10.0) AS BIGINT), depth + 1
      FROM anc WHERE anc_key > 0
    )
    SELECT c_custkey,
           CAST(MAX(depth) AS INTEGER) AS chain_len,
           CAST(MIN(CASE WHEN anc_key = 0 THEN NULL ELSE anc_key END)
                AS BIGINT) AS top_nonroot
    FROM anc
    GROUP BY c_custkey
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4): walk a synthetic parent
    hierarchy parent(k) = floor(k/10) from every customer key up to
    the root, reporting chain length and the highest non-root
    ancestor. Exercises the engine's iterative-query surface the
    reference entirely lacks; Spark executes each recursion step as a
    distributed union — depth is O(log10 keyspace), so the plan is a
    handful of narrow passes even at 100 TB keyspaces. (The same SQL
    text runs verbatim on DuckDB as the oracle.)"""
    c = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH RECURSIVE anc(c_custkey, anc_key, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM {customer}
          UNION ALL
          SELECT c_custkey, CAST(floor(anc_key / 10.0) AS BIGINT), depth + 1
          FROM anc WHERE anc_key > 0
        )
        SELECT c_custkey,
               CAST(MAX(depth) AS INT) AS chain_len,
               CAST(MIN(CASE WHEN anc_key = 0 THEN NULL ELSE anc_key END)
                    AS BIGINT) AS top_nonroot
        FROM anc
        GROUP BY c_custkey
        """,
        customer=c,
    )


@register(
    "agg_having_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def agg_having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): HAVING-filtered
    aggregate joined back to its dimensions. The aggregate+HAVING
    runs FIRST, shrinking the fact side before any join — the
    group-then-join ordering that keeps the join input proportional
    to qualifying groups, not line items; the customer join is
    unhinted (customer scales with the warehouse — AQE broadcasts
    it while it fits, shuffle-joins beyond)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias(
                "raw_qty"
            )
        )
        # HAVING on the EXACT decimal sum: a float sum could flip the
        # >150 boundary when a group lands exactly on it
        .where(F.col("raw_qty") > 150)
        .select(
            "l_orderkey",
            F.round("raw_qty", 2).cast("double").alias("sum_qty"),
        )
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ndv_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4 bitmap aggregates, oracled
    against plain COUNT(DISTINCT): keys bucket into fixed 4 KB
    bitmaps (bitmap_bucket_number / bitmap_bit_position), bitmaps OR
    together per (group, bucket), and bitmap_count sums per group.

    Why at 100 TB: COUNT(DISTINCT) shuffles every distinct VALUE
    (expand + re-shuffle for multiple distincts); the bitmap form
    shuffles fixed-size bitmaps with map-side combine, turning
    distinct-count into an ordinary mergeable aggregation — the same
    trick as HLL but exact, for dense integer keyspaces."""
    li = load_table(spark, sf_dir, "lineitem")
    # both key columns in ONE scan: stack doubles rows map-side so a
    # single bitmap-aggregate chain covers part and supplier keys
    # (was: two full scans joined back - 2x the parquet reads and
    # twice the shuffle chains for the same answer)
    stacked = li.selectExpr(
        "l_returnflag",
        "stack(2, 'p', l_partkey, 's', l_suppkey) AS (tag, key)",
    )
    buckets = stacked.groupBy(
        "l_returnflag",
        "tag",
        F.expr("bitmap_bucket_number(key)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(key))").alias("bm"))
    per = buckets.groupBy("l_returnflag", "tag").agg(
        F.expr("sum(bitmap_count(bm))").alias("ndv")
    )
    return (
        per.groupBy("l_returnflag")
        .pivot("tag", ["p", "s"])
        .agg(F.first("ndv"))
        .select(
            "l_returnflag",
            F.col("p").alias("ndv_parts"),
            F.col("s").alias("ndv_supps"),
        )
    )


@register(
    "func_try_safe",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (
             WHERE (o_totalprice / NULLIF(o_custkey % 3, 0)) IS NULL
           ) AS BIGINT) AS n_div_null,
           CAST(ROUND(SUM(CAST(o_totalprice / NULLIF(o_custkey % 3, 0)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_ratio,
           ROUND(AVG(TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER)), 6)
             AS avg_prio,
           CAST(COUNT(TRY_CAST(o_orderstatus AS INTEGER)) AS BIGINT)
             AS n_bogus_parsed
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def func_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: ``try_divide`` / ``try_cast``
    return NULL instead of failing the job — the difference between a
    malformed row poisoning a 100 TB pipeline run and it degrading to
    a counted NULL. Division-by-zero, digit-prefix parsing, and a
    guaranteed-bogus cast are aggregated into per-status quality
    counters (all row-local, one map-side-combined aggregation)."""
    o = load_table(spark, sf_dir, "orders")
    ratio = F.try_divide("o_totalprice", F.col("o_custkey") % 3)
    prio = F.try_to_number(F.substring("o_orderpriority", 1, 1), F.lit("9"))
    return (
        o.withColumn("ratio", ratio)
        .withColumn("prio", prio.cast("int"))
        .withColumn("bogus", F.col("o_orderstatus").try_cast("int"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("ratio").isNull(), 1)).alias("n_div_null"),
            F.round(F.sum(F.col("ratio").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_ratio"),
            F.round(F.avg("prio"), 6).alias("avg_prio"),
            F.count("bogus").alias("n_bogus_parsed"),
        )
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING_ID: the bitmask that tells a subtotal row
    from a real NULL group value — without it, rollup output is
    ambiguous whenever the grouped column itself contains NULLs.
    Same single-shuffle expansion as agg_rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "gid",
            "n",
        )
    )


@register(
    "window_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT o_orderpriority,
             CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1, 2
    )
    SELECT o_orderpriority, o_year, revenue,
           ROUND(100 * (revenue - LAG(revenue) OVER w)
                 / LAG(revenue) OVER w, 4) AS yoy_pct
    FROM yearly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_year)
    """,
)
def window_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: yearly revenue per priority with pct
    change vs the prior year (first year NULL). The lag window runs
    over the aggregate's own output — O(groups) rows, so the second
    pass is free; revenue sums in DECIMAL so the rounded cents are
    engine-exact (see incremental_join_delta)."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("o_year")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("revenue")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "o_orderpriority",
        "o_year",
        "revenue",
        F.round(100 * (F.col("revenue") - prev) / prev, 4).alias("yoy_pct"),
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain UNION (distinct semantics): union-all then a hash
    distinct — one shuffle on the full row as key. Prefer UNION ALL
    whenever duplicates are acceptable; this entry exists because the
    dedup cost difference is the point."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@register(
    "export_nested_orders",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderstatus,
           list_sort(list(l.l_linenumber)) AS line_numbers,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 400
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def export_nested_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalization for nested export: each order re-nests its
    line items into an array (sorted, so the collect is
    deterministic under any shuffle order) — the shape document
    stores and JSON/protobuf exports want. One shuffle keyed by
    order; at 100 TB this is the standard pre-materialization before
    feeding record-oriented consumers, and the sorted collect_list
    is the price of reproducible output."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 400)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("line_numbers"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey, o_orderdate AS s,
             o_orderdate + INTERVAL 3 DAY AS e
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s))
                AS BIGINT) AS overlap_us
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of orders from the same
    customer whose 3-day processing windows overlap, with the overlap
    length in integer micros. The range predicate rides an EQUI-join
    on the customer key, so the shuffle is a plain hash partition and
    the quadratic comparison is confined to each customer's handful
    of orders — the blocked-interval-join shape that at 100 TB adds
    a coarse time bucket to the equi key to bound group size."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAY"))
        .cast("timestamp")
        .alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            (
                F.unix_micros(F.least("a.e", "b.e"))
                - F.unix_micros(F.greatest("a.s", "b.s"))
            ).alias("overlap_us"),
        )
    )


@register(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bin,
           CAST(FLOOR(l_discount / 0.02) AS BIGINT) AS disc_bin,
           COUNT(*) AS n,
           ROUND(AVG(l_extendedprice), 2) AS avg_price
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D equi-width histogram (quantity x discount bins) with a
    per-cell statistic — the heat-map / density-estimation aggregate.
    Bin assignment is scan-stage arithmetic; the shuffle carries one
    row per occupied cell (map-side combined), so resolution, not
    data volume, bounds the result."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10.0).alias("qty_bin"),
            F.floor(F.col("l_discount") / 0.02).alias("disc_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


@register(
    "etl_key_ranges",
    oracle="""
    WITH present AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderkey < 500 AND o_orderkey % 7 <> 0
    ),
    grp AS (
      SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS island
      FROM present
    )
    SELECT CAST(MIN(k) AS BIGINT) AS range_start,
           CAST(MAX(k) AS BIGINT) AS range_end,
           COUNT(*) AS n_keys
    FROM grp
    GROUP BY island
    """,
)
def etl_key_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the key space: contiguous o_orderkey
    runs compacted to (start, end, count) ranges — the id-space
    summarization behind range metadata, incremental-load manifests,
    and missing-key audits. The k - row_number trick makes each
    contiguous run a constant group key; the global ROW_NUMBER here
    runs on the (filtered, distinct) key column only — at full scale
    use the two-level prefix-sum construction from
    etl_surrogate_keys for the numbering."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") < 500) & (F.col("o_orderkey") % 7 != 0)
    )
    present = o.select(F.col("o_orderkey").alias("k")).distinct()
    grp = present.select(
        "k",
        (F.col("k") - F.row_number().over(Window.orderBy("k"))).alias(
            "island"
        ),
    )
    return (
        grp.groupBy("island")
        .agg(
            F.min("k").alias("range_start"),
            F.max("k").alias("range_end"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .drop("island")
    )


@register(
    "join_values_lookup",
    oracle="""
    WITH sla(priority, sla_days) AS (
      VALUES ('1-URGENT', 1), ('2-HIGH', 3), ('3-MEDIUM', 7),
             ('4-NOT SPECIFIED', 14), ('5-LOW', 30)
    )
    SELECT s.sla_days,
           COUNT(*) AS n_orders,
           ROUND(AVG(o.o_totalprice), 2) AS avg_price
    FROM orders o JOIN sla s ON s.priority = o.o_orderpriority
    GROUP BY s.sla_days
    """,
)
def join_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES lookup (code table embedded in the query):
    priority → SLA days decoded via a 5-row literal relation that
    Catalyst folds into a broadcast local relation — the pattern for
    enum decodes and small config tables that don't deserve files.
    Zero extra scans; the lookup never touches storage."""
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH sla(priority, sla_days) AS (
          VALUES ('1-URGENT', 1), ('2-HIGH', 3), ('3-MEDIUM', 7),
                 ('4-NOT SPECIFIED', 14), ('5-LOW', 30)
        )
        SELECT s.sla_days,
               COUNT(*) AS n_orders,
               ROUND(AVG(o.o_totalprice), 2) AS avg_price
        FROM {orders} o JOIN sla s ON s.priority = o.o_orderpriority
        GROUP BY s.sla_days
        """,
        orders=o,
    )


@register(
    "agg_product_log_domain",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(LN(1.0 + l_discount)) / LN(10), 6) AS log10_compound
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_discount > 0 AND o_orderkey < 3000
    GROUP BY o_orderpriority
    """,
)
def agg_product_log_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product aggregate in the log domain: sum(ln x) — the only
    scale-safe way to multiply across a distributed group (a naive
    running product over- or under-flows and has no mergeable
    partial; log-sums merge like any sum). Compound-growth shape:
    the cumulative (1+discount) factor per priority class, REPORTED
    in the log domain too (log10): the exponentiated product is
    ~1e50, where ROUND can no longer absorb last-bit summation-order
    drift between engines — the magnitude column a pipeline should
    carry anyway."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.log(F.lit(1.0) + F.col("l_discount")))
                / float(math.log(10)),
                6,
            ).alias("log10_compound"),
        )
    )


@register(
    "etl_stable_uuid",
    oracle="""
    WITH h AS (
      SELECT o_orderkey,
             md5('order:' || CAST(o_orderkey AS VARCHAR)) AS hx
      FROM orders WHERE o_orderkey < 100
    )
    SELECT o_orderkey,
           substring(hx, 1, 8) || '-' || substring(hx, 9, 4) || '-' ||
           substring(hx, 13, 4) || '-' || substring(hx, 17, 4) || '-' ||
           substring(hx, 21, 12) AS stable_uuid
    FROM h
    """,
)
def etl_stable_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UUID-format surrogate from a namespaced business
    key (UUIDv3-style md5 derivation, minus the version bits): the
    same input yields the same id on every engine, run, and retry —
    what uuid() (random, partition-dependent) can never give an
    idempotent pipeline. Scan-stage expressions only."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    hx = F.md5(F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")))
    h = o.select("o_orderkey", hx.alias("hx"))
    return h.select(
        "o_orderkey",
        F.concat_ws(
            "-",
            F.substring("hx", 1, 8),
            F.substring("hx", 9, 4),
            F.substring("hx", 13, 4),
            F.substring("hx", 17, 4),
            F.substring("hx", 21, 12),
        ).alias("stable_uuid"),
    )
