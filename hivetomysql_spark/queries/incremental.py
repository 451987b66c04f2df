"""Incremental-maintenance + temporal-modeling tier: partial-aggregate
merge (incremental view maintenance), MERGE/upsert semantics, SCD
Type-2 history build, rolling exact median.

Extension tier (SURVEY.md §2.2): the reference's only notion of
incrementality is its delete-before-insert re-import of one `ds`
partition (`HiveToMysql.java:270-282`); these queries generalize that
idea to the patterns a warehouse actually runs: maintain aggregates
without full recompute, apply change-data deltas as upserts, and keep
slowly-changing history.

Scale notes (100 TB stance):
- ``incremental_agg_merge`` is the IVM contract: aggregates over an
  append-only table are maintained by merging yesterday's partials
  with the new partition's partials — cost O(delta), never O(table).
  The oracle IS the full recompute, proving the merge lossless.
- ``merge_upsert`` compacts base and delta to one row per business
  key BEFORE the full-outer join, so the join input is bounded by
  key cardinality, not log length; the delta side is broadcastable
  when small (the common nightly case).
- ``scd2_order_priority`` is two window passes + one aggregate, all
  partitioned by the same key → a single shuffle that AQE coalesces.
- ``window_rolling_median`` keeps an O(frame) array per row; frame
  size is a constant (5), so state never grows with data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table

_SPLIT_ORDERS = "2000-01-01"
_SPLIT_EVENTS = "2024-01-16"


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-priority order stats
    maintained as mergeable partials. The 'historical' partition
    (< 2000-01-01) and the 'new' partition are aggregated
    independently to (sum, count) partials, then merged by summing —
    sum and count form a commutative monoid, so merge(partials) ≡
    full recompute, which is exactly what the oracle asserts. At
    100 TB the historical partials are a tiny stored table and each
    nightly run only scans the new partition.
    """
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        # DECIMAL partials: exact and mergeable in any order — the
        # property the incremental merge is demonstrating
        return df.groupBy("o_orderpriority").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "p_sum"
            ),
            F.count("*").alias("p_n"),
        )

    split = F.lit(_SPLIT_ORDERS).cast("timestamp")
    base = partial(o.where(F.col("o_orderdate") < split))
    delta = partial(o.where(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("p_n").alias("n_orders"),
            F.round(F.sum("p_sum"), 2).cast("double").alias("total_price"),
            F.round(
                F.sum("p_sum").cast("double") / F.sum("p_n"), 6
            ).alias("avg_price"),
        )
    )


@register(
    "merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events WHERE ts < TIMESTAMP '{_SPLIT_EVENTS}'
      ) WHERE rn = 1
    ),
    delta AS (
      SELECT user_id, event_type, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events WHERE ts >= TIMESTAMP '{_SPLIT_EVENTS}'
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.user_id, d.user_id) AS user_id,
           COALESCE(b.event_type, d.event_type) AS event_type,
           COALESCE(d.event_id, b.event_id) AS current_event_id,
           ROUND(COALESCE(d.value, b.value), 2) AS current_value,
           CASE WHEN b.user_id IS NULL THEN 'insert'
                WHEN d.user_id IS NULL THEN 'carry'
                ELSE 'update' END AS action
    FROM base b
    FULL OUTER JOIN delta d
      ON b.user_id = d.user_id AND b.event_type = d.event_type
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on an event log: the pre-split state and
    the post-split delta are each compacted to the latest row per
    (user, event_type) business key, then merged — matched keys take
    the delta payload ('update'), unmatched delta keys append
    ('insert'), unmatched base keys survive ('carry').

    Compact-then-merge bounds the full-outer join by key cardinality
    (not log length); both sides shuffle on the same key so the join
    is co-partitioned with its upstream windows, and a small nightly
    delta side becomes a broadcast under AQE.
    """
    e = load_table(spark, sf_dir, "events")
    split = F.lit(_SPLIT_EVENTS).cast("timestamp")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def compact(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id", "value")
        )

    base = compact(e.where(F.col("ts") < split)).alias("b")
    delta = compact(e.where(F.col("ts") >= split)).alias("d")
    return (
        base.join(
            delta,
            (F.col("b.user_id") == F.col("d.user_id"))
            & (F.col("b.event_type") == F.col("d.event_type")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            F.coalesce(F.col("d.event_id"), F.col("b.event_id")).alias(
                "current_event_id"
            ),
            F.round(
                F.coalesce(F.col("d.value"), F.col("b.value")), 2
            ).alias("current_value"),
            F.when(F.col("b.user_id").isNull(), F.lit("insert"))
            .when(F.col("d.user_id").isNull(), F.lit("carry"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
    )


_SCD2_CTES = """
    snap AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM
                       o_orderpriority THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    isl AS (
      SELECT *, SUM(chg) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS island
      FROM snap
    ),
    runs AS (
      SELECT o_custkey, o_orderpriority AS attr_value, island,
             MIN(o_orderdate) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_snapshots
      FROM isl
      GROUP BY o_custkey, o_orderpriority, island
    ),
    iv AS (
      SELECT o_custkey, attr_value, valid_from,
             LEAD(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY valid_from, island
             ) AS valid_to,
             n_snapshots
      FROM runs
    )
"""


def _scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared SCD2 interval builder: (o_custkey, attr_value,
    valid_from, valid_to, n_snapshots) — gaps-and-islands change-flag
    + running-sum, every window on the same (o_orderdate, o_orderkey)
    total tie-break so the whole construction is one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap = o.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(w).eqNullSafe(F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("chg").over(wrun))
    runs = snap.groupBy(
        "o_custkey", F.col("o_orderpriority").alias("attr_value"), "island"
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count("*").alias("n_snapshots"),
    )
    wiv = Window.partitionBy("o_custkey").orderBy("valid_from", "island")
    return runs.select(
        "o_custkey",
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(wiv).alias("valid_to"),
        "n_snapshots",
    )


@register(
    "scd2_order_priority",
    oracle=f"""
    WITH {_SCD2_CTES}
    SELECT o_custkey, attr_value, valid_from, valid_to, n_snapshots,
           CAST(valid_to IS NULL AS INTEGER) AS is_current
    FROM iv
    """,
)
def scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: treat each customer's orders as
    snapshots of their 'order priority' attribute and collapse
    consecutive runs of the same value into validity intervals
    [valid_from, valid_to) with an is_current flag — the classic
    gaps-and-islands change-flag + running-sum construction.

    Every window is partitioned by o_custkey with the SAME total
    tie-break (o_orderdate, o_orderkey), so the whole query is one
    shuffle; the island aggregation reuses that partitioning.
    """
    iv = _scd2_intervals(spark, sf_dir)
    return iv.select(
        "o_custkey",
        "attr_value",
        "valid_from",
        "valid_to",
        "n_snapshots",
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    )


@register(
    "join_pit_dimension",
    oracle=f"""
    WITH {_SCD2_CTES}
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           iv.attr_value, iv.valid_from
    FROM orders o
    JOIN iv
      ON o.o_custkey = iv.o_custkey
     AND o.o_orderdate >= iv.valid_from
     AND (iv.valid_to IS NULL OR o.o_orderdate < iv.valid_to)
    """,
)
def join_pit_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal validity) join: each fact row joins the
    dimension interval that was valid AT ITS OWN timestamp —
    the backtest-correct alternative to joining today's dimension
    state onto historical facts. Fact and interval sides share the
    o_custkey equi-key, so Catalyst plans a co-partitioned join with
    the range condition as a cheap residual filter (never a
    cross-product); at 100 TB both sides bucket by the key and the
    interval side stays small because SCD2 stores runs, not
    snapshots.
    """
    o = load_table(spark, sf_dir, "orders")
    iv = _scd2_intervals(spark, sf_dir).alias("iv")
    f = o.alias("f")
    return (
        f.join(
            iv,
            (F.col("f.o_custkey") == F.col("iv.o_custkey"))
            & (F.col("f.o_orderdate") >= F.col("iv.valid_from"))
            & (
                F.col("iv.valid_to").isNull()
                | (F.col("f.o_orderdate") < F.col("iv.valid_to"))
            ),
        )
        .select(
            F.col("f.o_orderkey").alias("o_orderkey"),
            F.col("f.o_custkey").alias("o_custkey"),
            F.col("f.o_orderdate").alias("o_orderdate"),
            F.col("iv.attr_value").alias("attr_value"),
            F.col("iv.valid_from").alias("valid_from"),
        )
    )


@register(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CAST(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS rolling_med
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (robust smoother) of event values over the
    trailing 5-row frame per user. Spark's ``median`` aggregate
    rejects moving frames, so the frame is materialized with
    ``collect_list`` + ``array_sort`` and the median read positionally
    (mean of the two middles for even frames — matching DuckDB's
    interpolating windowed ``median`` oracle). Per-row state is the
    constant-sized frame array, so memory is O(frame), not O(data);
    the single shuffle key is user_id with the usual (ts, event_id)
    total tie-break.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    sorted_frame = F.array_sort(F.collect_list("value").over(w))
    n = F.size(sorted_frame)
    lo = F.element_at(sorted_frame, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(sorted_frame, (F.floor(n / 2) + 1).cast("int"))
    return e.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2.0, 6).alias("rolling_med"),
    )


@register(
    "incremental_join_delta",
    oracle="""
    SELECT o.o_orderkey,
           CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join view maintenance: the order-revenue join view is
    kept current by processing only NEW orders (o_orderdate past the
    cutoff) against lineitem and unioning with the prior view —
    history is never re-joined. Because o_orderkey never spans the
    cutoff (an order's lines belong to one order date), the delta
    join is exact; the oracle is the full recompute, which the
    incremental plan must equal. At 100 TB the lineitem side of the
    delta join prunes by the same date partitioning the view is
    maintained on, so each refresh is O(delta), not O(history).

    Money arithmetic runs in DECIMAL(18,4): with double sums, ~0.1%
    of the 14.7k per-order revenues land on a .xx5 rounding boundary
    where Spark (rounds the shortest decimal repr, HALF_UP) and a
    binary-rounding engine disagree by one cent — decimal sums are
    exact on both sides, so the cent is deterministic."""
    cutoff = "2001-01-01"
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def view(orders: DataFrame) -> DataFrame:
        return (
            orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey", F.year("o_orderdate").alias("o_year"))
            .agg(
                F.round(
                    F.sum(
                        F.col("l_extendedprice").cast("decimal(18,4)")
                        * (
                            F.lit(1).cast("decimal(18,4)")
                            - F.col("l_discount").cast("decimal(18,4)")
                        )
                    ),
                    2,
                )
                .cast("double")
                .alias("revenue")
            )
        )

    prior = view(o.where(F.col("o_orderdate") < cutoff))
    delta = view(o.where(F.col("o_orderdate") >= cutoff))
    return prior.unionByName(delta)


@register(
    "etl_surrogate_keys",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) AS sk
    FROM documents
    """,
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment (1..N in doc_id order) — the
    warehouse-ETL staple the reference's MySQL target would need for
    dimension loads.

    NOT a global ROW_NUMBER window (Exchange SinglePartition — one
    task numbers every row) and NOT monotonically_increasing_id
    (unique but sparse and partitioning-dependent). Rides
    operators/ranks.grouped_row_number with no group columns:
    value-range buckets over
    doc_id (a CONSTANT 64 buckets at any scale), within-bucket
    row_number, O(buckets) offsets broadcast back. The previous
    hand-rolled form bucketed by floor(doc_id/64) — an O(N/64)
    bucket count whose offsets frame grew linearly (r10 broadcast
    audit: 8 → 79 rows across one 10× step) and was cumsum'd by a
    global window, i.e. a data-sized serial frame at 100 TB.
    """
    from hivetomysql_spark.operators.ranks import grouped_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ranked = grouped_row_number(docs, [], "doc_id", out="sk")
    return ranked.select("doc_id", "sk")


@register(
    "etl_row_fingerprint",
    oracle="""
    SELECT md5(CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               COALESCE(l_returnflag, '<null>') || '|' ||
               CAST(ROUND(l_quantity, 2) AS VARCHAR)) AS row_fp,
           l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def etl_row_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-row fingerprint over the business columns —
    the idempotency/change-detection key an ETL stamps on every row
    (the reference re-imports whole ds partitions because it has no
    such key; with one, MERGE and CDC diffs become exact). Nulls get
    an explicit sentinel (concat_ws silently SKIPS nulls, which would
    collide '(a,NULL,b)' with '(a,b)'); floats are rounded to the
    declared precision before hashing so the fingerprint survives
    engine fp-repr differences. Pure scan-stage expression work."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    fp = F.md5(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("|"),
            F.col("l_linenumber").cast("string"),
            F.lit("|"),
            F.coalesce(F.col("l_returnflag"), F.lit("<null>")),
            F.lit("|"),
            F.round(F.col("l_quantity"), 2).cast("string"),
        )
    )
    return li.select(
        fp.alias("row_fp"), "l_orderkey", "l_linenumber"
    )


@register(
    "etl_date_dimension",
    oracle="""
    SELECT CAST(d AS TIMESTAMP) AS d,
           CAST(YEAR(d) AS INT) AS year,
           CAST(QUARTER(d) AS INT) AS quarter,
           CAST(MONTH(d) AS INT) AS month,
           CAST(ISODOW(d) AS INT) AS iso_dow,
           CAST(WEEKOFYEAR(d) AS INT) AS iso_week,
           ISODOW(d) >= 6 AS is_weekend
    FROM (SELECT UNNEST(generate_series(DATE '2000-01-01',
                                        DATE '2000-12-31',
                                        INTERVAL 1 DAY)) AS d) t
    """,
)
def etl_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generation — one year of dates with the
    standard warehouse attributes (ISO weekday/week, quarter,
    weekend flag), built from sequence()+explode with zero input
    tables and zero shuffles. The dimension every date-keyed star
    schema joins against; ISO semantics (Monday=1) chosen because
    they match across engines, unlike locale-dependent dayofweek."""
    days = F.sequence(
        F.lit("2000-01-01").cast("date"),
        F.lit("2000-12-31").cast("date"),
    )
    return (
        spark.range(1)
        .select(F.explode(days).alias("d0"))
        .select(
            F.col("d0").cast("timestamp").alias("d"),
            F.year("d0").alias("year"),
            F.quarter("d0").alias("quarter"),
            F.month("d0").alias("month"),
            F.dayofweek("d0").alias("_dow_sun1"),
            F.weekofyear("d0").alias("iso_week"),
        )
        .select(
            "d",
            "year",
            "quarter",
            "month",
            # Spark dayofweek: Sunday=1..Saturday=7 -> ISO Monday=1..Sunday=7
            (((F.col("_dow_sun1") + 5) % 7) + 1).alias("iso_dow"),
            "iso_week",
            ((((F.col("_dow_sun1") + 5) % 7) + 1) >= 6).alias("is_weekend"),
        )
    )


@register(
    "incremental_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             md5(o_orderstatus || '|' ||
                 CAST(ROUND(o_totalprice, 2) AS VARCHAR)) AS fp
      FROM orders
    ),
    b AS (
      SELECT o_orderkey AS k,
             md5(o_orderstatus || '|' ||
                 CAST(ROUND(o_totalprice
                            + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END,
                            2) AS VARCHAR)) AS fp
      FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n
    FROM a FULL OUTER JOIN b ON a.k = b.k
    GROUP BY 1
    """,
)
def incremental_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every key across two table versions as
    added / removed / changed / unchanged via a full-outer join on
    the key with row fingerprints (etl_row_fingerprint's hash) doing
    the change detection — the audit that tells you what a reload
    actually did, without trusting the loader. One co-partitioned
    shuffle pair; at 100 TB both snapshots bucket by the key so the
    diff is zero-exchange. (Snapshot B is synthesized here:
    every 97th key's price drifts, every 101st key is deleted.)"""
    o = load_table(spark, sf_dir, "orders")

    def snap(df: DataFrame, mutate: bool) -> DataFrame:
        price = F.col("o_totalprice")
        if mutate:
            price = price + F.when(F.col("o_orderkey") % 97 == 0, 1).otherwise(0)
            df = df.where(F.col("o_orderkey") % 101 != 0)
        fp = F.md5(
            F.concat(
                F.col("o_orderstatus"),
                F.lit("|"),
                F.round(price, 2).cast("string"),
            )
        )
        return df.select(F.col("o_orderkey").alias("k"), fp.alias("fp"))

    a = snap(o, mutate=False)
    b = snap(o, mutate=True).select(
        F.col("k").alias("kb"), F.col("fp").alias("fpb")
    )
    return (
        a.join(b, a.k == b.kb, "full_outer")
        .select(
            F.when(F.col("k").isNull(), "added")
            .when(F.col("kb").isNull(), "removed")
            .when(F.col("fp") != F.col("fpb"), "changed")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "incremental_high_watermark",
    oracle="""
    WITH new_rows AS (
      SELECT event_type, ts, value FROM events
      WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
    )
    SELECT event_type,
           COUNT(*) AS n_new,
           ROUND(SUM(value), 2) AS new_value,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS next_watermark_us
    FROM new_rows
    GROUP BY event_type
    """,
)
def incremental_high_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental extraction: pull only rows past the
    last run's watermark and emit the NEXT watermark (max event time,
    integer micros) alongside the batch stats — the state handshake
    every pull-based CDC loop runs (the reference re-pulls whole ds
    partitions instead; this is the row-level refinement). The
    timestamp predicate pushes to the scan, so each increment reads
    only new row groups when data lands time-ordered."""
    prev_watermark = "2024-01-20 00:00:00"
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts") > F.lit(prev_watermark).cast("timestamp")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.round(F.sum("value"), 2).alias("new_value"),
        F.max(F.unix_micros("ts")).alias("next_watermark_us"),
    )
