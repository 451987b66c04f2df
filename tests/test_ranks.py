"""operators/ranks.py — the primitives called with no group columns
(the global order) must be bit-equal to their single-partition Window
counterparts, and their plans must not contain an unpartitioned
data-sized window. ``test_global_*`` names the global case of each
primitive, not a separate function."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hivetomysql_spark.operators import ranks as R
from hivetomysql_spark.plans import introspect as I


def _frame(spark, n=10007):
    return spark.range(n).select(
        (F.xxhash64("id") % 1000).alias("k"),
        F.col("id").alias("tb"),
        (F.col("id") % 5).cast("double").alias("v"),
    )


def test_global_row_number_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_row_number(df, [], "k", ["tb"], out="r")
    exp = df.withColumn("r2", F.row_number().over(W.orderBy("k", "tb")))
    assert got.join(exp, ["k", "tb"]).where("r != r2").count() == 0


def test_global_running_sum_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_row_number(df, [], "k", ["tb"], out=None, sums={"c": "v"})
    exp = df.withColumn(
        "c2",
        F.sum("v").over(
            W.orderBy("k", "tb").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    assert (
        got.join(exp, ["k", "tb"]).where("abs(c - c2) > 1e-9").count() == 0
    )


def test_global_ntile_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_ntile(df, [], 16, "k", ["tb"], out="b")
    exp = df.withColumn("b2", F.ntile(16).over(W.orderBy("k", "tb")))
    assert got.join(exp, ["k", "tb"]).where("b != b2").count() == 0


def test_constant_key_collapses_to_one_bucket(spark):
    df = spark.range(20).select(
        F.lit(5.0).alias("k"), F.col("id").alias("tb")
    )
    rows = R.grouped_row_number(df, [], "k", ["tb"]).agg(
        F.min("r"), F.max("r"), F.count(F.lit(1))
    ).collect()[0]
    assert tuple(rows) == (1, 20, 20)


def test_ntile_fewer_rows_than_tiles(spark):
    df = spark.range(7).select(
        F.col("id").cast("double").alias("k"), F.col("id").alias("tb")
    )
    got = sorted(
        r["b"]
        for r in R.grouped_ntile(df, [], 16, "k", ["tb"], out="b").collect()
    )
    assert got == [1, 2, 3, 4, 5, 6, 7]


def test_global_lag_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_lag(df, [], "k", ["tb"], value="v", out="p")
    exp = df.withColumn("p2", F.lag("v").over(W.orderBy("k", "tb")))
    j = got.join(exp, ["k", "tb"])
    assert j.where("p IS DISTINCT FROM p2").count() == 0
    # exactly one NULL lag (the global first row)
    assert got.where("p IS NULL").count() == 1


def test_global_running_max_exclusive_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_running_max_exclusive(
        df, [], "k", ["tb"], value="v", out="m"
    )
    exp = df.withColumn(
        "m2",
        F.max("v").over(
            W.orderBy("k", "tb").rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    j = got.join(exp, ["k", "tb"])
    assert j.where("m IS DISTINCT FROM m2").count() == 0


def test_global_order_stats_fused_matches_windows(spark):
    df = _frame(spark)
    got = R.grouped_row_number(
        df, [], "k", ["tb"], out="r", sums={"c": "v"}
    )
    w = W.orderBy("k", "tb")
    exp = df.withColumn("r2", F.row_number().over(w)).withColumn(
        "c2", F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    j = got.join(exp, ["k", "tb"])
    assert j.where("r != r2 OR abs(c - c2) > 1e-9").count() == 0


def _null_frame(spark, n=2003):
    """Every 7th key NULL, every 5th value NULL — the advice-r9
    fixtures: NULL keys must rank FIRST (Window.orderBy default) and
    NULL values must propagate through lag, not borrow the previous
    bucket's last non-null value."""
    return spark.range(n).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.xxhash64("id") % 1000)
        .alias("k"),
        F.col("id").alias("tb"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 11).cast("double"))
        .alias("v"),
    )


def test_global_row_number_null_keys_rank_first(spark):
    df = _null_frame(spark)
    got = R.grouped_row_number(df, [], "k", ["tb"], out="r")
    exp = df.withColumn("r2", F.row_number().over(W.orderBy("k", "tb")))
    assert got.join(exp, ["tb"]).where("r != r2").count() == 0


def test_global_running_sum_null_keys(spark):
    df = _null_frame(spark)
    got = R.grouped_row_number(df, [], "k", ["tb"], out=None, sums={"c": "v"})
    exp = df.withColumn(
        "c2",
        F.sum("v").over(
            W.orderBy("k", "tb").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    assert (
        got.join(exp, ["tb"]).where("c IS DISTINCT FROM c2").count() == 0
    )


def test_global_lag_null_values_propagate(spark):
    """The advice-r9 defect: a legitimate NULL lag (predecessor's
    value IS NULL) must stay NULL on non-first rows, and bucket
    boundaries must hand off NULL last-values intact."""
    df = _null_frame(spark)
    got = R.grouped_lag(df, [], "k", ["tb"], value="v", out="p", n_buckets=4)
    exp = df.withColumn("p2", F.lag("v").over(W.orderBy("k", "tb")))
    assert got.join(exp, ["tb"]).where("p IS DISTINCT FROM p2").count() == 0


def test_global_lag_null_keys_and_values_all_bucket_counts(spark):
    df = _null_frame(spark, n=499)
    exp = df.withColumn("p2", F.lag("v").over(W.orderBy("k", "tb")))
    for nb in (1, 3, 64):
        got = R.grouped_lag(
            df, [], "k", ["tb"], value="v", out="p", n_buckets=nb
        )
        bad = got.join(exp, ["tb"]).where("p IS DISTINCT FROM p2").count()
        assert bad == 0, f"n_buckets={nb}: {bad} rows diverge"


def test_global_running_max_exclusive_null_keys(spark):
    df = _null_frame(spark)
    got = R.grouped_running_max_exclusive(
        df, [], "k", ["tb"], value="v", out="m"
    )
    exp = df.withColumn(
        "m2",
        F.max("v").over(
            W.orderBy("k", "tb").rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    assert got.join(exp, ["tb"]).where("m IS DISTINCT FROM m2").count() == 0


def _exp_frame(spark, n=20011):
    """Deterministic exponential-ish key: -log(u) for u uniform from
    a hash — the heavy-tailed distribution that breaks range buckets
    (~ln(N)/64 of all rows in bucket 1)."""
    u = (F.abs(F.xxhash64("id")) % 1000000 + 1) / 1000000.0
    return spark.range(n).select(
        (-F.log(u)).alias("k"), F.col("id").alias("tb")
    )


def test_quantile_mode_matches_window(spark):
    df = _exp_frame(spark)
    got = R.grouped_row_number(
        df, [], "k", ["tb"], out="r", bucket_mode="quantile"
    )
    exp = df.withColumn("r2", F.row_number().over(W.orderBy("k", "tb")))
    assert got.join(exp, ["tb"]).where("r != r2").count() == 0


def test_quantile_buckets_balanced_on_exponential_key(spark):
    """Verdict r9 #3 'done' criterion: max bucket occupancy ≤ 2× the
    mean on an exponential fixture — range mode measurably violates
    this (the documented caveat), quantile mode must not."""
    df = _exp_frame(spark)
    for mode, should_balance in (("quantile", True), ("range", False)):
        occ = (
            R.with_value_buckets(df, "k", 64, mode=mode)
            .groupBy(R.BUCKET)
            .count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
            .collect()[0]
        )
        balanced = occ["mx"] <= 2 * occ["mean"]
        assert balanced == should_balance, (mode, occ["mx"], occ["mean"])


def test_quantile_mode_null_keys_first(spark):
    df = _null_frame(spark)
    got = R.grouped_row_number(
        df, [], "k", ["tb"], out="r", bucket_mode="quantile"
    )
    exp = df.withColumn("r2", F.row_number().over(W.orderBy("k", "tb")))
    assert got.join(exp, ["tb"]).where("r != r2").count() == 0


def test_no_data_sized_global_window_in_plan(spark):
    """The whole point: the only global window is over the O(buckets)
    offsets frame (an Aggregate output), never the input rows."""
    df = _frame(spark)
    got = R.grouped_row_number(df, [], "k", ["tb"], out="r")
    counts = I.global_window_input_counts(got)
    assert counts and max(counts) <= 64, counts


# every primitive, called with no group columns
_ZERO_GROUP_CALLS = {
    "min_rank": lambda df: R.grouped_min_rank(df, [], "k"),
    "row_number": lambda df: R.grouped_row_number(df, [], "k", ["tb"]),
    "running_sums": lambda df: R.grouped_row_number(
        df, [], "k", ["tb"], out=None, sums={"c": "v"}
    ),
    "dense_rank": lambda df: R.grouped_dense_rank(df, [], "k"),
    "ntile": lambda df: R.grouped_ntile(df, [], 4, "k", ["tb"]),
    "running_max_exclusive": lambda df: R.grouped_running_max_exclusive(
        df, [], "k", ["tb"], value="v"
    ),
    "lag": lambda df: R.grouped_lag(df, [], "k", ["tb"], value="v"),
    "lead": lambda df: R.grouped_lead(df, [], "k", ["tb"], value="v"),
}


@pytest.mark.parametrize("name", sorted(_ZERO_GROUP_CALLS))
def test_zero_group_side_frame_is_broadcast(spark, name):
    """With no group columns the offsets / hand-off frame is O(buckets)
    rows, so it is broadcast by hint. Size-based broadcasting is
    switched off here, as it is in effect at scale, where the side
    frame's estimate (derived from the data's) exceeds the threshold:
    left unhinted, the frame plans a sort-merge join and one more
    shuffle of the data."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = _ZERO_GROUP_CALLS[name](_frame(spark))
        assert I.has_broadcast_join(got)
        assert not I.has_sort_merge_join(got)
    finally:
        spark.conf.set(key, old)
