"""operators/ranks.py grouped two-level primitives — must be
bit-equal to their Window.partitionBy(group).orderBy(key)
counterparts (the form they exist to replace: a bounded group key
puts O(data/k) rows into ONE sort task per group — the r11 window
audit's hazard signature), including NULL keys and tie groups that
straddle would-be bucket boundaries."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hivetomysql_spark.operators import ranks as R


def _frame(spark, n=10007):
    # 7 groups (a bounded key), a heavily-tied value key (97 distinct
    # values per ~1430-row group, so tie groups are large), and a
    # unique tie-break.
    return spark.range(n).select(
        (F.col("id") % 7).alias("g"),
        (F.xxhash64("id") % 97).cast("double").alias("k"),
        F.col("id").alias("tb"),
        (F.col("id") % 5).cast("double").alias("v"),
    )


def _with_nulls(spark):
    base = _frame(spark, 2003)
    return base.select(
        "g",
        F.when(F.col("tb") % 11 == 0, F.lit(None)).otherwise(F.col("k")).alias("k"),
        "tb",
        "v",
    )


def test_grouped_row_number_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_row_number(df, ["g"], "k", ["tb"], out="r")
    exp = df.withColumn(
        "r2", F.row_number().over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("r != r2").count() == 0


def test_grouped_row_number_null_keys_match_window(spark):
    df = _with_nulls(spark)
    got = R.grouped_row_number(df, ["g"], "k", ["tb"], out="r")
    exp = df.withColumn(
        "r2", F.row_number().over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got.join(exp, ["g", "tb"]).where("r != r2").count() == 0
    )


def test_grouped_dense_rank_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_dense_rank(df, ["g"], "k", out="d")
    exp = df.withColumn(
        "d2", F.dense_rank().over(W.partitionBy("g").orderBy("k"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("d != d2").count() == 0


def test_grouped_dense_rank_null_keys_consume_one_rank(spark):
    df = _with_nulls(spark)
    got = R.grouped_dense_rank(df, ["g"], "k", out="d")
    exp = df.withColumn(
        "d2", F.dense_rank().over(W.partitionBy("g").orderBy("k"))
    )
    assert got.join(exp, ["g", "tb"]).where("d != d2").count() == 0


def test_grouped_ntile_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_ntile(df, ["g"], 4, "k", ["tb"], out="t")
    exp = df.withColumn(
        "t2", F.ntile(4).over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("t != t2").count() == 0


def test_grouped_ntile_fewer_rows_than_tiles(spark):
    df = spark.range(3).select(
        F.lit(0).alias("g"), F.col("id").cast("double").alias("k"),
        F.col("id").alias("tb"),
    )
    got = R.grouped_ntile(df, ["g"], 7, "k", ["tb"], out="t")
    exp = df.withColumn(
        "t2", F.ntile(7).over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "tb"]).where("t != t2").count() == 0


def test_grouped_running_max_exclusive_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_running_max_exclusive(
        df, ["g"], "k", ["tb"], value="v", out="m"
    )
    exp = df.withColumn(
        "m2",
        F.max("v").over(
            W.partitionBy("g")
            .orderBy("k", "tb")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    # first row per group: both NULL
    assert (
        got.join(exp, ["g", "k", "tb"])
        .where("coalesce(m, -1e18) != coalesce(m2, -1e18)")
        .count()
        == 0
    )


def test_grouped_running_max_exclusive_null_keys(spark):
    df = _with_nulls(spark)
    got = R.grouped_running_max_exclusive(
        df, ["g"], "k", ["tb"], value="v", out="m"
    )
    exp = df.withColumn(
        "m2",
        F.max("v").over(
            W.partitionBy("g")
            .orderBy("k", "tb")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    assert (
        got.join(exp, ["g", "tb"])
        .where("coalesce(m, -1e18) != coalesce(m2, -1e18)")
        .count()
        == 0
    )


def test_grouped_primitives_quantile_mode(spark):
    df = _frame(spark)
    got = R.grouped_row_number(
        df, ["g"], "k", ["tb"], out="r", bucket_mode="quantile"
    )
    exp = df.withColumn(
        "r2", F.row_number().over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("r != r2").count() == 0


def test_grouped_running_sums_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_row_number(
        df, ["g"], "k", ["tb"], out=None, sums={"c1": "v", "c2": "tb"}
    )
    wo = (
        W.partitionBy("g")
        .orderBy("k", "tb")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    exp = df.withColumn("e1", F.sum("v").over(wo)).withColumn(
        "e2", F.sum("tb").over(wo)
    )
    assert (
        got.join(exp, ["g", "k", "tb"])
        .where("abs(c1 - e1) > 1e-9 or c2 != e2")
        .count()
        == 0
    )


def test_grouped_lag_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_lag(df, ["g"], "k", ["tb"], value="v", out="p")
    exp = df.withColumn(
        "p2", F.lag("v").over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got.join(exp, ["g", "k", "tb"])
        .where("coalesce(p, -1e18) != coalesce(p2, -1e18)")
        .count()
        == 0
    )


def test_grouped_lag_null_values_propagate(spark):
    df = _frame(spark, 2003).select(
        "g", "k", "tb",
        F.when(F.col("tb") % 7 == 0, F.lit(None)).otherwise(F.col("v")).alias("v"),
    )
    got = R.grouped_lag(df, ["g"], "k", ["tb"], value="v", out="p")
    exp = df.withColumn(
        "p2", F.lag("v").over(W.partitionBy("g").orderBy("k", "tb"))
    )
    # rows whose true predecessor value is NULL must stay NULL, and
    # only each group's first row may be NULL-because-no-predecessor
    assert (
        got.join(exp, ["g", "k", "tb"])
        .where(
            "(p is null) != (p2 is null) or "
            "(p is not null and p != p2)"
        )
        .count()
        == 0
    )


def test_grouped_lead_matches_window(spark):
    df = _frame(spark)
    got = R.grouped_lead(df, ["g"], "k", ["tb"], value="v", out="nx")
    exp = df.withColumn(
        "n2", F.lead("v").over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got.join(exp, ["g", "k", "tb"])
        .where(
            "(nx is null) != (n2 is null) or "
            "(nx is not null and nx != n2)"
        )
        .count()
        == 0
    )


def test_grouped_lead_null_keys(spark):
    df = _with_nulls(spark)
    got = R.grouped_lead(df, ["g"], "k", ["tb"], value="v", out="nx")
    exp = df.withColumn(
        "n2", F.lead("v").over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got.join(exp, ["g", "tb"])
        .where(
            "(nx is null) != (n2 is null) or "
            "(nx is not null and nx != n2)"
        )
        .count()
        == 0
    )


def _with_null_groups(spark):
    base = _frame(spark, 2003)
    return base.select(
        F.when(F.col("tb") % 13 == 0, F.lit(None)).otherwise(F.col("g")).alias("g"),
        "k",
        "tb",
        "v",
    )


def test_grouped_primitives_preserve_cardinality(spark):
    # the join-back decomposition's characteristic failure mode is
    # dropped or duplicated rows (the equivalence joins above are
    # blind to it) — pin row counts through every primitive
    df = _with_nulls(spark)
    n = df.count()
    assert R.grouped_row_number(df, ["g"], "k", ["tb"]).count() == n
    assert R.grouped_dense_rank(df, ["g"], "k").count() == n
    assert R.grouped_ntile(df, ["g"], 4, "k", ["tb"]).count() == n
    assert R.grouped_min_rank(df, ["g"], "k").count() == n
    assert (
        R.grouped_running_max_exclusive(df, ["g"], "k", ["tb"], value="v").count()
        == n
    )
    assert (
        R.grouped_row_number(
            df, ["g"], "k", ["tb"], out=None, sums={"c": "v"}
        ).count()
        == n
    )
    assert R.grouped_lag(df, ["g"], "k", ["tb"], value="v").count() == n
    assert R.grouped_lead(df, ["g"], "k", ["tb"], value="v").count() == n


def test_grouped_primitives_null_group_rows_kept(spark):
    # Window.partitionBy treats a NULL group as a regular partition;
    # the offsets join-back must be null-safe or those rows vanish
    # (r11 review finding)
    df = _with_null_groups(spark)
    n = df.count()
    n_null = df.where("g is null").count()
    assert n_null > 0
    got = R.grouped_row_number(df, ["g"], "k", ["tb"], out="r")
    assert got.count() == n
    exp = df.withColumn(
        "r2", F.row_number().over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got.join(exp, ["k", "tb"]).where("r != r2").count() == 0
    )
    got2 = R.grouped_lag(df, ["g"], "k", ["tb"], value="v", out="p")
    assert got2.count() == n
    exp2 = df.withColumn(
        "p2", F.lag("v").over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert (
        got2.join(exp2, ["k", "tb"])
        .where(
            "(p is null) != (p2 is null) or (p is not null and p != p2)"
        )
        .count()
        == 0
    )


def test_grouped_row_number_with_group_size(spark):
    df = _with_nulls(spark)
    got = R.grouped_row_number(
        df, ["g"], "k", ["tb"], out="r", with_group_size="n"
    )
    exp = df.withColumn(
        "n2", F.count(F.lit(1)).over(W.partitionBy("g"))
    )
    assert got.count() == df.count()
    assert got.join(exp, ["g", "tb"]).where("n != n2").count() == 0


def test_dispatch_auto_picks_plain_window_below_bound(spark):
    # max_group below PLAIN_WINDOW_BOUND -> the plain one-shuffle
    # Window.partitionBy(g) plan: no __rk_bucket key anywhere
    from hivetomysql_spark.plans import introspect as I

    df = _frame(spark, 2003)
    got = R.grouped_row_number(
        df, ["g"], "k", ["tb"], out="r", dispatch="auto", max_group=300
    )
    sites = I.partitioned_window_keys(got)
    assert sites, "plain branch must still present a partitioned window"
    assert all(
        not any("__rk_bucket" in k for k in keys) for keys, _ in sites
    )
    exp = df.withColumn(
        "r2", F.row_number().over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("r != r2").count() == 0


def test_dispatch_auto_picks_two_level_above_bound(spark):
    from hivetomysql_spark.plans import introspect as I

    df = _frame(spark, 2003)
    got = R.grouped_row_number(
        df, ["g"], "k", ["tb"], out="r",
        dispatch="auto", max_group=R.PLAIN_WINDOW_BOUND + 1,
    )
    sites = I.partitioned_window_keys(got)
    assert any(
        any("__rk_bucket" in k for k in keys) for keys, _ in sites
    ), "above the bound auto must emit the two-level __rk_bucket shape"


def test_dispatch_auto_measures_when_unprovided(spark):
    # no max_group passed: auto runs max_group_rows itself; fixture
    # groups (~290 rows) are far below the bound -> plain window
    from hivetomysql_spark.plans import introspect as I

    df = _frame(spark, 2003)
    assert R.max_group_rows(df, ["g"]) < R.PLAIN_WINDOW_BOUND
    got = R.grouped_ntile(df, ["g"], 4, "k", ["tb"], out="t", dispatch="auto")
    sites = I.partitioned_window_keys(got)
    assert all(
        not any("__rk_bucket" in k for k in keys) for keys, _ in sites
    )
    exp = df.withColumn(
        "t2", F.ntile(4).over(W.partitionBy("g").orderBy("k", "tb"))
    )
    assert got.join(exp, ["g", "k", "tb"]).where("t != t2").count() == 0


def test_dispatch_window_branch_equals_two_level_all_primitives(spark):
    # the forced plain branch and the default two-level branch must
    # be value-identical for every grouped primitive (the dispatch
    # can then never change a result, only a plan)
    df = _frame(spark, 2003)
    cases = [
        lambda d, **kw: R.grouped_min_rank(d, ["g"], "k", out="o", **kw),
        lambda d, **kw: R.grouped_row_number(
            d, ["g"], "k", ["tb"], out="o", **kw
        ),
        lambda d, **kw: R.grouped_dense_rank(d, ["g"], "k", out="o", **kw),
        lambda d, **kw: R.grouped_ntile(
            d, ["g"], 3, "k", ["tb"], out="o", **kw
        ),
        lambda d, **kw: R.grouped_running_max_exclusive(
            d, ["g"], "k", ["tb"], value="v", out="o", **kw
        ),
        lambda d, **kw: R.grouped_row_number(
            d, ["g"], "k", ["tb"], out=None, sums={"o": "v"}, **kw
        ),
        lambda d, **kw: R.grouped_lag(
            d, ["g"], "k", ["tb"], value="v", out="o", **kw
        ),
        lambda d, **kw: R.grouped_lead(
            d, ["g"], "k", ["tb"], value="v", out="o", **kw
        ),
    ]
    for build in cases:
        a = build(df, dispatch="window").select("g", "tb", "o")
        b = build(df, dispatch="two_level").select(
            "g", "tb", F.col("o").alias("o2")
        )
        bad = (
            a.join(b, ["g", "tb"])
            .where(
                "(o is null) != (o2 is null) or (o is not null and o != o2)"
            )
            .count()
        )
        assert bad == 0


def test_dispatch_rejects_unknown_mode(spark):
    import pytest as _pytest

    df = _frame(spark, 101)
    with _pytest.raises(ValueError, match="unknown dispatch"):
        R.grouped_row_number(df, ["g"], "k", ["tb"], dispatch="nope")


def test_max_group_rows_memoized_one_job_per_frame_and_keys(spark):
    # r12 verdict: max_group_rows was an eager driver action at query
    # BUILD time, so every re-build of the same query re-paid a full
    # input scan. The memo must make the job run ONCE per (analyzed
    # plan, keys) within the session.
    df = _frame(spark, 3001)
    R._memo.clear()
    before = R._measurement_jobs
    a = R.max_group_rows(df, ["g"])
    mid = R._measurement_jobs
    assert mid == before + 1
    # identical frame (same logical plan), same keys -> memo hit
    b = R.max_group_rows(_frame(spark, 3001), ["g"])
    assert R._measurement_jobs == mid
    assert a == b
    # different keys on the same frame -> a NEW measurement
    R.max_group_rows(df, ["g", "tb"])
    assert R._measurement_jobs == mid + 1
    # different plan (extra filter) -> a NEW measurement
    R.max_group_rows(df.where("tb % 2 = 0"), ["g"])
    assert R._measurement_jobs == mid + 2


def test_sampled_row_bytes_memoized_and_plausible(spark):
    df = _frame(spark, 501)
    R._memo.clear()
    before = R._measurement_jobs
    w1 = R.sampled_row_bytes(df)
    assert R._measurement_jobs == before + 1
    w2 = R.sampled_row_bytes(_frame(spark, 501))
    assert R._measurement_jobs == before + 1, "same plan must memo-hit"
    assert w1 == w2
    # 4 numeric-ish columns: a handful of bytes each, never kilobytes
    assert 8 <= w1 < 1024
    # empty frame: fixed fallback, no crash
    assert R.sampled_row_bytes(df.where("g < 0")) == 64


def test_dispatch_auto_byte_bound_flips_wide_rows_to_two_level(spark):
    # A group count comfortably below PLAIN_WINDOW_BOUND must still
    # be rejected when rows are wide enough that one sort task would
    # hold > PLAIN_WINDOW_TASK_BYTES: 2_000_000 rows x ~1 MiB of
    # payload is terabytes in one task — the r12 verdict's exact
    # blind spot for a row-count-only bound.
    wide = spark.range(64).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").cast("double").alias("k"),
        F.col("id").alias("tb"),
        F.repeat(F.lit("x"), 1 << 20).alias("payload"),
    )
    R._memo.clear()
    assert (
        R._resolve_dispatch(wide, ["g"], "auto", R.PLAIN_WINDOW_BOUND)
        == "two_level"
    )
    # the same group count on a NARROW frame stays on the plain plan
    narrow = _frame(spark, 256)
    assert (
        R._resolve_dispatch(narrow, ["g"], "auto", 2_000_000) == "window"
    )
