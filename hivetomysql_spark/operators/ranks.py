"""Distributed ordering primitives — rank / running sum / lag
without a single-partition sort.

``Window.orderBy(...)`` with no partition is the classic Spark
scale-killer: Catalyst plans it as ``Exchange SinglePartition`` + one
sorted partition, so one task sorts the entire input regardless of
cluster size; ``Window.partitionBy(g).orderBy(...)`` over a bounded
group key is the same hazard k times over. The reference has nothing
like this (HiveToMysql.java:1-641 copies rows); these helpers exist
because registry queries need an order over data-sized frames (NTILE
layouts, ROC/lift curves, KS statistics, sweep lines, per-group
ranks), and the scalable form is always the same two-level shape.

There is ONE family, ``grouped_*(df, group_cols, key, ...)``. The
global order is the call with no group columns (``group_cols=[]``):

1. bucket rows by value range (``width_bucket`` over a broadcast
   min/max — ONE tiny aggregate, no sampling pass like
   ``repartitionByRange``); boundaries are shared by all groups;
2. rank / running-sum WITHIN each (group, bucket) (hash exchange on
   those columns — fully parallel, the only data-sized shuffle);
3. per-(group, bucket) totals — an O(groups x buckets) aggregate
   that reuses the same shuffle keys — cumulated over each group's
   earlier buckets by a window over that reduced frame and joined
   back as offsets (``_join_back``).

Bucket ids are monotone in the value and equal keys always land in
the same bucket (width_bucket is deterministic on the value), so
offset + within-bucket result is exact and tie-breakers complete a
total order exactly as a sort would. With no group columns the only
single-partition work is step 3's window over O(buckets) rows.

Join-back hint (``_join_back``): with no group columns the side
frame is O(buckets) rows at any scale and is broadcast; with group
columns it stays unhinted and AQE broadcasts it at runtime while it
is small (the r10 broadcast-audit rule).

Skew note: value-range buckets inherit the key's distribution — an
exponential key concentrates ~ln(N)/n of all rows in the first
bucket, partially recreating the single-partition sort. For such
keys pass ``bucket_mode="quantile"``: boundaries come from
``approx_percentile`` (one extra tiny aggregate, still no data-sized
extra pass) and bucket occupancy is near-uniform regardless of the
key's distribution (``tests/test_ranks.py`` pins occupancy ≤ 2× the
mean on an exponential fixture). The registry's uniform-ish keys
(Morton codes, timestamps, scores) stay on the default range mode —
one aggregate instead of two.

NULL keys sort FIRST (bucket 0), exactly matching the ascending
``Window.orderBy`` default the primitives are pinned against.

DESCENDING order and the negation idiom — a NULLS trap (r11 review):
the primitives expose no desc option; call sites that need DESC pass
a NEGATED key (``-price``, ``-unix_micros(ts)``). On a NULL-free key
that is exactly ``F.desc`` — but ``F.desc`` is NULLS LAST while a
negated NULL stays NULL and lands in bucket 0, i.e. NULLS FIRST. So
on a NULLABLE key the negation idiom diverges from the window form
it replaces (and from an ANSI ``ORDER BY k DESC`` oracle). Before
copying the idiom onto a nullable key, either prove the column
non-null (all current call sites are non-null TPC-H columns) or
pre-map NULLs to an explicit sentinel that sorts where the window
form puts them (e.g. ``coalesce(-k, lit(inf))`` for NULLS LAST).

Adaptive dispatch (r12): every primitive also carries the plain
``Window.partitionBy(group).orderBy(...)`` form and can pick
between the two at runtime from a measured per-group bound —
``dispatch="auto"`` runs one partially-aggregated count
(:func:`max_group_rows`, or the caller passes a pre-measured
``max_group``) and uses the plain window when the largest group fits
one sort task — ``<= PLAIN_WINDOW_BOUND`` rows AND
``<= PLAIN_WINDOW_TASK_BYTES`` estimated bytes (rows x sampled
average row width, :func:`sampled_row_bytes`), so a wide-struct
input can't smuggle a memory-blowing group past a row-count bound —
else the two-level shape above. Both measurements are memoized per
(analyzed plan, keys) within the session, so repeated builds of the
same query pay each job once. Catalog-bounded group domains (brands over ``part``) stay on
the cheap plain plan at every scale; data-sized inputs flip to
two-level exactly when the hazard appears. The same result either
way (tests/test_grouped_ranks.py pins branch equivalence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BUCKET = "__rk_bucket"

# Largest per-group row count the plain Window.partitionBy form is
# allowed to sort in ONE task under dispatch="auto": ~2M rows is
# seconds of sort time and a few hundred MB of task memory at
# typical row widths — comfortably bounded — while the two-level
# shape's extra shuffle + offset join only pays for itself above
# it (measured: window_rank_ntile two-level costs +1.5 s at sf0.1
# and 4.4x at sf10 on a catalog-bounded key, SCALING.md r11/r12).
PLAIN_WINDOW_BOUND = 1 << 21

# The row bound alone is blind to row WIDTH (r12 verdict): 2M rows
# of a wide struct can exceed one sort task's memory even though the
# count passes. dispatch="auto" therefore also requires
# max_group x sampled-average-row-bytes <= this byte budget before
# it picks the plain window — 256 MiB is a comfortable in-task sort
# at the default executor sizing (well under a 1 GiB task's usable
# execution memory, spill-free for typical configs).
PLAIN_WINDOW_TASK_BYTES = 256 << 20

# Session-scoped memo for the measurement jobs below (r12 verdict:
# max_group_rows was an eager driver action at query-BUILD time, so
# repeated builds of the same query re-paid a full input scan).
# Keyed by (session id, analyzed-plan semanticHash, kind, keys):
# semanticHash is Catalyst's own plan-identity hash, so two builds
# of the same logical frame share the entry while any change to the
# plan (new filter, different source) misses. A hash collision could
# only swap the measurement of one frame for another's, which at
# worst flips the dispatch branch — and both branches are
# result-equivalent by the pinned tests, so correctness never
# depends on the memo. Bounded; cleared wholesale when full.
_MEMO_MAX = 256
_memo: dict[tuple, int] = {}

# test hook: number of actual Spark measurement jobs run (memo
# misses). tests/test_grouped_ranks.py counts this to pin "one job
# per (frame, keys), not one per query build".
_measurement_jobs = 0


def _plan_key(df: DataFrame, *extra) -> tuple | None:
    """Memo key for ``df`` within its session, or None when the
    plan-identity hash is unavailable (e.g. a connect-style session
    without ``_jdf``) — callers skip the memo on None."""
    try:
        h = int(df._jdf.queryExecution().analyzed().semanticHash())
        return (id(df.sparkSession), h, *extra)
    except Exception:  # pragma: no cover - classic sessions have _jdf
        return None


def _memo_put(key: tuple | None, val: int) -> int:
    if key is not None:
        if len(_memo) >= _MEMO_MAX:
            _memo.clear()
        _memo[key] = val
    return val


def max_group_rows(df: DataFrame, group_cols: list[str]) -> int:
    """Largest per-group row count — ONE job whose shuffle is the
    partially-aggregated O(groups) count frame (map-side combine
    reduces each task to one row per group before the exchange), so
    the measurement is a cheap scan even on data-sized inputs.
    Used by ``dispatch="auto"``; memoized per (analyzed plan, keys)
    within the session so repeated builds of the same query pay the
    job once. Callers sharing one grouping across several primitives
    can still pass the result as ``max_group`` to skip even the memo
    lookup (window_rank_ntile measures once for three)."""
    key = _plan_key(df, "mg", *group_cols)
    if key is not None and key in _memo:
        return _memo[key]
    global _measurement_jobs
    _measurement_jobs += 1
    row = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n"))
        .first()
    )
    return _memo_put(key, int(row[0] or 0))


def _value_bytes(v) -> int:
    """Rough in-memory width of one collected value — only used to
    scale the byte budget, so order-of-magnitude fidelity is enough."""
    if v is None:
        return 1
    if isinstance(v, str):
        return 8 + len(v)
    if isinstance(v, (bytes, bytearray)):
        return 8 + len(v)
    if isinstance(v, (list, tuple)):
        return 8 + sum(_value_bytes(x) for x in v)
    if isinstance(v, dict):
        return 8 + sum(_value_bytes(k) + _value_bytes(x) for k, x in v.items())
    if hasattr(v, "__fields__"):  # Row
        return 8 + sum(_value_bytes(x) for x in v)
    return 8  # numerics / bool / date / timestamp / decimal


def sampled_row_bytes(df: DataFrame, sample_rows: int = 64) -> int:
    """Average row width in bytes from the frame's first
    ``sample_rows`` rows — ``limit(n).collect()`` reads only the
    head of the first non-empty partition, so this is a bounded
    driver action (<= 64 rows) even on a data-sized frame, and it is
    memoized per analyzed plan like :func:`max_group_rows`. An empty
    frame estimates 64 bytes (the dispatch question is then moot)."""
    key = _plan_key(df, "rb")
    if key is not None and key in _memo:
        return _memo[key]
    global _measurement_jobs
    _measurement_jobs += 1
    rows = df.limit(sample_rows).collect()
    if not rows:
        return _memo_put(key, 64)
    total = sum(_value_bytes(v) for r in rows for v in r)
    return _memo_put(key, max(8, total // len(rows)))


def _resolve_dispatch(
    df: DataFrame,
    group_cols: list[str],
    dispatch: str,
    max_group: int | None,
) -> str:
    """'auto' -> 'window' when the measured (or caller-provided)
    largest group fits one sort task by BOTH the row bound and the
    byte budget (rows x sampled average row width), else
    'two_level'."""
    if dispatch == "auto":
        mg = max_group if max_group is not None else max_group_rows(df, group_cols)
        if mg > PLAIN_WINDOW_BOUND:
            return "two_level"
        if mg * sampled_row_bytes(df) > PLAIN_WINDOW_TASK_BYTES:
            return "two_level"
        return "window"
    if dispatch not in ("window", "two_level"):
        raise ValueError(f"unknown dispatch {dispatch!r}")
    return dispatch


def with_value_buckets(
    df: DataFrame, key: str, n_buckets: int = 64, mode: str = "range"
) -> DataFrame:
    """Add an order-preserving bucket id over ``key``: NULL keys get
    bucket 0 (Spark's ascending NULLS FIRST), non-null keys 1..n.

    ``mode="range"`` (default): equal-width value-range buckets from
    one broadcast min/max aggregate; constant keys (hi == lo)
    collapse to bucket 1. ``mode="quantile"``: boundaries from one
    ``approx_percentile`` aggregate — near-uniform occupancy for
    skewed/heavy-tailed keys at the cost of the slightly heavier
    sketch. Both assign buckets from the VALUE alone, so equal keys
    always share a bucket and tie groups never split."""
    kd = F.col(key).cast("double")
    if mode == "quantile":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.agg(
            F.percentile_approx(
                kd, F.array(*[F.lit(p) for p in probs]), F.lit(10000)
            ).alias("__qs")
        )
        b = df.crossJoin(F.broadcast(bounds))
        # count of boundaries strictly below the value — a pure
        # function of the value, deterministic across rows
        bucket = F.aggregate(
            F.col("__qs"),
            F.lit(1),
            lambda acc, q: acc + F.when(q < kd, 1).otherwise(0),
        )
        bucket = F.when(F.col(key).isNull(), F.lit(0)).otherwise(
            F.coalesce(bucket, F.lit(1))  # all-null sketch (no rows)
        )
        return b.withColumn(BUCKET, bucket).drop("__qs")
    if mode != "range":
        raise ValueError(f"unknown bucket mode {mode!r}")
    bounds = df.agg(
        F.min(key).cast("double").alias("__lo"),
        F.max(key).cast("double").alias("__hi"),
    )
    b = df.crossJoin(F.broadcast(bounds))
    bucket = F.when(F.col(key).isNull(), F.lit(0)).otherwise(
        F.when(F.col("__hi") <= F.col("__lo"), F.lit(1)).otherwise(
            F.least(
                F.lit(n_buckets),
                F.width_bucket(kd, F.col("__lo"), F.col("__hi"), F.lit(n_buckets)),
            )
        )
    )
    return b.withColumn(BUCKET, bucket).drop("__lo", "__hi")


def _null_aware_add(a: Column, b: Column) -> Column:
    """a + b where NULL means 'no values yet', not unknown: NULL only
    when BOTH sides are NULL — SUM-over-window accumulation."""
    return F.when(
        a.isNull() & b.isNull(), F.lit(None)
    ).otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)))


def fractional_rank_map(
    df: DataFrame,
    col: str,
    out: str = "frank",
    n_buckets: int = 64,
    bucket_mode: str = "range",
) -> DataFrame:
    """O(distinct)-row map value -> tie-averaged (fractional) global
    rank: for a value with ``cnt`` occurrences and ``before`` rows
    strictly smaller, the average of the positions it occupies is
    before + (cnt+1)/2 — exactly RANK() + (COUNT() OVER value - 1)/2.
    Computed as a groupBy + a distributed prefix sum over the
    distinct-value frame (which for near-unique keys is itself
    data-sized — hence the bucketed form, not a global window), then
    joined back by the caller. Small maps broadcast automatically."""
    vc = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = grouped_row_number(
        vc, [], col, out=None, sums={"__cum": "__cnt"},
        n_buckets=n_buckets, bucket_mode=bucket_mode,
    )
    return cum.select(
        col,
        (
            F.col("__cum") - F.col("__cnt") + (F.col("__cnt") + 1) / 2.0
        ).alias(out),
    )


def _join_back(
    data: DataFrame,
    small: DataFrame,
    group_cols: list[str],
    extra_cols: list[str],
) -> DataFrame:
    """Join an O(groups)/O(groups x buckets) side frame (offsets,
    boundary hand-offs, sizes) back onto the data with NULL-SAFE
    equality on the group columns: ``Window.partitionBy`` treats a
    NULL group value as a regular partition, and the plain name-list
    equi-join the primitives first shipped with silently DROPPED
    those rows (r11 review). ``extra_cols`` (the bucket id — never
    NULL by construction) join with plain equality; EqualNullSafe is
    a first-class equi-join key, so broadcast/hash strategies are
    unaffected.

    The hint follows the input: with no group columns the side frame
    is O(buckets) rows at any scale and is broadcast (left to AQE,
    the offsets would plan a sort-merge join and one more shuffle);
    with group columns it is O(groups x buckets), unbounded in
    general, and stays unhinted so AQE decides from its measured size
    (the r10 broadcast-audit rule)."""
    sm = small
    for c in [*group_cols, *extra_cols]:
        sm = sm.withColumnRenamed(c, f"__jb_{c}")
    if not group_cols:
        sm = F.broadcast(sm)
    cond = None
    for c in group_cols:
        e = data[c].eqNullSafe(sm[f"__jb_{c}"])
        cond = e if cond is None else cond & e
    for c in extra_cols:
        e = data[c] == sm[f"__jb_{c}"]
        cond = e if cond is None else cond & e
    joined = data.crossJoin(sm) if cond is None else data.join(sm, cond)
    return joined.drop(*[f"__jb_{c}" for c in [*group_cols, *extra_cols]])


# Public name for query-level domain-reduction join-backs (r12): a
# query that aggregates per group and joins the per-group answer
# back onto the scan replaces a Window.partitionBy — which treats a
# NULL group as a regular partition — so the join must be null-safe
# too or NULL-group rows silently vanish (the same r11 finding the
# primitives' _join_back fixed). Current TPC-H call sites are
# non-null; routing them through this keeps the equivalence a
# property of the idiom, not of the data.
join_back = _join_back


def _earlier_buckets(group_cols: list[str]) -> Window:
    """Each group's strictly earlier buckets, over the
    O(groups x buckets) totals frame — the exclusive prefix every
    offset is cumulated over (NULL on a group's first bucket, exactly
    as an exclusive window frame)."""
    return (
        Window.partitionBy(*group_cols)
        .orderBy(BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )


def grouped_min_rank(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    out: str = "grank",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """Per-group RANK() (min-rank, ties share the smallest position)
    over ``key`` WITHIN each group: min-rank = (group's rows in
    earlier buckets) + within-(group, bucket) RANK(). Equal keys share
    a bucket, so tie groups never split across buckets and the
    offset+local decomposition is exact. NULL keys land in bucket 0
    and rank FIRST within their group, matching the ascending
    ``Window.orderBy`` default."""
    group_cols = list(group_cols)
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.rank()
            .over(Window.partitionBy(*group_cols).orderBy(key))
            .cast("long"),
        )
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    w = Window.partitionBy(*group_cols, BUCKET).orderBy(key)
    local = bucketed.withColumn("__lr", F.rank().over(w))
    totals = bucketed.groupBy(*group_cols, BUCKET).agg(
        F.count(F.lit(1)).alias("__tc")
    )
    offsets = totals.select(
        *group_cols,
        BUCKET,
        F.sum("__tc").over(_earlier_buckets(group_cols)).alias("__oc"),
    )
    out_df = _join_back(local, offsets, group_cols, [BUCKET]).withColumn(
        out,
        (F.coalesce("__oc", F.lit(0)) + F.col("__lr")).cast("long"),
    )
    return out_df.drop(BUCKET, "__lr", "__oc")


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    tiebreaks: list[str] | None = None,
    out: str | None = "r",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    with_group_size: str | None = None,
    dispatch: str = "two_level",
    max_group: int | None = None,
    sums: dict[str, str] | None = None,
) -> DataFrame:
    """Per-group ROW_NUMBER() and/or running SUMs over (key,
    *tiebreaks) from ONE bucketing pass: within-(group, bucket)
    windows plus per-(group, bucket) count and sum offsets, cumulated
    over one O(groups x buckets) totals frame. With tiebreaks
    completing a total order the result is exactly the window form's.

    ``out`` names the row number (``None``: no row number); ``sums``
    maps output name -> value column for running sums (NULL until the
    first non-null value, as SUM over a window frame). Asking for both
    at once costs one pass, where chaining two calls would re-bucket
    (and re-evaluate the input lineage) twice — cumulative-weight /
    dual-CDF shapes (weighted medians, KS tests, shard boundaries).
    ``with_group_size`` additionally emits each group's row count
    under that name — from the ALREADY-COMPUTED per-(group, bucket)
    totals, or, with no group columns, from one scalar count of the
    input (the totals route would plan its exchange a second time) —
    for percent_rank / cume_dist / NTILE arithmetic."""
    group_cols = list(group_cols)
    tiebreaks = tiebreaks or []
    sums = dict(sums or {})
    order = [key, *tiebreaks]
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        w = Window.partitionBy(*group_cols).orderBy(*order)
        out_df = df
        if out is not None:
            out_df = out_df.withColumn(
                out, F.row_number().over(w).cast("long")
            )
        for o, col in sums.items():
            out_df = out_df.withColumn(
                o,
                F.sum(col).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        if with_group_size is not None:
            out_df = out_df.withColumn(
                with_group_size,
                F.count(F.lit(1)).over(Window.partitionBy(*group_cols)),
            )
        return out_df
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    w = Window.partitionBy(*group_cols, BUCKET).orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local, aggs = bucketed, []
    if out is not None or with_group_size is not None:
        aggs.append(F.count(F.lit(1)).alias("__tc"))
    if out is not None:
        local = local.withColumn("__lr", F.row_number().over(w))
    for i, col in enumerate(sums.values()):
        local = local.withColumn(f"__ls{i}", F.sum(col).over(wsum))
        aggs.append(F.sum(col).alias(f"__ts{i}"))
    totals = bucketed.groupBy(*group_cols, BUCKET).agg(*aggs)
    wb = _earlier_buckets(group_cols)
    off_cols = [
        F.sum(f"__ts{i}").over(wb).alias(f"__os{i}") for i in range(len(sums))
    ]
    if out is not None:
        off_cols.insert(0, F.sum("__tc").over(wb).alias("__oc"))
    offsets = totals.select(*group_cols, BUCKET, *off_cols)
    out_df = _join_back(local, offsets, group_cols, [BUCKET])
    drop = [BUCKET]
    if out is not None:
        out_df = out_df.withColumn(
            out, (F.coalesce("__oc", F.lit(0)) + F.col("__lr")).cast("long")
        )
        drop += ["__lr", "__oc"]
    for i, o in enumerate(sums):
        out_df = out_df.withColumn(
            o, _null_aware_add(F.col(f"__os{i}"), F.col(f"__ls{i}"))
        )
        drop += [f"__ls{i}", f"__os{i}"]
    out_df = out_df.drop(*drop)
    if with_group_size is not None:
        if group_cols:
            sizes = totals.groupBy(*group_cols).agg(
                F.sum("__tc").alias(with_group_size)
            )
        else:
            sizes = df.agg(F.count(F.lit(1)).alias(with_group_size))
        out_df = _join_back(out_df, sizes, group_cols, [])
    return out_df


def grouped_dense_rank(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    out: str = "drank",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """Per-group DENSE_RANK() over ``key`` in the two-level shape:
    within-(group, bucket) dense_rank plus an offset of DISTINCT key
    values in the group's earlier buckets. Equal keys never split
    across buckets (width_bucket is a pure function of the value), so
    distinct counts add exactly. The distinct count uses
    ``COUNT(DISTINCT struct(key))`` so a NULL key group (bucket 0,
    where all NULLs tie at dense rank 1, Spark's NULLS FIRST) still
    consumes exactly one dense rank for downstream buckets — a bare
    ``COUNT(DISTINCT key)`` would skip it."""
    group_cols = list(group_cols)
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.dense_rank()
            .over(Window.partitionBy(*group_cols).orderBy(key))
            .cast("long"),
        )
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    w = Window.partitionBy(*group_cols, BUCKET).orderBy(key)
    local = bucketed.withColumn("__ld", F.dense_rank().over(w))
    totals = bucketed.groupBy(*group_cols, BUCKET).agg(
        F.countDistinct(F.struct(key)).alias("__td")
    )
    offsets = totals.select(
        *group_cols,
        BUCKET,
        F.sum("__td").over(_earlier_buckets(group_cols)).alias("__od"),
    )
    return (
        _join_back(local, offsets, group_cols, [BUCKET])
        .withColumn(
            out,
            (F.coalesce("__od", F.lit(0)) + F.col("__ld")).cast("long"),
        )
        .drop(BUCKET, "__ld", "__od")
    )


def grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    key: str,
    tiebreaks: list[str] | None = None,
    out: str = "tile",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """Per-group NTILE(n) over (key, *tiebreaks) from the distributed
    row number and group size: with N rows in the group, base = N div
    n and rem = N mod n, the first rem tiles hold base+1 rows — the
    SQL NTILE definition, with no single-partition sort."""
    group_cols = list(group_cols)
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.ntile(n).over(
                Window.partitionBy(*group_cols).orderBy(key, *(tiebreaks or []))
            ),
        )
    j = grouped_row_number(
        df, group_cols, key, tiebreaks, out="__r",
        n_buckets=n_buckets, bucket_mode=bucket_mode,
        with_group_size="__n",
    )
    base = (F.col("__n") / n).cast("long")
    rem = F.col("__n") % n
    first_span = rem * (base + 1)
    tile = F.when(
        F.col("__r") <= first_span,
        ((F.col("__r") - 1) / (base + 1)).cast("long") + 1,
    ).otherwise(
        rem + ((F.col("__r") - first_span - 1) / base).cast("long") + 1
    )
    return j.withColumn(out, tile.cast("int")).drop("__r", "__n")


def grouped_running_max_exclusive(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    tiebreaks: list[str] | None = None,
    value: str | None = None,
    out: str = "seen_max",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """Per-group MAX(value) over all STRICTLY EARLIER rows in the
    group's (key, *tiebreaks) order — the running high-water-mark /
    forward-carry primitive (sweep lines, Pareto frontiers,
    drawdowns). MAX ignores NULL values, so a conditional value
    column gives LAST_VALUE ... IGNORE NULLS semantics whenever the
    carried value is monotone in the order (e.g. the last error
    TIMESTAMP through a time-ordered stream). Two-level:
    within-(group, bucket) exclusive running max + each earlier
    bucket's max, prefix-maxed over the totals frame and joined back.
    The group's first row gets NULL, exactly as the window form."""
    group_cols = list(group_cols)
    tiebreaks = tiebreaks or []
    value = value or key
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.max(value).over(
                Window.partitionBy(*group_cols)
                .orderBy(key, *tiebreaks)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    local = F.max(value).over(
        Window.partitionBy(*group_cols, BUCKET)
        .orderBy(key, *tiebreaks)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bmax = bucketed.groupBy(*group_cols, BUCKET).agg(
        F.max(value).alias("__bm")
    )
    prev = bmax.select(
        *group_cols,
        BUCKET,
        F.max("__bm").over(_earlier_buckets(group_cols)).alias("__pm"),
    )
    return (
        _join_back(bucketed.withColumn("__lm", local), prev, group_cols, [BUCKET])
        .withColumn(out, F.greatest("__lm", "__pm"))
        .drop(BUCKET, "__lm", "__pm")
    )


def grouped_lag(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    tiebreaks: list[str] | None = None,
    value: str | None = None,
    out: str = "prev",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """LAG(value) over each group's (key, *tiebreaks) order:
    within-(group, bucket) lag plus a boundary hand-off — each
    (group, bucket)'s LAST value, an O(groups x buckets) aggregate,
    lagged one PRESENT bucket (sparse buckets are skipped) and joined
    back to fill each bucket's first row. Equal keys share a bucket,
    so the hand-off never splits a tie group. Each group's first row
    gets NULL, exactly as the window form.

    NULL values propagate exactly (advice r9): the boundary value
    rides in a one-field struct (so a bucket whose last value is NULL
    hands off NULL, where a bare ``max_by`` would skip it), and only
    the true FIRST row of each bucket takes the hand-off — a NULL
    within-bucket lag on any later row means the predecessor's value
    really was NULL and stays NULL."""
    group_cols = list(group_cols)
    tiebreaks = tiebreaks or []
    value = value or key
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.lag(value).over(
                Window.partitionBy(*group_cols).orderBy(key, *tiebreaks)
            ),
        )
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    w = Window.partitionBy(*group_cols, BUCKET).orderBy(key, *tiebreaks)
    lasts = bucketed.groupBy(*group_cols, BUCKET).agg(
        F.max_by(
            F.struct(F.col(value).alias("v")), F.struct(key, *tiebreaks)
        ).alias("__last")
    )
    prev = lasts.select(
        *group_cols,
        BUCKET,
        F.lag("__last")
        .over(Window.partitionBy(*group_cols).orderBy(BUCKET))
        .alias("__prev"),
    )
    return (
        _join_back(
            bucketed.withColumn("__ll", F.lag(value).over(w))
            .withColumn("__rn", F.row_number().over(w)),
            prev,
            group_cols,
            [BUCKET],
        )
        .withColumn(
            out,
            F.when(F.col("__rn") == 1, F.col("__prev.v")).otherwise(
                F.col("__ll")
            ),
        )
        .drop(BUCKET, "__ll", "__rn", "__prev")
    )


def grouped_lead(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    tiebreaks: list[str] | None = None,
    value: str | None = None,
    out: str = "next",
    n_buckets: int = 64,
    bucket_mode: str = "range",
    dispatch: str = "two_level",
    max_group: int | None = None,
) -> DataFrame:
    """LEAD(value) over each group's (key, *tiebreaks) order — mirror
    of :func:`grouped_lag`: each (group, bucket)'s FIRST value is
    handed BACK to the group's previous present bucket's last row
    (``lead`` over the per-group bucket frame). Each group's last row
    gets NULL, exactly as the window form."""
    group_cols = list(group_cols)
    tiebreaks = tiebreaks or []
    value = value or key
    if _resolve_dispatch(df, group_cols, dispatch, max_group) == "window":
        return df.withColumn(
            out,
            F.lead(value).over(
                Window.partitionBy(*group_cols).orderBy(key, *tiebreaks)
            ),
        )
    bucketed = with_value_buckets(df, key, n_buckets, mode=bucket_mode)
    w = Window.partitionBy(*group_cols, BUCKET).orderBy(key, *tiebreaks)
    firsts = bucketed.groupBy(*group_cols, BUCKET).agg(
        F.min_by(
            F.struct(F.col(value).alias("v")), F.struct(key, *tiebreaks)
        ).alias("__first")
    )
    nxt = firsts.select(
        *group_cols,
        BUCKET,
        F.lead("__first")
        .over(Window.partitionBy(*group_cols).orderBy(BUCKET))
        .alias("__next"),
    )
    led = (
        bucketed.withColumn("__lv", F.lead(value).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__sz",
            F.count(F.lit(1)).over(
                Window.partitionBy(*group_cols, BUCKET)
            ),
        )
    )
    return (
        _join_back(led, nxt, group_cols, [BUCKET])
        .withColumn(
            out,
            F.when(
                F.col("__rn") == F.col("__sz"), F.col("__next.v")
            ).otherwise(F.col("__lv")),
        )
        .drop(BUCKET, "__lv", "__rn", "__sz", "__next")
    )
