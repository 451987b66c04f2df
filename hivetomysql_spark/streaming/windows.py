"""Structured Streaming tier over the ``events`` table (SURVEY.md
§2.2 "Streaming": absent from the reference, mandated by the north
star).

Every transformation here is expressed so the SAME function works on
a batch DataFrame and a streaming DataFrame — Spark's unified model.
Tests exploit that: the streaming result (file source → memory sink)
must equal the batch result on the same data
(tests/test_streaming.py), and the batch twins are oracle-checked
against DuckDB via the query registry (queries/streaming_batch.py).

Watermark mechanics at scale: state for a window is dropped once the
watermark (max event time − delay) passes its end, so executor state
stays bounded by (delay / window-size) windows per key — the knob
that keeps a 100 TB/day stream's state finite. Late rows beyond the
delay are dropped, matching the declared completeness contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Attach the event-time watermark (no-op for batch inputs)."""
    if watermark is not None and events.isStreaming:
        return events.withWatermark("ts", watermark)
    return events


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts + value stats per event_type.

    Streaming: incremental partial aggregation per microbatch, final
    merge keyed by (window, event_type) in the state store.
    """
    e = with_event_time(events, watermark)
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_user_activity(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "3 hours",
) -> DataFrame:
    """Sliding-window distinct-ish activity: events per user per
    overlapping window. Each row lands in window/slide windows — the
    fan-out is window÷slide, the cost knob for sliding aggregations."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per user. A session closes (state evicted) once the
    watermark passes its end."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: state holds one entry per key only until
    the watermark passes (dropDuplicatesWithinWatermark) — bounded
    state, vs unbounded for plain dropDuplicates."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def write_stream_to_jdbc(stream_df: DataFrame, conf, mapping, checkpoint: str):
    """Streaming → MySQL via foreachBatch: each microbatch goes
    through the SAME batch JDBC sink (sinks/jdbc.py), preserving the
    reference's load semantics per batch; the conf's ``jdbc_*`` keys
    pick the target's dialect as they do for the CLI. Exactly-once is
    approximated by idempotent delete-before-insert on retries when
    the mapping carries batch-identifying constants.
    """
    from hivetomysql_spark.sinks.jdbc import write_jdbc

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_jdbc(batch_df, conf, mapping)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def enrich_with_dimension(
    events: DataFrame,
    customer: DataFrame,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each event is
    joined to the (static, broadcast) customer dimension, then counted
    per nation per tumbling window.

    The static side is re-read per micro-batch by Structured
    Streaming, so dimension updates between batches are picked up for
    free; the join is unhinted. On the streaming path the STATIC
    planner makes the broadcast-vs-shuffle call from its
    ``autoBroadcastJoinThreshold`` size estimate (AQE does not apply
    to micro-batch plans containing streaming sources): the dim is
    auto-broadcast while its estimated size fits — keeping the stream
    side shuffle-free — and falls back to a shuffle join once customer
    outgrows the threshold (it scales with the warehouse; forced hint
    removed in the r10 broadcast audit). On the batch path of this
    same function AQE additionally re-plans from runtime sizes. Works
    identically on a batch DataFrame.
    """
    e = with_event_time(events, watermark)
    dim = customer.select("c_custkey", "c_nationkey")
    return (
        e.join(dim, e.user_id == dim.c_custkey)
        .groupBy(F.window("ts", window).alias("w"), "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("day"),
            "c_nationkey",
            "n_events",
            "total_value",
        )
    )


def click_purchase_join(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every purchase within
    ``attribution_window`` after a click by the same user.

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so Spark can evict click state once the
    watermark passes click_ts + window — state stays O(active window)
    per user, the prerequisite for running this over an unbounded
    stream. On batch inputs the same code plans as a plain range join.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return (
        clicks.join(purchases, cond)
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (
                F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
            ).alias("lag_us"),
        )
    )


def click_purchase_join_outer(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, attributed to
    purchases within ``attribution_window`` after it — or emitted
    UNMATCHED once the watermark proves no purchase can still
    arrive. The outer side is what an attribution pipeline actually
    needs (unconverted clicks are the denominator), and it is the
    harder streaming primitive: Spark may emit an unmatched left row
    only after the watermark passes click_ts + window, so state
    eviction and result completeness are the same mechanism. Near
    the end of a finite stream the watermark never advances past the
    tail, so trailing unmatched clicks are legitimately withheld —
    the equivalence test asserts exact agreement on the
    watermark-closed region (tests/test_streaming.py).

    On batch inputs the identical code plans as a plain left range
    join and emits every unmatched click."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return clicks.join(purchases, cond, "left_outer").select(
        "click_id",
        "user_id",
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
        F.col("purchase_id").isNotNull().alias("converted"),
    )
