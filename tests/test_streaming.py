"""Structured Streaming correctness: the same transformation run as a
real stream (file source → memory sink) must equal its batch result —
Spark's unified-model guarantee, which is the test strategy SURVEY.md
§5.2 prescribes for the non-SQL-expressible streaming tier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hivetomysql_spark.streaming.windows import dedup_events, tumbling_counts
from hivetomysql_spark.tables import load_table


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Copy events to a plain-timestamp parquet dir (streaming file
    source needs a user-supplied schema; rewriting through Spark also
    normalizes the nanos column so readStream sees a timestamp)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _run_stream(spark, events_dir, transform, query_name):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {query_name}")


def test_tumbling_stream_equals_batch(spark, events_dir):
    streamed = _run_stream(
        spark, events_dir, lambda s: tumbling_counts(s), "t_tumbling"
    ).collect()
    batch = tumbling_counts(spark.read.parquet(events_dir)).collect()
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    assert {key(r): (r.n_events, r.total_value) for r in streamed} == {
        key(r): (r.n_events, r.total_value) for r in batch
    }
    assert len(streamed) == len(batch)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # plant duplicate event_ids, stream them, assert exactly-one kept
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    doubled = events.unionByName(events)
    src = str(tmp_path / "dup_events")
    doubled.write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedup_events(stream, keys=["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    assert got.n == got.d == 100


def test_foreach_batch_sink_roundtrip(spark, tmp_path):
    """foreachBatch — the streaming adapter for any batch writer (the
    reference's JDBC sink in production; parquet here)."""
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    events.write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(dst)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(dst).count() == 50


import contextlib

import pytest

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def _state_provider(spark, provider):
    """Run a streaming test under an explicit state store provider
    (verdict r11 #3: the stream-vs-batch equivalence lane must also
    run under RocksDB — the provider typed_state.py documents for
    scale — not only the default in-memory/HDFS store)."""
    if provider != "rocksdb":
        yield
        return
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stateful_running_totals_batch_split_invariant(
    spark, tmp_path, provider
):
    """applyInPandasWithState accumulator: totals after streaming the
    data in 4 micro-batches equal the plain batch aggregate — state
    merges are order-insensitive, so micro-batch slicing is
    unobservable. Runs under BOTH state store providers."""
    from hivetomysql_spark.streaming.stateful import running_user_totals

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev4")
    events.repartition(4).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _state_provider(spark, provider):
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName(f"t_stateful_{provider}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    # update mode emits a row per user per touching batch; the final
    # state is the row with the highest n_events per user
    out = spark.sql(
        f"""SELECT user_id, max_by(total_value, n_events) AS total_value,
                  MAX(n_events) AS n_events,
                  max_by(n_types, n_events) AS n_types
           FROM t_stateful_{provider} GROUP BY user_id"""
    ).collect()
    streamed = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.n_types) for r in out
    }
    batch = {
        r.user_id: (r.n, round(r.s, 6), r.t)
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.size(F.collect_set("event_type")).alias("t"),
        )
        .collect()
    }
    assert streamed == batch


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stateful_gap_sessions_batch_split_invariant(
    spark, tmp_path, provider
):
    """The interval-merge sessionizer must converge to the batch
    gaps-and-islands result from ANY micro-batch slicing — events are
    scattered across 4 files by repartition (arrival order scrambled
    w.r.t. event time), streamed one file per trigger. Runs under
    BOTH state store providers."""
    from hivetomysql_spark.queries import queries
    from hivetomysql_spark.streaming.sessions import gap_sessions

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev_sess")
    events.repartition(4).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _state_provider(spark, provider):
        q = (
            gap_sessions(stream)
            .writeStream.format("memory")
            .queryName(f"t_gap_sessions_{provider}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    # latest emission per user = the one with the highest event count
    streamed = {
        r.user_id: (
            r.n_sessions,
            r.total_events,
            round(r.total_value, 2),
            r.longest_us,
            r.latest_end_us,
        )
        for r in spark.sql(
            f"""SELECT user_id,
                      max_by(n_sessions, total_events) AS n_sessions,
                      MAX(total_events) AS total_events,
                      max_by(total_value, total_events) AS total_value,
                      max_by(longest_us, total_events) AS longest_us,
                      max_by(latest_end_us, total_events) AS latest_end_us
               FROM t_gap_sessions_{provider} GROUP BY user_id"""
        ).collect()
    }
    batch = {
        r.user_id: (
            r.n_sessions,
            r.total_events,
            r.total_value,
            r.longest_us,
            r.latest_end_us,
        )
        for r in queries()["stream_gap_sessions_batch"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert streamed == batch


def test_stream_static_join_equals_batch(spark, events_dir, sf_dir):
    """Stream-static enrichment: the dimension join inside a real
    stream must produce the same rollup as the batch run."""
    from hivetomysql_spark.streaming.windows import enrich_with_dimension

    dim = load_table(spark, sf_dir, "customer")
    streamed = _run_stream(
        spark,
        events_dir,
        lambda s: enrich_with_dimension(s, dim),
        "t_enrich",
    ).collect()
    batch = enrich_with_dimension(spark.read.parquet(events_dir), dim).collect()
    key = lambda r: (r.day, r.c_nationkey)  # noqa: E731
    assert {key(r): (r.n_events, r.total_value) for r in streamed} == {
        key(r): (r.n_events, r.total_value) for r in batch
    }


def test_stream_stream_join_equals_batch(spark, events_dir):
    """Stream-stream interval join (append mode — inner joins emit
    once both watermarks pass): same pairs as the batch range join."""
    from hivetomysql_spark.streaming.windows import click_purchase_join

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = click_purchase_join(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM t_ss_join").collect()
    batch = click_purchase_join(spark.read.parquet(events_dir)).collect()
    pair = lambda r: (r.click_id, r.purchase_id)  # noqa: E731
    assert {pair(r): r.lag_us for r in streamed} == {
        pair(r): r.lag_us for r in batch
    }
    assert len(streamed) == len(batch)


def test_typed_state_processor(spark, events_dir):
    """transformWithStateInPandas (typed MapState): gated on protobuf
    availability — asserts the full stream path when runnable, else
    verifies the gate reports honestly and the batch contract holds."""
    import pytest

    from hivetomysql_spark.streaming.typed_state import (
        type_counts_batch,
        type_counts_stream,
        tws_available,
    )

    batch = {
        r.user_id: (r.n_events, r.n_types)
        for r in type_counts_batch(spark.read.parquet(events_dir)).collect()
    }
    assert batch and all(n >= t for n, t in batch.values())
    if not tws_available():
        pytest.skip("google.protobuf absent - transformWithState cannot run")
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(events_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(events_dir)
        )
        out = type_counts_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = {
            r.user_id: (r.n, r.t)
            for r in spark.sql(
                "SELECT user_id, max_by(n_events, n_events) AS n,"
                " max_by(n_types, n_events) AS t FROM t_tws GROUP BY user_id"
            ).collect()
        }
        assert streamed == batch
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed restart: a file-source stream stopped and
    restarted against the same checkpoint must process each input
    file exactly once — the offset log, not reprocessing, decides
    what the second run sees."""
    from hivetomysql_spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    first_half = events.where(F.col("event_id") % 2 == 0)
    second_half = events.where(F.col("event_id") % 2 == 1)
    first_half.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first_half.count()
    # new files arrive; restart from the same checkpoint
    second_half.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == events.count()  # no dupes, nothing missed
    assert got.select(F.count_distinct("event_id")).collect()[0][0] == events.count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data contract across checkpointed runs (append mode):
    the watermark persisted in the commit log survives restarts, a
    row older than it is dropped, and only watermark-finalized
    windows ever reach the sink — the dropped window never appears.

    Run 1: on-time events (10:15/11:15) advance the watermark to
    09:15; no window finalized yet. Run 2: a 05:00 straggler arrives
    — below the restored watermark, dropped. Run 3: a 14:15 event
    pushes the watermark to 12:15, finalizing windows 10 and 11.
    If the straggler had been accepted, window 05 would finalize too;
    its absence proves the drop."""
    import os

    from hivetomysql_spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "late_src")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src, exist_ok=True)

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).selectExpr(
            "event_id", "cast(ts_s as timestamp) ts", "user_id",
            "event_type", "value", "props",
        )

    on_time = mk(
        [(i, f"2024-01-01 {10 + i % 2}:15:00", 1, "click", 1.0, "{}")
         for i in range(8)]
    )
    straggler = mk([(100, "2024-01-01 05:00:00", 1, "click", 1.0, "{}")])
    closer = mk([(200, "2024-01-01 14:15:00", 1, "click", 1.0, "{}")])
    schema = on_time.schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            tumbling_counts(stream)  # 1h windows, 2h watermark
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for batch in (on_time, straggler, closer):
        batch.write.mode("append").parquet(src)
        run_once()

    got = {
        r.window_start.hour: r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert got == {10: 4, 11: 4}, got


def test_stream_stream_left_outer_join_equals_batch(spark, events_dir):
    """LEFT OUTER stream-stream join: unmatched clicks emit only once
    the watermark proves no purchase can arrive, so near the end of a
    finite stream trailing unmatched clicks are withheld. Assert:
    (a) every streamed row appears in the batch result, (b) on the
    watermark-CLOSED region (click_ts + window + delay < final
    watermark ~ max event ts - delay) the two agree exactly."""
    import pyspark.sql.functions as F

    from hivetomysql_spark.streaming.windows import click_purchase_join_outer

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = click_purchase_join_outer(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ss_ljoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM t_ss_ljoin").collect()
    ev = spark.read.parquet(events_dir)
    batch = click_purchase_join_outer(ev).collect()
    key = lambda r: (r.click_id, r.purchase_id)  # noqa: E731
    b = {key(r): r for r in batch}
    s = {key(r): r for r in streamed}
    # (a) streamed subset of batch with identical payloads
    for k, r in s.items():
        assert k in b
        assert b[k].lag_us == r.lag_us and b[k].converted == r.converted
    # (b) exact agreement on the watermark-closed region
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    final_wm_us = max_us - 2 * 3600 * 1_000_000  # 2h delay
    # minus the 1h window, minus 2h slack: unmatched-row emission may
    # lag the theoretical watermark by a micro-batch's progression
    # (state eviction happens with the PREVIOUS batch's watermark),
    # so the practical boundary is fuzzy by up to one batch span
    closed_cutoff = final_wm_us - 3600 * 1_000_000 - 2 * 3600 * 1_000_000
    clicks_us = {
        r.event_id: r.us
        for r in ev.where("event_type = 'click'")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    closed_b = {k for k in b if clicks_us[k[0]] < closed_cutoff}
    closed_s = {k for k in s if clicks_us[k[0]] < closed_cutoff}
    assert closed_b == closed_s
    assert closed_b  # the region is non-trivial
    # the matched (inner) rows emit regardless of watermark closure
    assert {k for k in b if k[1] is not None} == {
        k for k in s if k[1] is not None
    }
    # anything withheld is a small unmatched tail
    missing = set(b) - set(s)
    assert all(k[1] is None for k in missing)
    assert len(missing) <= max(2, len(b) // 50)


def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path, sf_dir):
    """Checkpointed restart is exactly-once: run a stateful
    aggregation over batch 1, STOP the query, append batch 2 files,
    restart from the same checkpoint — the final totals must equal
    one batch pass over everything (batch-1 rows counted once, never
    reprocessed). This is the property that makes a production
    stream resumable after a crash/deploy."""
    import pyspark.sql.functions as F

    from hivetomysql_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    half1 = ev.where("event_id % 2 = 0")
    half2 = ev.where("event_id % 2 = 1")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half1.write.parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once(qname):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("t_ck1")
    # second tranche lands AFTER the first run committed
    half2.write.mode("append").parquet(src)
    run_once("t_ck2")

    streamed = {
        r.user_id: (r.n, r.total)
        for r in spark.sql("SELECT * FROM t_ck2").collect()
    }
    batch = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    }
    assert streamed == batch
    # and the restart genuinely resumed rather than recomputed:
    # checkpoint offsets advanced past the first run's commit
    import os

    assert os.path.isdir(ckpt)
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert len(commits) >= 2


def test_timer_sessionizer_exact_closed_sessions(spark, sf_dir, tmp_path):
    """Event-time-timer gap sessionization (transformWithStateInPandas
    timers + ValueState): streaming over 5 in-order time slices must
    emit EXACTLY the Python-computed 30-min-gap sessions, minus only
    trailing sessions still open when the stream ends (no watermark
    ever passes their expiry)."""
    import datetime
    import time as _time
    from itertools import groupby

    import pytest

    from hivetomysql_spark.streaming.typed_state import (
        SESSION_GAP_MS,
        timer_sessions_stream,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf absent - transformWithState cannot run")
    out = str(tmp_path / "ev_slices")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span = (b.hi - b.lo) / 5
    for k in range(5):
        a = b.lo + k * span
        e = b.lo + (k + 1) * span if k < 4 else b.hi + datetime.timedelta(seconds=1)
        ev.where((F.col("ts") >= a) & (F.col("ts") < e)).coalesce(1).write.mode(
            "append"
        ).parquet(out)
        _time.sleep(1.1)  # file mtimes order the micro-batches
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(out).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(out)
        )
        q = (
            timer_sessions_stream(stream)
            .writeStream.format("memory")
            .queryName("t_timer_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        fired = {
            (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in spark.sql("SELECT * FROM t_timer_sessions").collect()
        }
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)

    rows = sorted(
        (r.user_id, r.ts)
        for r in ev.select("user_id", F.unix_micros("ts").alias("ts")).collect()
    )
    gap_us = SESSION_GAP_MS * 1000
    exact = set()
    for uid, grp in groupby(rows, key=lambda x: x[0]):
        tss = sorted(t for _, t in grp)
        s = last = tss[0]
        n = 1
        for t in tss[1:]:
            if t - last <= gap_us:
                last, n = t, n + 1
            else:
                exact.add((uid, s, last, n))
                s = last = t
                n = 1
        exact.add((uid, s, last, n))

    assert fired <= exact  # every fired session is a true session
    missing = exact - fired
    # only trailing sessions (open at stream end) may be unfired
    final_cut = int((b.lo + 4 * span).timestamp() * 1e6)
    assert all(last >= final_cut - gap_us for (_, _, last, _) in missing), missing
    assert len(fired) >= len(exact) * 0.8  # the bulk of sessions closed


def test_recent_events_liststate_matches_batch_twin(spark, sf_dir, tmp_path):
    """ListState last-N tracker: after streaming in-order time slices,
    each user's freshest emitted feature row must equal the batch twin
    (top-N by event time over the whole input)."""
    import datetime
    import time as _time

    import pytest

    from hivetomysql_spark.streaming.typed_state import (
        recent_events_batch,
        recent_events_stream,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf absent - transformWithState cannot run")
    out = str(tmp_path / "ev_recent")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span = (b.hi - b.lo) / 4
    for k in range(4):
        a = b.lo + k * span
        e = b.lo + (k + 1) * span if k < 3 else b.hi + datetime.timedelta(seconds=1)
        ev.where((F.col("ts") >= a) & (F.col("ts") < e)).coalesce(1).write.mode(
            "append"
        ).parquet(out)
        _time.sleep(1.1)
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(out).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(out)
        )
        q = (
            recent_events_stream(stream)
            .writeStream.format("memory")
            .queryName("t_recent")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        final = {
            r.user_id: (r.n, r.s)
            for r in spark.sql(
                "SELECT user_id, max_by(n_recent, last_ts_us) AS n,"
                " max_by(recent_sum_cents, last_ts_us) AS s"
                " FROM t_recent GROUP BY user_id"
            ).collect()
        }
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
    twin = {
        r.user_id: (r.n_recent, r.recent_sum_cents)
        for r in recent_events_batch(ev).collect()
    }
    assert final == twin


def test_write_stream_to_jdbc_loads_every_microbatch(spark, tmp_path, monkeypatch):
    """``write_stream_to_jdbc`` sends each microbatch through the batch
    JDBC sink: two files, one per trigger, land in a Derby target (the
    sink's dialect arguments bound to Derby's, its call unchanged)."""
    import functools

    from hivetomysql_spark.config import DumpConf
    from hivetomysql_spark.sinks import jdbc
    from hivetomysql_spark.sources import read_jdbc
    from hivetomysql_spark.streaming.windows import write_stream_to_jdbc

    url = f"jdbc:derby:{tmp_path}/streamdb;create=true"
    monkeypatch.setattr(jdbc, "write_jdbc", functools.partial(
        jdbc.write_jdbc, url=url, url_params=None, ident_quote='"',
        create_table_column_types="val VARCHAR(20), ds VARCHAR(20)",
    ))
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"val": "a", "ds": "1"}\n{"val": "b", "ds": "1"}\n')
    (src / "b.json").write_text('{"val": "c", "ds": "2"}\n')
    stream = (
        spark.readStream.schema("val string, ds string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    conf = DumpConf.from_text("mysql_table=app_stream\n")
    q = (
        write_stream_to_jdbc(stream, conf, None, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert q.lastProgress["batchId"] == 1  # one microbatch per file
    rows = sorted((r.val, r.ds) for r in read_jdbc(spark, url, "app_stream").collect())
    assert rows == [("a", "1"), ("b", "1"), ("c", "2")]
