"""Structured Streaming extension — SURVEY.md §2.10 / M4.

The reference has NO streaming operators (its "streams" are Volcano
pull-streams, reference src/main.rs:69,106); this module is the
north-star extension: event-time processing over the `events` fixture
with watermarks, tumbling windows, session windows, and stateful
dedup.

Each declared query runs a real StreamingQuery: file-source
readStream over the fixture parquet (explicit schema — streaming
sources require one), event-time watermark, windowed aggregation,
memory sink, `processAllAvailable()` to drain, then returns the sink
table. Rows-only checks (†): the batch-equivalent window aggregations
with exact DuckDB oracles are q_evt_tumble / q_evt_session
(queries/events.py).

Scale notes (real deployment): the file source becomes Kafka; the
memory sink becomes a parquet/Delta sink with checkpointing. Watermark
delay bounds state size — state store holds only windows newer than
(max event time − delay). maxFilesPerTrigger bounds per-batch work.
applyInPandasWithState state is per-key and dropped on timeout — the
pattern scales horizontally with key cardinality, not event count.
"""

from __future__ import annotations

import uuid

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.streaming.events_source import (  # noqa: F401
    _EVENT_SCHEMA_NS,
    _EVENT_SCHEMA_TS,
    _events_streaming,
    _events_ts_is_ns_long,
)

# _events_streaming + the ts-unit footer probe live in
# events_source.py (r5: shared with stream_sink.py); re-exported for
# the tests that import them here.


from datafusion_tpc_spark.streaming.events_source import drain as _drain  # noqa: E402


@query("q_stream_tumble")  # † rows-only: streaming run
def q_stream_tumble(spark, sf_dir):
    """Tumbling 1-hour window aggregation with a 30-minute watermark —
    the streaming twin of q_evt_tumble (which carries the exact
    oracle). Append mode: only watermark-closed windows emit."""
    ev = _events_streaming(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "avg_value",
        )
    )
    return _drain(agg, spark, "stream_tumble")


@query("q_stream_session")  # † rows-only: streaming run
def q_stream_session(spark, sf_dir):
    """Session windows (30-minute gap) per user with watermark — the
    streaming twin of q_evt_session."""
    ev = _events_streaming(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _drain(agg, spark, "stream_session")


@query("q_stream_dedup")  # † rows-only: streaming run
def q_stream_dedup(spark, sf_dir):
    """Stateful streaming deduplication — dropDuplicates on
    (event_id) within the watermark horizon. State is bounded by the
    watermark: ids older than max(ts)−delay are evicted."""
    ev = _events_streaming(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return _drain(deduped, spark, "stream_dedup")


@query("q_stream_stateful")  # † rows-only: custom stateful operator
def q_stream_stateful(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState — running
    per-user event count + running value sum, emitted per micro-batch.
    This is the Spark-idiomatic slot for operators neither SQL nor
    built-in streaming provides (SURVEY §7/M4)."""
    ev = _events_streaming(spark, sf_dir).select("user_id", "value")

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def track(key, batches, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    name = f"stream_stateful_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update-mode sink may hold several versions per key — keep the
    # LAST version as a unit: the row with the maximal n_events
    # (monotone across micro-batches). Independent per-column maxes
    # would be wrong for total_value, which is a running SUM and only
    # monotone while event values are non-negative.
    sink = spark.table(name)
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@query("q_stream_join")  # † rows-only: streaming run
def q_stream_join(spark, sf_dir):
    """Stream-stream interval join: click events joined to the same
    user's purchase events landing within the following hour — the
    attribution-window pattern. Both sides carry watermarks so the
    state store can evict: a buffered click is dropped once the
    purchase-side watermark passes click_ts + 1h (Spark derives the
    retention bound from the join condition), so state is bounded by
    the interval x arrival rate, not the stream length.

    Scale: the join keys on user_id — state and compute shard by key
    across executors; the time-range residual is evaluated within
    each key's buffered rows. tests/test_streaming.py checks the
    result against the batch interval join of the same fixture."""
    clicks = (
        _events_streaming(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_streaming(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _drain(joined, spark, "stream_join")


@query("q_stream_hop")  # † rows-only: streaming run
def q_stream_hop(spark, sf_dir):
    """Streaming sliding window: the watermarked twin of q_evt_hop
    (1-hour windows every 15 minutes). State holds 4 open windows per
    (window, event_type) group at a time; the 1-hour watermark closes
    a window when event time passes window_end + delay, so state is
    bounded by overlap × key cardinality, independent of stream
    length."""
    ev = _events_streaming(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, spark, "stream_hop")
