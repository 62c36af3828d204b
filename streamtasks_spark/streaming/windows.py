"""Native watermarked window aggregations — the streaming twins of the
relational tier's event-time aggregates (relational/queries.py
events_hourly_stats / events_session_windows).

Unlike the stateful.py twins (custom per-key state machines needing
applyInPandasWithState), these are pure built-in Structured Streaming:
``withWatermark`` bounds state, ``F.window``/``F.session_window`` do the
grouping, and append mode emits each window exactly once when the
watermark passes its end. State shards by (window, key) across the
cluster; the watermark delay is the only memory knob — at 100 TB the
state store holds (active windows × keys) rows regardless of input
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamtasks_spark.core.timeutil import ensure_event_time


def streaming_hourly_stats(
    events: DataFrame,
    *,
    ts: str = "ts",
    key: str = "event_type",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``events_hourly_stats``: tumbling 1-hour
    event-time windows, emitted once closed. Output columns match the
    batch query (window start renamed ``hour``)."""
    events = ensure_event_time(events, ts)
    # integer micro-unit sums, same formula as the batch twin (see
    # events_hourly_stats: ulp-exact across engines and agg orders);
    # DECIMAL(38,0) accumulator like the batch twin — per-window row
    # counts grow with event rate, and a BIGINT sum of 1e-6-unit terms
    # overflows at scale (fatal under ANSI, silent wrap without)
    q = F.expr("cast(floor(value * 1000000) as bigint)")
    return (
        events.withWatermark(ts, watermark_delay)
        .groupBy(F.window(F.col(ts), "1 hour"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(q.cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            F.col("window.start").alias("hour"),
            key,
            "n_events",
            F.expr(
                "cast((__s + 50) div 100 as double) / 10000.0"
            ).alias("sum_value"),
            F.expr(
                "cast((__s + n_events * 50) div (n_events * 100) as double)"
                " / 10000.0"
            ).alias("avg_value"),
        )
    )


def streaming_sliding_stats(
    events: DataFrame,
    *,
    ts: str = "ts",
    key: str = "event_type",
    watermark_delay: str = "3 hours",
) -> DataFrame:
    """Streaming twin of ``events_sliding_stats``: 2-hour windows
    sliding by 1 hour. Each event updates width/slide = 2 window states;
    append mode emits each window once its END passes the watermark, so
    the delay must cover the window width plus allowed lateness."""
    events = ensure_event_time(events, ts)
    # integer micro-unit sums, same formula as the batch twin, with
    # the same DECIMAL(38,0) accumulator (per-window row counts grow
    # with event rate)
    q = F.expr("cast(floor(value * 1000000) as bigint)")
    return (
        events.withWatermark(ts, watermark_delay)
        .groupBy(F.window(F.col(ts), "2 hours", "1 hour"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(q.cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key,
            "n_events",
            F.expr(
                "cast((__s + 50) div 100 as double) / 10000.0"
            ).alias("sum_value"),
        )
    )


def streaming_session_stats(
    events: DataFrame,
    *,
    ts: str = "ts",
    key: str = "user_id",
    gap_minutes: int = 30,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``events_session_windows``: gap-based session
    windows per key via the native ``session_window`` — sessions merge
    across micro-batches while open and emit once the watermark passes
    the gap."""
    events = ensure_event_time(events, ts)
    return (
        events.withWatermark(ts, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts), f"{gap_minutes} minutes"),
            F.col(key),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # cent-exact like the batch twin: 2-dp values sum as exact
            # BIGINTs, so micro-batch boundaries can't drift the double
            # sum against the batch result
            (
                F.sum(
                    F.expr("cast(floor(value * 100 + 0.5) as bigint)")
                ).cast("double")
                / 100.0
            ).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key,
            "n_events",
            "sum_value",
        )
    )
