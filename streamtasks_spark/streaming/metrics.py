"""Deployment monitoring — the reference's task-status surface
(system/task_web.py:318-380 serves per-task status + metrics to the
dashboard; examples/profiler.py samples a running deployment), rebuilt
on Structured Streaming's own instrumentation.

A :class:`QueryMetricsListener` subscribes to the session's streaming
progress events and keeps a bounded in-driver ring of per-micro-batch
metric rows; :func:`metrics_df` turns the ring into a DataFrame so the
monitoring surface is queryable with the same engine it monitors
(rates over time, per-query health, state-store growth). This stays
driver-side by design — progress events are one row per micro-batch
per query, O(queries), never O(data).

Usage::

    listener = attach_metrics(spark)
    ... start pipelines, let them run ...
    metrics_df(spark, listener).groupBy("query_name").agg(...)
    detach_metrics(spark, listener)
"""

from __future__ import annotations

from collections import deque
from threading import Lock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from streamtasks_spark.session import local_frame

# the engine's per-trigger phases (``progress.durationMs``), one
# ``<phase>_ms`` column each; a phase a trigger did not run reads 0
PHASES = (
    "addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
    "commitOffsets",
)

METRICS_SCHEMA = (
    "query_name string, query_id string, batch_id long, ts string, "
    "num_input_rows long, input_rows_per_sec double, "
    "processed_rows_per_sec double, batch_duration_ms long, "
    "state_rows long, state_bytes long, "
    + ", ".join(f"{ph}_ms long" for ph in PHASES)
)


class QueryMetricsListener(StreamingQueryListener):
    """Collects one metrics row per (query, micro-batch) progress event
    into a bounded ring buffer (oldest evicted — a monitoring tail,
    not an unbounded log)."""

    def __init__(self, capacity: int = 4096):
        self._rows: deque = deque(maxlen=capacity)
        self._lock = Lock()

    # -- StreamingQueryListener interface (PySpark delivers these on a
    # -- dedicated listener-bus thread)
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = 0
        state_bytes = 0
        for op in p.stateOperators or []:
            state_rows += op.numRowsTotal or 0
            state_bytes += op.memoryUsedBytes or 0
        dur = p.durationMs or {}
        row = (
            p.name,
            str(p.id),
            p.batchId,
            p.timestamp,
            p.numInputRows or 0,
            float(p.inputRowsPerSecond or 0.0),
            float(p.processedRowsPerSecond or 0.0),
            dur.get("triggerExecution", 0),
            state_rows,
            state_bytes,
            *(dur.get(ph, 0) for ph in PHASES),
        )
        with self._lock:
            self._rows.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> list[tuple]:
        with self._lock:
            return list(self._rows)


def attach_metrics(
    spark: SparkSession, *, capacity: int = 4096
) -> QueryMetricsListener:
    """Subscribe a fresh metrics listener to the session's streams."""
    listener = QueryMetricsListener(capacity=capacity)
    spark.streams.addListener(listener)
    return listener


def detach_metrics(spark: SparkSession, listener: QueryMetricsListener) -> None:
    spark.streams.removeListener(listener)


def metrics_df(spark: SparkSession, listener: QueryMetricsListener) -> DataFrame:
    """The collected monitoring tail as a queryable DataFrame (a JVM
    local relation: no Python worker runs)."""
    return local_frame(spark, listener.snapshot(), METRICS_SCHEMA)
