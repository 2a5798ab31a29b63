"""Streaming sessionization — Spark-native ``session_window`` with an
event-time watermark.

The batch twin (``operators/sessionize.py``) splits each user's
timeline at inactivity gaps with lag/running-sum windows; on a live
stream the same semantics are a first-class Structured Streaming
aggregation: ``groupBy(session_window(ts, gap), user)``.  The state
store holds ONE open window per (user, active session); adjacent
windows merge as events arrive (including across micro-batches), and
append mode emits a session exactly once — when the watermark passes
its end, i.e. once no in-horizon event can extend it.  This is the
reference's T3/T7 (event-time windows + late-data grace) at session
granularity, which the reference itself never had.

Boundary convention: Spark's session window is half-open
``[first, last + gap)``, so an event arriving EXACTLY ``gap`` after
the previous one starts a new session; the batch operator's
``gap > gap_us`` test keeps it in the old session.  Differential
tests therefore avoid exact-boundary gaps; at any other spacing the
two paths agree.

Scale shape: state is keyed by (user, window) — sharded across the
state store like every keyed operator here, bounded by ACTIVE
sessions only (closed sessions are evicted with the watermark), and
the aggregation is map-side combinable before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["session_stats_stream"]


def session_stats_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-user session aggregates on a live ``(user_id, ts, value)``
    stream: ``(user_id, session_start, session_end, n_events,
    sum_value)``, one appended row per CLOSED session
    (watermark-finalized)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
