"""Event-stream operators over `events(event_id, ts, user_id, event_type, value)`.

Batch expressions of the standard streaming shapes (the reference is
batch-only, SURVEY.md §2h; these are the Structured-Streaming-ready
forms — swap `read` for `readStream` + watermark and they run as-is):

* tumbling-window aggregation (F.window == date_trunc bucketing)
* gap-based sessionization (lag + cumulative sum over an ordered
  per-user window — one shuffle on user_id)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WINDOW_MINUTES = 60  # tumbling-window width
SESSION_GAP_MINUTES = 30  # idle gap that starts a new session


def tumbling_counts(events: DataFrame) -> DataFrame:
    """(event_type, window_start, n_events, sum_value) per tumbling window."""
    return (
        events.groupBy(
            "event_type", F.window("ts", f"{WINDOW_MINUTES} minutes").alias("w")
        )
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """(user_id, session_idx, n_events, session_start): gap sessions.

    A new session starts when the gap to the previous event of the same
    user exceeds ``SESSION_GAP_MINUTES``. lag + conditional cumsum over the
    per-user time order — the batch twin of
    applyInPandasWithState/session_window.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microseconds, not whole seconds: a 1,800.5 s gap exceeds 30 minutes
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    with_breaks = events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    with_sessions = with_breaks.withColumn(
        "session_idx", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int")
    )
    return (
        with_sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )
