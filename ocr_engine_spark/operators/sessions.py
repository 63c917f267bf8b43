"""Sessionization — gap-based session assignment over an event
stream, the standard precursor to funnel/engagement analytics (and, in
a training-data pipeline, to conversation-boundary inference over raw
event logs).

An event starts a new session when it is its key's first event or
arrives more than ``gap`` after the previous one; the session index is
the running count of session starts. Batch shape: ONE exchange on the
key, two expressions over one running window (lag + cumulative sum) —
no self-join, no explode. (Structured Streaming's native
``session_window`` is the streaming twin; the batch form here is
oracle-checkable and drives the per-session stats.)

Scale: per-key partitions stream through WindowExec; a pathologically
hot key concentrates one task, and UNLIKE the extraction case it
cannot be salted directly (sessions span salt boundaries) — the
production mitigation is coarse time-range pre-partitioning with
boundary-session merge, noted here for honesty; at typical web scale
per-user event counts are bounded and the plain window holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_session_idx(events: DataFrame, gap_s: int, key: str, ts: str,
                      id_col: str, *carry: str) -> DataFrame:
    """The gap-session rule, the Spark twin of
    ``catalog._gap_sessions_sql``: (id, key, ``carry``..., _tus,
    session_idx), where _tus is ``ts`` in epoch µs (it orders
    identically to ``ts`` at µs precision) and session_idx is the
    running count of session starts over (_tus, id)."""
    base = events.select(
        F.col(id_col), F.col(key), *carry,
        F.unix_micros(F.col(ts).cast("timestamp")).alias("_tus"),
    )
    w = Window.partitionBy(key).orderBy("_tus", id_col)
    prev = F.lag("_tus").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("_tus") - prev > gap_s * 1_000_000), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return base.withColumn("_new", new_s).select(
        id_col, key, *carry, "_tus",
        F.sum("_new").over(run).cast("long").alias("session_idx"),
    )


def sessionize(events: DataFrame, gap_s: int = 21600, key: str = "user_id",
               ts: str = "ts", id_col: str = "event_id") -> DataFrame:
    """Per-event session assignment: (key, session_idx) with
    session_idx 1-based in event-time order (ties by id)."""
    return _with_session_idx(events, gap_s, key, ts, id_col).select(
        id_col, key, "session_idx"
    )


def session_stats(events: DataFrame, gap_s: int = 21600) -> DataFrame:
    """Per-session aggregates of the events table: event count,
    duration (µs), value sum per (user_id, session_idx). One additional
    exchange on (user_id, session_idx) after the window —
    partial-aggregated map-side."""
    tagged = _with_session_idx(events, gap_s, "user_id", "ts", "event_id", "value")
    return tagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_tus") - F.min("_tus")).alias("duration_us"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
