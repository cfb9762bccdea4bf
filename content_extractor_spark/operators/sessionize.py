"""Gap-based sessionization over an event stream/table.

Classic log-analytics operator a training-data pipeline needs for
behavioral corpora: group each user's events into sessions separated by
inactivity gaps > `gap_minutes`. Expressed entirely with window
functions (lag + running sum of session-start flags), so it is one
shuffle on the user key and stays in whole-stage codegen.

Scale notes:
  * the only shuffle is partitionBy(user) — uniform unless one user id
    dominates; for bot-heavy logs pre-split such ids (operators/skew.py)
    or sessionize them separately;
  * at 10^12 events, partition the table by days(ts) so the window only
    sorts within (user, day-range) scan splits after pushdown;
  * Structured Streaming's native ``session_window`` aggregate is the
    streaming twin of this batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Append a per-user `session_idx` (1-based) to every
    (user_id, ts, event_id) event.

    A new session starts at the first event and whenever the gap to the
    previous event exceeds `gap_minutes`. Deterministic ordering via
    (ts, event_id).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_ts = F.lag(F.col("ts")).over(w)
    # NTZ timestamps can't cast straight to long; go via timestamp —
    # any session-zone shift cancels in the difference
    as_sec = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    gap_sec = as_sec(F.col("ts")) - as_sec(prev_ts)
    # two window steps (Spark forbids nesting lag inside the running
    # sum); both share the same partitioning, so Catalyst plans ONE
    # exchange + one sort for the pair
    flagged = events.withColumn(
        "_is_start",
        (prev_ts.isNull() | (gap_sec > gap_minutes * 60)).cast("int"),
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn(
        "session_idx", F.sum("_is_start").over(running)
    ).drop("_is_start")


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """One row per (user_id, session): event count + start/end ts."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
