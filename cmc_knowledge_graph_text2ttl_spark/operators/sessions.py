"""Batch sessionization — gap-based session windows over an event table.

The streaming module sessionizes with ``applyInPandasWithState``; this is
the batch counterpart, expressed relationally so Catalyst plans it:

    new_session = ts - lag(ts) > gap     (per user, ordered by ts)
    session_no  = running sum of new_session

One window pass + one aggregation; both shuffle on ``user_id`` only —
the second reuses the first's partitioning (no extra exchange). Events
with identical timestamps always land in the same session regardless of
tie order, so the result is deterministic without a tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame) -> DataFrame:
    """(user_id, ts) events → one row per (user, session): bounds and counts.
    A gap of more than 30 minutes starts a new session.

    Output: (user_id, session_no, session_start, session_end, n_events)
    with ``session_no`` 1-based per user in time order.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    # interval comparison works for both TIMESTAMP and TIMESTAMP_NTZ
    gap = F.expr("INTERVAL 30 MINUTES")
    new_session = F.when(
        prev.isNull() | ((F.col("ts") - prev) > gap), 1
    ).otherwise(0)
    numbered = events.withColumn(
        "session_no",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
