"""Event-stream relation builders shared by the query modules and the
streaming layer.

- ``sessionize``: the gap sessionization every session-grain query
  starts from (per-user lag + running sum, one user_id shuffle).
- ``tumbling_hour_totals``: the 1-hour tumbling (count, value sum)
  aggregate of the batch query and its streaming twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(ev: DataFrame, gap_us: int, *cols: str) -> DataFrame:
    """Events (user_id, ts, event_id, ``cols``) with ``sid``, the
    per-user session index: a new session starts at a user's first
    event and wherever the gap to the previous event (ordered by ts,
    event_id) is at least ``gap_us`` microseconds. Also carries the
    ``prev_ts`` and ``new_s`` helper columns."""
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id", "ts", "event_id", *cols, F.lag("ts").over(uw).alias("prev_ts")
    ).withColumn(
        "new_s",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev_ts") >= gap_us),
            1,
        ).otherwise(0),
    )
    return m.withColumn(
        "sid",
        F.sum("new_s").over(
            uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def tumbling_hour_totals(ev: DataFrame) -> DataFrame:
    """(window_start, event_type, n, total_value) over 1-hour tumbling
    event-time windows; ``ev`` is the batch events relation or the
    watermarked stream."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
