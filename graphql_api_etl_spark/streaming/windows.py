"""Streaming event-time operators: the windowed aggregate, the session
aggregate and the interval join behind the catalog's ``stream_*``
entries (engine-native extension; the reference has no streaming
constructs — SURVEY.md §2.10).

Each operator is written against an unbounded DataFrame and works
identically on a bounded one. The catalog entries in queries_stream.py
run them through a file-stream source with an ``availableNow`` trigger
into a memory sink and compare the sink with batch SQL over the same
parquet; they choose only the source, the sink mode and the final
projection.

Every operator carries a one-hour event-time watermark. It bounds the
state: the window and session stores keep only watermark-depth groups
per key, and the join buffers a row only until the other side's
watermark passes its join horizon.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "1 hour"


def _counts(events: DataFrame, window, keys: Sequence[str]) -> DataFrame:
    """Watermarked count + value sum per (window, *keys), with the
    window struct kept as ``w``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(window.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def windowed_counts(events: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One-hour tumbling-window aggregate: count + value sum per
    (window, *keys). A window closes (append mode emits it) once the
    watermark reaches its end."""
    return _counts(events, F.window("ts", "1 hour"), keys).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        "n_events",
        "total_value",
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Per-user session aggregate with a 30-minute inactivity gap
    (``session_window`` — the streaming-native equivalent of the batch
    lag+cumsum sessionizer in queries.events_sessionize). An event at
    exactly ``last + gap`` opens a new session."""
    return _counts(events, F.session_window("ts", "30 minutes"), ["user_id"]).select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "user_id",
        "n_events",
        "total_value",
    )


def interval_join(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """Event-time stream-stream interval join of two event frames
    (``event_id``, ``user_id``, ``ts``): a right event pairs with every
    left event of the same user in the hour before it,
    ``l_ts < r_ts <= l_ts + 1 hour``. Output columns are ``l_event``,
    ``l_user``, ``l_ts`` and ``r_event``, ``r_user``, ``r_ts``.

    ``how`` is ``inner``, ``leftOuter`` or ``fullOuter``. An outer side
    emits its unmatched row with nulls only when the global watermark
    (the smaller side's) passes the row's join horizon: ``l_ts + 1
    hour`` for a left row, ``r_ts`` for a right row. The watermarks
    together with the time bound let the engine expire buffered rows,
    so join state is bounded by key cardinality × interval depth,
    never by the stream length."""
    l = left.select(
        F.col("event_id").alias("l_event"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", WATERMARK)
    r = right.select(
        F.col("event_id").alias("r_event"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", WATERMARK)
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
