"""Structured Streaming layer: the paginated-connection source's
incremental variant, the streaming reconciler, and the event-time and
stateful operators behind the catalog's ``stream_*`` entries. Every
name exported here has a caller in the catalog; ``dedup_stream`` and
``graphql_stream`` are imported by module."""

from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler
from graphql_api_etl_spark.streaming.stateful import threshold_crossing_events
from graphql_api_etl_spark.streaming.windows import interval_join, sessionized, windowed_counts

__all__ = [
    "IncrementalReconciler",
    "interval_join",
    "sessionized",
    "threshold_crossing_events",
    "windowed_counts",
]
