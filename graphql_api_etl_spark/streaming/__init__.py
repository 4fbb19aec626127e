"""Structured Streaming layer: the paginated-connection source's
incremental variant, windowed/sessionized event aggregation, and
stateful helpers."""

from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler
from graphql_api_etl_spark.streaming.stateful import threshold_alerts
from graphql_api_etl_spark.streaming.windows import windowed_counts, sessionized

__all__ = [
    "IncrementalReconciler",
    "threshold_alerts",
    "windowed_counts",
    "sessionized",
]
