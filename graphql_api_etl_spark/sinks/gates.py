"""Validation gates (reference V1–V5): named checks that either raise
(hard gate) or warn (soft gate), each optionally writing its evidence
frame as a CSV report first — exactly the reference's pattern of
"write the unmatched rows, then abort/warn" (ETL:817–827, 519–524).

Without a count, a gate costs one ``isEmpty``-style action (limit-1
probe), not a full count, so guarding is cheap even on huge frames,
plus the CSV write when it fires. ``warn_if_nonempty`` also takes the
caller's row count when it already has one (the weekly sync counts
every merge slice in one aggregate): then an empty slice costs no
action at all and a non-empty one only its CSV write.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from graphql_api_etl_spark.sinks.reports import write_csv_report


class ValidationError(RuntimeError):
    pass


def _nonempty(df: DataFrame) -> bool:
    return not df.isEmpty()


def require_nonempty(df: DataFrame, name: str) -> None:
    """V2 precondition (abort if the API returned zero locations,
    ETL:51–52)."""
    if not _nonempty(df):
        raise ValidationError(f"{name}: expected non-empty result")


def require_empty(df: DataFrame, name: str, report_path: str | None = None) -> None:
    """V4 hard gate (unmatched file users: write CSV then raise,
    ETL:817–827)."""
    if _nonempty(df):
        where = ""
        if report_path:
            write_csv_report(df, report_path)
            where = f" (evidence: {report_path})"
        raise ValidationError(f"{name}: expected empty, found violations{where}")


def warn_if_nonempty(
    df: DataFrame, name: str, report_path: str | None = None, count: int | None = None
) -> bool:
    """V3/V5 soft gate (deprecated locations, outdated districts,
    user-less hierarchies — CSV + warning, ETL:519–524, 556–561,
    860–870). Returns True if violations were found. A given ``count``
    (rows of ``df``) replaces the probe."""
    found = _nonempty(df) if count is None else count > 0
    if found:
        if report_path:
            write_csv_report(df, report_path)
        warnings.warn(f"{name}: violations found" + (f" (report: {report_path})" if report_path else ""), stacklevel=2)
        return True
    return False
