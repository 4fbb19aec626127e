"""Aggregate library (reference A1–A8 + hierarchy modeling).

collect-set group-bys, distinct, boolean aggregates, count gates, and
the parent-before-child hierarchy dedup — the reference's only
order-sensitive operator, solved here by level phasing instead of row
order (SURVEY.md §7 hard part 2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_group_sets(df: DataFrame, group_col: str, value_col: str, out_col: str = "values") -> DataFrame:
    """A1 (locations per district, ETL:563–573): group-by +
    sorted collect_set. Sorting makes results deterministic for
    comparison and stable for downstream batch sinks."""
    return df.groupBy(group_col).agg(F.array_sort(F.collect_set(value_col)).alias(out_col))


def hierarchy_levels(
    df: DataFrame,
    level_cols: Sequence[str],
) -> DataFrame:
    """A4 (ETL:283–308): first-occurrence dedup per hierarchy level.

    ``level_cols = ["region", "district"]`` emits one row per distinct
    region (level 1, parent NULL) and one per distinct (region,
    district) (level 2, parent = region), with a ``level`` column.
    Parent-before-child is guaranteed by writing level 1 before level 2
    (a sink-protocol phase, not a row ordering) — ``level`` is the
    phase key.
    """
    frames = []
    for i, col in enumerate(level_cols):
        parent = F.col(level_cols[i - 1]) if i > 0 else F.lit(None).cast("string")
        frame = (
            df.select(*level_cols[: i + 1])
            .dropDuplicates(list(level_cols[: i + 1]))
            .select(
                F.col(col).alias("group_name"),
                parent.alias("parent_name"),
                F.lit(i + 1).alias("level"),
                F.lit(i == 0).alias("is_top"),
            )
        )
        frames.append(frame)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def count_gate(df: DataFrame, expected: int | None = None, name: str = "gate") -> int:
    """A5/A7/V1 (ETL:38–42): count with optional equality assertion."""
    n = df.count()
    if expected is not None and n != expected:
        raise AssertionError(f"{name}: expected {expected} rows, got {n}")
    return n


def success_accounting(status_df: DataFrame, success_col: str = "success") -> dict[str, int]:
    """A8 (ETL:706–731): success/failure tally of a mutation-status
    frame, one aggregate pass."""
    row = status_df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col(success_col), 1).otherwise(0)).alias("ok"),
    ).first()
    total, ok = int(row["total"]), int(row["ok"] or 0)
    return {"total": total, "ok": ok, "failed": total - ok}
