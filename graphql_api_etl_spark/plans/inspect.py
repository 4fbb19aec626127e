"""Physical-plan inspection helpers.

The engine's performance contract is stated in terms of plan shape —
"filters reach the scan", "dim joins broadcast", "no Python in the hot
path" (SURVEY.md §4) — so those properties are asserted in tests
rather than hoped for. Everything reads the *executed* plan string
(post-AQE), the same text ``df.explain("formatted")`` prints.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Formatted explain string with untruncated scan metadata (the
    default toString clips PushedFilters/ReadSchema at 100 chars)."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", executed_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (column-pruning check)."""
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", executed_plan(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        scans.append(cols)
    return scans


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def has_python_eval(df: DataFrame) -> bool:
    """True if any Python-side evaluation (row UDF / pandas UDF /
    mapInPandas) appears in the plan — the slow path the engine's
    native operators must avoid (allowed only in multimodal)."""
    plan = executed_plan(df)
    return any(tok in plan for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"))
