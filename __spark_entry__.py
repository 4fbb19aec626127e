"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship reconciliation query at sf0.001;
``queries()`` exposes the full operator catalog (one entry per
implemented operator family from SURVEY.md §2, plus the LLM-pipeline
extensions); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
the differential correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphql_api_etl_spark.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = QUERIES["flagship_reconcile"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query. Callable oracles are built
    lazily here (they embed data-derived literals — e.g. the IVF
    oracle's trained centroids). A callable that fails to build must
    cost only ITS entry (omitted → that one records no_oracle), never
    the whole gate."""
    out: dict[str, str] = {}
    for name, (_, oracle) in QUERIES.items():
        if oracle is None:
            continue
        if callable(oracle):
            try:
                out[name] = oracle()
            except Exception:  # noqa: BLE001 — degrade to a single-entry miss
                continue
        else:
            out[name] = oracle
    return out
