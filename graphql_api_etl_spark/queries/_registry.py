"""Query catalog: every operator from SURVEY.md §2 as a named query over
the driver's star schema, paired with an ANSI-SQL oracle for DuckDB.

Each entry maps a reference operator family (cites ``ETL:NNN`` ≡
``/root/reference/weekly alignments GQL API.py:NNN``) onto the driver's
tables. Conventions that make the oracle-differential hash stable:

- every computed column is aliased identically in Spark and SQL;
- double aggregates are rounded (2 decimals) on both sides;
- timestamps in outputs are formatted as strings (UTC both sides);
- collected arrays are sorted and null-free on both sides.

Catalog shape: ``QUERIES[name] = (fn, oracle)`` where ``fn`` takes
``(spark, sf_dir)`` and ``oracle`` is the DuckDB SQL string, a
zero-arg callable returning it (lazily built oracles that embed
data-derived literals, e.g. trained IVF centroids), or ``None``.
``None`` → the driver records ``err: no_oracle`` (NOT a rows-only
check — demonstrated by three rounds of CORRECTNESS files), so every
entry that can carry an oracle must.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphql_api_etl_spark.sources.registry import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = str | Callable[[], str] | None
QUERIES: dict[str, tuple[QueryFn, Oracle]] = {}


def _q(name: str, oracle: Oracle):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"catalog entry {name!r} registered twice — dict semantics would "
                "silently shadow the first definition, hiding it from the plan "
                "audit and the oracle differential"
            )
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
