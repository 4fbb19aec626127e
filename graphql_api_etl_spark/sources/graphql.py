"""Paginated Relay-style connection source (reference S3).

The reference's extract path (``fetch_data_from_graphql_api``,
ETL:178–221) is a serial cursor loop: POST, read
``pageInfo.endCursor``/``hasNextPage``, accumulate ``edges[].node``,
then ``json_normalize``. The cursor chain is inherently serial
(SURVEY.md §7 hard part 4) — each page's address is only known after
the previous page. The engine therefore isolates it:

- :func:`fetch_connection` — batch ingestion: page loop on the driver
  (the unavoidable serial part), rows parallelized into a DataFrame
  per page batch, nested structs flattened with sources.flatten (the
  S4 equivalent). Pages already landed are processed with full
  executor parallelism; only the HTTP walk is serial.
- :class:`GraphQLDataSource` — the same protocol as a registerable
  Spark Python DataSource (``spark.dataSource.register``), so
  ``spark.read.format("graphql_connection")`` works declaratively and
  the streaming variant can expose the cursor as a checkpointed offset.
- :class:`LocalPagesClient` — fixture client serving in-memory/JSON
  pages with the exact Relay envelope (pageInfo/edges/cursor,
  ETL:1005–1011); the real HTTP client is a thin adapter with the same
  ``fetch_page`` contract (observable contract of ``GQLAPI.post``,
  ETL:169–175).
"""

from __future__ import annotations

import json
import os
from typing import Any, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from graphql_api_etl_spark.sources.flatten import flatten


class ConnectionClient(Protocol):
    def fetch_page(self, after_cursor: str | None) -> dict[str, Any]:
        """Return one Relay page: {"pageInfo": {"hasNextPage": bool,
        "endCursor": str}, "edges": [{"cursor": str, "node": {...}}]}."""
        ...


class LocalPagesClient:
    """Serves a pre-built list of Relay pages (or a directory of
    page-*.json fixture files)."""

    def __init__(self, pages: list[dict[str, Any]] | None = None, directory: str | None = None):
        if pages is None:
            if directory is None:
                raise ValueError("pages or directory required")
            pages = []
            for fname in sorted(os.listdir(directory)):
                if fname.endswith(".json"):
                    with open(os.path.join(directory, fname)) as f:
                        pages.append(json.load(f))
        self.pages = pages
        self._by_cursor: dict[str | None, int] = {None: 0}
        for i, page in enumerate(pages[:-1]):
            self._by_cursor[page["pageInfo"]["endCursor"]] = i + 1

    def fetch_page(self, after_cursor: str | None) -> dict[str, Any]:
        idx = self._by_cursor.get(after_cursor)
        if idx is None or idx >= len(self.pages):
            return {"pageInfo": {"hasNextPage": False, "endCursor": None}, "edges": []}
        return self.pages[idx]


def walk_pages(client: ConnectionClient, max_pages: int = 100_000) -> list[dict[str, Any]]:
    """The serial cursor loop (ETL:194–210), isolated: returns raw
    node dicts. Driver-side by necessity; bounded by max_pages. Never
    truncates silently: a partial connection would make the reconcile
    report real locations as missing, so hitting ``max_pages`` with
    ``hasNextPage`` still true, or an ``endCursor`` the server already
    returned (a cursor loop), raises instead."""
    nodes: list[dict[str, Any]] = []
    cursor: str | None = None
    seen: set[str | None] = {None}
    for _ in range(max_pages):
        page = client.fetch_page(cursor)
        nodes.extend(edge["node"] for edge in page.get("edges", []))
        info = page.get("pageInfo", {})
        if not info.get("hasNextPage"):
            return nodes
        cursor = info.get("endCursor")
        if cursor in seen:
            raise RuntimeError(f"connection cursor loop: endCursor {cursor!r} returned twice")
        seen.add(cursor)
    raise RuntimeError(f"connection truncated: hasNextPage still true after max_pages={max_pages}")


def fetch_connection(
    spark: SparkSession,
    client: ConnectionClient,
    schema: T.StructType,
    flatten_sep: str = "_",
) -> DataFrame:
    """Batch-extract a whole connection into a flattened DataFrame
    (S3 + S4). ``schema`` describes the node struct (declared, not
    inferred — SURVEY §1.3); nested structs come back flattened as
    ``parent_child`` columns like ``json_normalize(sep="_")``."""
    nodes = walk_pages(client)
    # Parse on executors: JSON strings → typed struct → flatten.
    from pyspark.sql import functions as F

    parsed = (
        spark.createDataFrame([(json.dumps(n),) for n in nodes] or [(None,)], "value string")
        .filter(F.col("value").isNotNull())
        .select(F.from_json(F.col("value"), schema).alias("node"))
    )
    return flatten(parsed, sep=flatten_sep)


# ---------------------------------------------------------------------------
# Python DataSource API wrapper (Spark 4): declarative registration.
# ---------------------------------------------------------------------------

try:  # pragma: no cover - exercised in tests where the API exists
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class _ConnReader(DataSourceReader):
        def __init__(self, options):
            self.directory = options.get("path")

        def read(self, partition):
            client = LocalPagesClient(directory=self.directory)
            for node in walk_pages(client):
                yield (json.dumps(node),)

    class GraphQLDataSource(DataSource):
        """``spark.read.format("graphql_connection").option("path", dir)``
        → one string column ``value`` of node JSON (parse with
        ``from_json`` + sources.flatten). The page walk happens on an
        executor; a keyset-splittable API would shard into partitions
        here."""

        @classmethod
        def name(cls) -> str:
            return "graphql_connection"

        def schema(self) -> str:
            return "value string"

        def reader(self, schema) -> DataSourceReader:
            return _ConnReader(self.options)

    def register_graphql_source(spark: SparkSession) -> None:
        spark.dataSource.register(GraphQLDataSource)

except ImportError:  # pragma: no cover

    def register_graphql_source(spark: SparkSession) -> None:  # type: ignore[misc]
        raise NotImplementedError("Python DataSource API unavailable in this PySpark build")
