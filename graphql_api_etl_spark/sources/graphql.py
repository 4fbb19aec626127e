"""Paginated Relay-style connection source (reference S3 + S4).

The reference's extract path (``fetch_data_from_graphql_api``,
ETL:178–221) is a serial cursor loop: POST, read
``pageInfo.endCursor``/``hasNextPage``, accumulate ``edges[].node``,
then ``json_normalize``. The cursor chain is inherently serial
(SURVEY.md §7 hard part 4) — each page's address is only known after
the previous page.

This is the one module that knows the page-file format
(:func:`page_files`) and the node frame (:func:`node_table`: ``(node,)``
rows under ``node struct<declared schema>``, which ``sources.flatten``
turns into ``node_*`` columns). Two readers share them:
:func:`fetch_connection` walks the pages on the driver and builds one
Arrow-backed frame, and ``streaming.graphql_stream.stream_connection``
reads landed pages as a stream with the same columns. The walk stays
on the driver because a Python DataSource re-runs its read for every
action, and the sync reads each snapshot with several actions.
:class:`LocalPagesClient` serves fixture pages with the exact Relay
envelope (ETL:1005–1011); ``net.HttpConnectionClient`` is the HTTP
adapter with the same ``fetch_page`` contract (ETL:169–175).
"""

from __future__ import annotations

import json
import os
from typing import Any, Protocol

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from graphql_api_etl_spark.sources.flatten import flatten


def _page_index(fname: str) -> int:
    stem = fname[len("page-") : -len(".json")]
    if not stem.isdigit():
        raise ValueError(f"non-numeric page file name {fname!r}: rename to page-<int>.json")
    return int(stem)


def page_files(directory: str) -> list[str]:
    """Paths of the ``page-<int>.json`` files in ``directory``, in
    NUMERIC page order: ``page-10`` sorts before ``page-2`` as a
    string, which would reorder a connection's pages and shift a
    stream's committed offsets when new pages land."""
    names = [f for f in os.listdir(directory) if f.startswith("page-") and f.endswith(".json")]
    return [os.path.join(directory, f) for f in sorted(names, key=_page_index)]


def read_page(path: str) -> dict[str, Any]:
    with open(path) as f:
        return json.load(f)


class ConnectionClient(Protocol):
    def fetch_page(self, after_cursor: str | None) -> dict[str, Any]:
        """Return one Relay page: {"pageInfo": {"hasNextPage": bool,
        "endCursor": str}, "edges": [{"cursor": str, "node": {...}}]}."""
        ...


class LocalPagesClient:
    """Serves a pre-built list of Relay pages, or the pages landed in a
    directory (:func:`page_files`)."""

    def __init__(self, pages: list[dict[str, Any]] | None = None, directory: str | None = None):
        if pages is None:
            if directory is None:
                raise ValueError("pages or directory required")
            pages = [read_page(path) for path in page_files(directory)]
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


def node_schema(schema: T.StructType) -> T.StructType:
    """The node frame's schema: one ``node`` column of the declared
    node struct, the shape ``flatten`` turns into ``node_*`` columns."""
    return T.StructType([T.StructField("node", schema)])


def node_table(nodes: list[dict[str, Any]], schema: T.StructType) -> pa.Table:
    """The node frame's rows as Arrow, in the declared ``schema``.

    Arrow applies the declared types as JSON would read them: an
    integer widens to a double, a missing key is null and an undeclared
    key is ignored. A value that does not fit its type raises, naming
    the field; it never turns into a null that a later filter drops."""
    columns = []
    for field in schema.fields:
        values = [node.get(field.name) for node in nodes]
        try:
            columns.append(pa.array(values, type=to_arrow_type(field.dataType)))
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise ValueError(
                f"node field {field.name!r} does not fit its declared type "
                f"{field.dataType.simpleString()}: {e}"
            ) from e
    node = pa.StructArray.from_arrays(columns, fields=list(to_arrow_schema(schema)))
    return pa.table({"node": node})


def fetch_connection(
    spark: SparkSession,
    client: ConnectionClient,
    schema: T.StructType,
    flatten_sep: str = "_",
) -> DataFrame:
    """Batch-extract a whole connection into a flattened DataFrame
    (S3 + S4). ``schema`` describes the node struct (declared, not
    inferred — SURVEY §1.3); nested structs come back flattened as
    ``parent_child`` columns like ``json_normalize(sep="_")``. An empty
    connection gives the declared columns and no rows."""
    nodes = walk_pages(client)
    frame = spark.createDataFrame(node_table(nodes, schema), schema=node_schema(schema))
    return flatten(frame, sep=flatten_sep)
