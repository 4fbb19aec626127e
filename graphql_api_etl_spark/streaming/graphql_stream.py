"""Structured-Streaming variant of the paginated GraphQL connection
source (reference S3, ETL:178–221 — ``ETL:NNN`` ≡
``/root/reference/weekly alignments GQL API.py``).

The reference walks the Relay cursor chain once per weekly run and
re-extracts EVERYTHING (then hard-deletes and reloads, ETL:20–22). The
streaming-native evolution: the cursor is a checkpointed offset, each
micro-batch reads only pages that appeared since the last committed
offset, and downstream reconciliation runs incrementally. This turns
the reference's full-truncate-reload into an append stream with
exactly-once page consumption (offsets commit atomically with the
batch via the checkpoint log).

One source definition, batch and stream: pages are the ``page-<int>.json``
files ``sources.graphql.page_files`` lists, each micro-batch row is
``(node,)`` in the declared node struct (``sources.graphql.node_table``),
and :func:`stream_connection` flattens it, so a stream has exactly the
columns ``sources.graphql.fetch_connection`` gives a batch read. The
thin HTTP adapter's job is to walk the live cursor chain and land pages;
the engine consumes landed pages with full parallelism (SURVEY §7 hard
part 4 isolates the serial walk).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from graphql_api_etl_spark.sources.flatten import flatten
from graphql_api_etl_spark.sources.graphql import node_schema, node_table, page_files, read_page

try:  # Python DataSource streaming API (Spark 4)
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    @dataclass
    class _PageRange(InputPartition):
        directory: str
        start: int
        end: int

    class _ConnStreamReader(DataSourceStreamReader):
        """Offset = number of fully-consumed pages (the cursor chain's
        position, serialized into the streaming checkpoint)."""

        def __init__(self, options, schema: T.StructType):
            self.directory = options.get("path")
            if not self.directory:
                raise ValueError("option 'path' (page directory) is required")
            self.node_struct = schema["node"].dataType

        def initialOffset(self) -> dict:
            return {"pages": 0}

        def latestOffset(self) -> dict:
            return {"pages": len(page_files(self.directory))}

        def partitions(self, start: dict, end: dict):
            # One partition per page: landed pages parse in parallel
            # even though the original HTTP walk was serial.
            return [
                _PageRange(self.directory, i, i + 1)
                for i in range(start["pages"], end["pages"])
            ] or [_PageRange(self.directory, 0, 0)]

        def read(self, partition: _PageRange):
            for path in page_files(partition.directory)[partition.start : partition.end]:
                nodes = [edge["node"] for edge in read_page(path).get("edges", [])]
                yield from node_table(nodes, self.node_struct).to_batches()

        def commit(self, end: dict) -> None:
            pass  # page files are immutable; nothing to release

    class GraphQLStreamDataSource(DataSource):
        """``spark.readStream.format("graphql_connection_stream")
        .schema(node_schema(schema)).option("path", dir)`` → unbounded
        ``(node,)`` rows, one micro-batch per batch of newly-landed
        pages. The schema is required: node types are declared, not
        inferred."""

        @classmethod
        def name(cls) -> str:
            return "graphql_connection_stream"

        def streamReader(self, schema) -> DataSourceStreamReader:
            return _ConnStreamReader(self.options, schema)

    def register_graphql_stream_source(spark: SparkSession) -> None:
        spark.dataSource.register(GraphQLStreamDataSource)

except ImportError:  # pragma: no cover

    def register_graphql_stream_source(spark: SparkSession) -> None:  # type: ignore[misc]
        raise NotImplementedError("Python DataSource streaming API unavailable")


def stream_connection(spark: SparkSession, directory: str, schema: T.StructType) -> DataFrame:
    """Stream twin of ``sources.graphql.fetch_connection``: the pages
    landed in ``directory`` as a streaming DataFrame with the batch
    frame's flattened ``node_*`` columns."""
    register_graphql_stream_source(spark)
    stream = (
        spark.readStream.format("graphql_connection_stream")
        .schema(node_schema(schema))
        .option("path", directory)
        .load()
    )
    return flatten(stream)
