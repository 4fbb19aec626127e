"""Streaming → real-wire delivery e2e: the GraphQL connection stream
source drained through ``foreachBatch`` into the batched HTTP mutation
sink against a live fixture server — the streaming twin of the
reference's serial per-row mutation loop (ETL:357–366), end to end:
checkpointed page offsets upstream, batched keep-alive POSTs
downstream, and a second drain that delivers ONLY newly-landed pages.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphql_api_etl_spark.net import HttpClientFactory
from graphql_api_etl_spark.sinks.mutations import MutationSink
from graphql_api_etl_spark.streaming.graphql_stream import stream_connection

from fixture_gql_server import FixtureGQLServer


def _write_page(directory, idx: int, node_ids: list[str], has_next=True):
    page = {
        "pageInfo": {"hasNextPage": has_next, "endCursor": f"c{idx}"},
        "edges": [
            {"cursor": f"e{i}", "node": {"id": nid, "name": f"n-{nid}"}}
            for i, nid in enumerate(node_ids)
        ],
    }
    (directory / f"page-{idx:04d}.json").write_text(json.dumps(page))


def _posted_ids(server) -> list[str]:
    return [
        r["node_id"]
        for body in server.mutations
        for r in body["variables"]["input"]["records"]
    ]


NODE_SCHEMA = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
)


def test_stream_to_http_mutation_sink_e2e(spark, tmp_path):
    pages = tmp_path / "pages"
    pages.mkdir()
    ckpt = tmp_path / "ckpt"
    _write_page(pages, 0, ["L0", "L1", "L2"])
    _write_page(pages, 1, ["L3", "L4"])

    with FixtureGQLServer() as server:
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation locationAdd { }"),
            operation="locationAdd",
            batch_size=2,
        )

        def drain():
            stream = stream_connection(spark, str(pages), NODE_SCHEMA).select(
                "node_id", F.col("node_name").alias("name")
            )
            q = (
                stream.writeStream.foreachBatch(lambda df, bid: sink.write(df))
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.stop()

        drain()
        assert sorted(_posted_ids(server)) == ["L0", "L1", "L2", "L3", "L4"]
        # sink batching respected over the wire
        assert all(
            len(b["variables"]["input"]["records"]) <= 2 for b in server.mutations
        )

        # new pages land; the same checkpoint delivers ONLY the new ones
        _write_page(pages, 2, ["L5"], has_next=False)
        drain()
        assert sorted(_posted_ids(server)) == ["L0", "L1", "L2", "L3", "L4", "L5"]
