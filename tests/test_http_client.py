"""HTTP transport tests: the real-wire implementation of the
reference's ``gql_api.post`` contract (ETL:169–175) driven against a
local fixture server — pagination, batched mutation POSTs,
retry-on-failure, and K4 timeout tolerance (ETL:224–246)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from graphql_api_etl_spark.net import (
    GraphQLReadTimeout,
    GraphQLTransportError,
    HttpClientFactory,
    HttpConnectionClient,
    HttpGQLApi,
    HttpMutationClient,
)
from graphql_api_etl_spark.sinks.mutations import MutationSink
from graphql_api_etl_spark.sources.graphql import fetch_connection, walk_pages
from tests.fixture_gql_server import FixtureGQLServer, make_pages

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "address", T.StructType([T.StructField("state", T.StringType())])
        ),
    ]
)


def _conn_client(server, **kw):
    return HttpConnectionClient(
        HttpGQLApi(server.url, timeout=5),
        query="query fetchThings($after: String) { things { ... } }",
        operation_name="fetchThings",
        conn_type="things",
        **kw,
    )


def test_post_roundtrip_and_error_envelope():
    with FixtureGQLServer(make_pages(1, 2)) as server:
        api = HttpGQLApi(server.url, timeout=5)
        payload = api.post("query fetchThings { }", "fetchThings", {})
        assert payload["data"]["things"]["edges"][0]["node"]["id"] == "L0"
        server.fail_next["fetchThings"] = 1
        with pytest.raises(GraphQLTransportError):
            api.post("query fetchThings { }", "fetchThings", {})


def test_http_cursor_walk_matches_fixture():
    with FixtureGQLServer(make_pages(3, 4)) as server:
        nodes = walk_pages(_conn_client(server))
        assert [n["id"] for n in nodes] == [f"L{i}" for i in range(12)]


def test_fetch_connection_over_http_flattens(spark):
    with FixtureGQLServer(make_pages(2, 3)) as server:
        df = fetch_connection(spark, _conn_client(server), NODE_SCHEMA)
        # S4 flatten keeps the reference's json_normalize naming: the
        # node struct flattens to node_* / node_parent_child columns.
        rows = {r["node_id"]: r for r in df.collect()}
        assert len(rows) == 6
        assert rows["L1"]["node_address_state"] == "TX"


def test_mutation_sink_posts_batches(spark):
    with FixtureGQLServer() as server:
        df = spark.createDataFrame(
            [(f"L{i}", f"g{i % 3}") for i in range(17)], "location string, grp string"
        ).repartition(4)
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation locationAdd { }"),
            operation="locationAdd",
            batch_size=5,
        )
        status = sink.write(df).status
        ok = status.filter("success").count()
        assert ok == 17
        posted = [
            r
            for body in server.mutations
            for r in body["variables"]["input"]["records"]
        ]
        assert sorted(r["location"] for r in posted) == sorted(f"L{i}" for i in range(17))
        # batching respected: no request carried more than batch_size
        assert all(
            len(body["variables"]["input"]["records"]) <= 5 for body in server.mutations
        )


def test_mutation_retry_recovers_from_transient_failure(spark):
    with FixtureGQLServer() as server:
        server.fail_next["userAddNewToAccount"] = 1  # first POST fails, retry wins
        df = spark.createDataFrame([("u1",), ("u2",)], "user string").coalesce(1)
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation userAddNewToAccount { }"),
            operation="userAddNewToAccount",
            batch_size=10,
            max_retries=2,
        )
        posted = sink.write(df)
        assert posted.status.filter("success").count() == 2
        assert (posted.records, posted.failed) == (2, 0)


def test_per_record_server_rejection_lands_in_status(spark):
    with FixtureGQLServer() as server:
        server.fail_record_when = lambda r: r.get("grp") == "bad"
        df = spark.createDataFrame(
            [("a", "ok"), ("b", "bad"), ("c", "ok")], "location string, grp string"
        ).coalesce(1)
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation hierarchyGroupPermissionAdd { }"),
            operation="hierarchyGroupPermissionAdd",
        )
        posted = sink.write(df)
        assert posted.status.filter("success").count() == 2
        assert posted.status.filter("NOT success").count() == 1
        # the write returns the counts its tasks tallied while posting
        assert (posted.records, posted.failed) == (3, 1)


class _FixedReplyApi:
    """Stands in for HttpGQLApi: every POST gets the same reply."""

    def __init__(self, payload: dict):
        self.payload = payload

    def post(self, **_kw) -> dict:
        return self.payload


def test_results_array_of_wrong_length_fails_the_whole_batch():
    """A ``results`` array that does not line up with the batch cannot be
    matched to its records, so every record of the batch is failed with
    an error naming both lengths (returned, not raised into a retry)."""
    records = [{"id": "a"}, {"id": "b"}, {"id": "c"}]
    api = _FixedReplyApi({"data": {"locationAdd": {"results": [{"success": False}]}}})
    out = HttpMutationClient(api, query="mutation locationAdd { }").post_batch(
        "locationAdd", records
    )
    assert [r for r, _, _ in out] == records
    assert [ok for _, ok, _ in out] == [False, False, False]
    assert all("1 results" in err and "3 records" in err for _, _, err in out)

    # a 2xx reply with no results array still means the batch succeeded
    api = _FixedReplyApi({"data": {"locationAdd": {"ok": True}}})
    out = HttpMutationClient(api, query="mutation locationAdd { }").post_batch(
        "locationAdd", records
    )
    assert [(ok, err) for _, ok, err in out] == [(True, None)] * 3


def test_delete_timeout_tolerated_marks_complete():
    # K4 (ETL:224-246): the reference swallows httpx.ReadTimeout on
    # delete because the server may have finished the operation.
    with FixtureGQLServer() as server:
        server.slow_ops["droppingExistingHierarchyGroups"] = 2.0
        api = HttpGQLApi(server.url, timeout=0.3)
        tolerant = HttpMutationClient(
            api, query="mutation droppingExistingHierarchyGroups { }", tolerate_timeout=True
        )
        out = tolerant.post_batch("droppingExistingHierarchyGroups", [{"id": "hg1"}])
        assert out[0][1] is True and "timeout tolerated" in out[0][2]
        strict = HttpMutationClient(
            api, query="mutation droppingExistingHierarchyGroups { }", tolerate_timeout=False
        )
        with pytest.raises(GraphQLReadTimeout):
            strict.post_batch("droppingExistingHierarchyGroups", [{"id": "hg1"}])


def test_keepalive_one_connection_across_posts():
    """One client = one TCP connection no matter how many POSTs: real
    endpoints throttle per-connection (r3 VERDICT ask #7)."""
    with FixtureGQLServer(make_pages(8, 2)) as server:
        client = _conn_client(server)
        nodes = walk_pages(client)  # 8 pages + terminal empty page = 9 POSTs
        assert len(nodes) == 16
        assert server.requests >= 8
        assert server.connections == 1


def test_keepalive_reopens_stale_connection():
    """A server that dropped the idle keep-alive socket must not fail
    the next post — the client reconnects exactly once."""
    with FixtureGQLServer(make_pages(1, 1)) as server:
        api = HttpGQLApi(server.url, timeout=5)
        api.post("query fetchThings { }", "fetchThings", {})
        api._conn.close()  # simulate server-side idle drop
        payload = api.post("query fetchThings { }", "fetchThings", {})
        assert payload["data"]["things"]["edges"]


def test_mutation_sink_one_connection_per_write(spark):
    """The sink's batching contract end-to-end: 4 partitions x many
    batches -> one connection for the whole write."""
    with FixtureGQLServer() as server:
        df = spark.createDataFrame(
            [(f"L{i}",) for i in range(40)], "location string"
        ).repartition(4)
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation locationAdd { }"),
            operation="locationAdd",
            batch_size=2,  # forces ~5 POSTs per partition
        )
        status = sink.write(df).status
        assert status.filter("success").count() == 40
        assert len(server.mutations) >= 10  # many batches...
        assert server.connections == 1  # ...but one connection per write


def test_mutation_sink_batches_fill_across_partitions(spark):
    """Batches fill across partition boundaries: 17 records in
    partitions of 4, 4, 4 and 5 rows, 3 per batch, take ceil(17 / 3) = 6
    POSTs, not one part-filled batch per partition (8)."""
    with FixtureGQLServer() as server:
        sink = MutationSink(
            HttpClientFactory(server.url, query="mutation locationAdd { }"),
            operation="locationAdd",
            batch_size=3,
        )
        posted = sink.write(spark.range(17, numPartitions=4))
        assert (posted.records, posted.failed) == (17, 0)
        batches = [body["variables"]["input"]["records"] for body in server.mutations]
        assert [len(b) for b in batches] == [3, 3, 3, 3, 3, 2]
        assert sorted(r["id"] for b in batches for r in b) == list(range(17))


def test_server_initiated_close_falls_back_per_request():
    """An endpoint that refuses keep-alive (Connection: close on every
    response) must still work — the client reconnects per request
    instead of failing on the dropped socket."""
    with FixtureGQLServer(make_pages(4, 2)) as server:
        server.close_each = True
        nodes = walk_pages(_conn_client(server))
        assert len(nodes) == 8
        assert server.connections >= 4  # no reuse possible, one per request


def test_account_scoping_travels_as_headers():
    with FixtureGQLServer(make_pages(1, 1)) as server:
        client = _conn_client(server, current_account_id="acct-1", account_ids=["acct-1", "acct-2"])
        client.fetch_page(None)  # would raise on transport error


def test_one_client_shared_by_threads():
    """The sync walks two connections at once on two driver threads
    through one client. A keep-alive connection carries one request at
    a time, so the client serializes its posts: each walk gets its
    complete node list, over the client's one connection. More walkers
    than cores and a short switch interval make an unserialized post
    collide on the connection."""
    import os
    import sys
    import threading

    n_threads = min((os.cpu_count() or 1) + 1, 9)
    with FixtureGQLServer(make_pages(6, 2)) as server:
        server.slow_ops["fetchThings"] = 0.005  # keep each request in flight a while
        api = HttpGQLApi(server.url, timeout=5)
        got: dict[int, list[str]] = {}
        errors: list[Exception] = []

        def walk(k: int) -> None:
            pager = HttpConnectionClient(
                api, query="query fetchThings { }", operation_name="fetchThings", conn_type="things"
            )
            try:
                got[k] = [n["id"] for n in walk_pages(pager)]
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(exc)

        threads = [threading.Thread(target=walk, args=(k,)) for k in range(n_threads)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
            api.close()
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert got == {k: [f"L{i}" for i in range(12)] for k in range(n_threads)}
        assert server.requests == 6 * n_threads
        assert server.connections == 1
