"""Streaming GraphQL connection source: cursor-as-checkpointed-offset
semantics — a second run against the same checkpoint consumes ONLY
newly-landed pages (exactly-once page consumption) — and its parity
with the batch read: one page directory gives the same typed frame,
and the same loud declared types, through either path."""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import types as T

from graphql_api_etl_spark.sources.graphql import LocalPagesClient, fetch_connection
from graphql_api_etl_spark.streaming.graphql_stream import stream_connection

NODE_SCHEMA = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
)


def _write_nodes(directory, idx: int, nodes: list[dict], has_next=True, pad=True):
    page = {
        "pageInfo": {"hasNextPage": has_next, "endCursor": f"c{idx}"},
        "edges": [{"cursor": f"e{i}", "node": n} for i, n in enumerate(nodes)],
    }
    name = f"page-{idx:04d}.json" if pad else f"page-{idx}.json"
    (directory / name).write_text(json.dumps(page))


def _write_page(directory, idx: int, node_ids: list[str], has_next=True, pad=True):
    _write_nodes(directory, idx, [{"id": nid, "name": f"n-{nid}"} for nid in node_ids], has_next, pad)


def _drain(spark, pages_dir, checkpoint, out_dir, before=frozenset()):
    """Run one availableNow pass into a parquet sink (file sinks
    support checkpoint recovery; the memory sink does not) and return
    the node ids added by THIS pass."""
    stream = stream_connection(spark, str(pages_dir), NODE_SCHEMA).select("node_id")
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(checkpoint))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    rows = {r["node_id"] for r in spark.read.parquet(str(out_dir)).collect()}
    return rows - before


def test_stream_consumes_pages_then_only_new_ones(spark, tmp_path):
    pages = tmp_path / "pages"
    pages.mkdir()
    checkpoint = tmp_path / "ckpt"

    out = tmp_path / "out"
    _write_page(pages, 0, ["g0", "g1"])
    _write_page(pages, 1, ["g2"])
    got = _drain(spark, pages, checkpoint, out)
    assert got == {"g0", "g1", "g2"}

    # land two more pages; same checkpoint → only the new nodes appear
    _write_page(pages, 2, ["g3"])
    _write_page(pages, 3, ["g4", "g5"], has_next=False)
    got2 = _drain(spark, pages, checkpoint, out, before=got)
    assert got2 == {"g3", "g4", "g5"}


def test_stream_unpadded_page_names_keep_committed_offsets(spark, tmp_path):
    """page-10 sorts lexicographically BEFORE page-2: with unpadded
    names, committed offsets must still index pages numerically, or
    newly-landed pages shift already-committed indices (dup/drop)."""
    pages = tmp_path / "pages_unpadded"
    pages.mkdir()
    checkpoint = tmp_path / "ckpt_unpadded"
    out = tmp_path / "out_unpadded"

    for i in range(11):  # page-0 .. page-10, unpadded
        _write_page(pages, i, [f"u{i}"], pad=False)
    got = _drain(spark, pages, checkpoint, out)
    assert got == {f"u{i}" for i in range(11)}

    _write_page(pages, 11, ["u11"], has_next=False, pad=False)
    got2 = _drain(spark, pages, checkpoint, out, before=got)
    assert got2 == {"u11"}  # no re-reads, no drops


def test_batch_fetch_is_the_degradation_path(spark, tmp_path):
    """Where the Python DataSource streaming API is absent,
    ``stream_connection`` raises at registration (the ImportError guard
    in streaming/graphql_stream.py). The SUPPORTED fallback is the batch
    read of the same page directory, sources.graphql.fetch_connection
    over ``LocalPagesClient(directory=...)`` — the same page listing and
    the same ``node_*`` columns as the stream — driven per run by
    streaming.IncrementalReconciler: same at-least-once upsert
    semantics at batch cadence instead of micro-batch cadence
    (docs/COVERAGE.md, Measured boundaries)."""
    from graphql_api_etl_spark.streaming import IncrementalReconciler

    pages = tmp_path / "pages_batch"
    pages.mkdir()
    _write_page(pages, 0, ["b0", "b1"])
    _write_page(pages, 1, ["b2"], has_next=False)

    # fetch_connection flattens the node struct as node_<field>
    rec = IncrementalReconciler(state_dir=str(tmp_path / "state_batch"), key="node_id")

    # run 1: full batch fetch → upsert as batch 0
    df1 = fetch_connection(spark, LocalPagesClient(directory=str(pages)), NODE_SCHEMA)
    rec.upsert_batch(df1, 0)

    # between runs: a node is UPDATED and a new one lands
    _write_page(pages, 1, ["b2"])  # re-link page 1 into the chain
    page2 = {
        "pageInfo": {"hasNextPage": False, "endCursor": "c2"},
        "edges": [
            {"cursor": "e0", "node": {"id": "b1", "name": "n-b1-v2"}},
            {"cursor": "e1", "node": {"id": "b3", "name": "n-b3"}},
        ],
    }
    (pages / "page-0002.json").write_text(json.dumps(page2))

    # run 2: the batch pattern re-fetches everything (ETL's serial
    # re-fetch pass); the reconciler's outer-merge makes it an upsert
    df2 = fetch_connection(spark, LocalPagesClient(directory=str(pages)), NODE_SCHEMA)
    rec.upsert_batch(df2, 1)

    state = {r["node_id"]: r["node_name"] for r in rec.current_state(spark).collect()}
    assert state == {"b0": "n-b0", "b1": "n-b1-v2", "b2": "n-b2", "b3": "n-b3"}


def test_stream_empty_directory_yields_nothing(spark, tmp_path):
    pages = tmp_path / "pages_empty"
    pages.mkdir()
    out = tmp_path / "out_empty"
    try:
        got = _drain(spark, pages, tmp_path / "ckpt2", out)
    except Exception:
        # zero batches → sink dir may not exist; that IS "nothing"
        got = set()
    assert got == set()


TYPED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("isTop", T.BooleanType()),
        T.StructField("unit", T.DoubleType()),
        T.StructField(
            "parent",
            T.StructType(
                [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
            ),
        ),
    ]
)
TYPED_COLUMNS = ["node_id", "node_isTop", "node_unit", "node_parent_id", "node_parent_name"]


def _land(directory, pages_of_nodes: list[list[dict]]) -> None:
    """Land a connection as unpadded page files, the last one closing
    the cursor chain."""
    last = len(pages_of_nodes) - 1
    for idx, nodes in enumerate(pages_of_nodes):
        _write_nodes(directory, idx, nodes, has_next=idx < last, pad=False)


def _read(spark, path: str, pages_dir, schema):
    """The connection landed in ``pages_dir`` as a collected frame, read
    by the batch path or drained by one availableNow pass of the
    stream."""
    if path == "batch":
        return fetch_connection(spark, LocalPagesClient(directory=str(pages_dir)), schema)
    name = f"graphql_drain_{uuid.uuid4().hex[:8]}"
    q = (
        stream_connection(spark, str(pages_dir), schema)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return spark.table(name)


def test_stream_frame_equals_batch_frame(spark, tmp_path):
    """One page directory, one schema with a nested struct: the batch
    read and one availableNow drain of the stream give the same columns
    (types included) and the same rows. Twelve unpadded pages, so both
    paths must also agree on the numeric page order."""
    pages = tmp_path / "pages_parity"
    pages.mkdir()
    _land(
        pages,
        [
            [
                {"id": "g0", "isTop": True, "unit": 1.5, "parent": {"id": "p0", "name": "P0"}},
                {"id": "g1", "isTop": False, "unit": 2, "parent": None},
            ],
            [],
        ]
        + [[{"id": f"g{i}", "isTop": False, "parent": {"id": "p0"}}] for i in range(2, 12)],
    )
    batch = _read(spark, "batch", pages, TYPED_SCHEMA)
    stream = _read(spark, "stream", pages, TYPED_SCHEMA)
    assert batch.columns == stream.columns == TYPED_COLUMNS
    assert batch.dtypes == stream.dtypes
    rows = sorted(batch.collect())
    assert len(rows) == 12
    assert rows == sorted(stream.collect())


@pytest.mark.parametrize("path", ["batch", "stream"])
def test_declared_types_are_loud_and_json_tolerant(spark, tmp_path, path):
    """Declared node types hold on both paths: an integer widens to a
    double, a missing key is null and an undeclared key is ignored, an
    empty connection keeps the declared columns, and a value that does
    not fit its type raises naming the field (read as null,
    ``isTop: "yes"`` would let the district filter ``~node_isTop`` drop
    that group without a word)."""
    pages = tmp_path / f"pages_{path}"
    pages.mkdir()
    _land(pages, [[{"id": "g0", "unit": 1, "extra": [1, 2], "parent": {"id": "p", "x": 0}}]])
    (row,) = _read(spark, path, pages, TYPED_SCHEMA).collect()
    assert row.asDict() == {
        "node_id": "g0",
        "node_isTop": None,
        "node_unit": 1.0,
        "node_parent_id": "p",
        "node_parent_name": None,
    }
    assert isinstance(row["node_unit"], float)

    empty = tmp_path / f"empty_{path}"
    empty.mkdir()
    _land(empty, [[]])
    df = _read(spark, path, empty, TYPED_SCHEMA)
    assert df.columns == TYPED_COLUMNS
    assert df.count() == 0

    bad = tmp_path / f"bad_{path}"
    bad.mkdir()
    _land(bad, [[{"id": "g0", "isTop": False}], [{"id": "g1", "isTop": "yes"}]])
    with pytest.raises(Exception, match="node field 'isTop' does not fit its declared type boolean"):
        _read(spark, path, bad, TYPED_SCHEMA).collect()
