"""Structured Streaming variants: file source → windowed/session aggs
→ memory sink, driven with availableNow (bounded replay of the events
table through the streaming engine)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphql_api_etl_spark.sources.registry import load_table
from graphql_api_etl_spark.streaming.windows import interval_join, sessionized, windowed_counts


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # Re-land events as micro-batch-readable parquet (normalized
    # timestamps — the raw driver file is nanos, handled in load_table).
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    batch = spark.read.parquet(path)
    return spark.readStream.schema(batch.schema).parquet(path), batch


def _run_available_now(stream_df, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_matches_batch(spark, events_stream):
    stream, batch = events_stream
    q = _run_available_now(windowed_counts(stream, ["event_type"]), "win_counts")
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        expected = {
            (r["w"], r["event_type"]): (r["n"], r["v"])
            for r in batch.groupBy(
                F.date_trunc("hour", "ts").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
            .collect()
        }
        assert got == expected
        assert len(got) > 0
    finally:
        q.stop()


def test_session_windows_stream(spark, events_stream):
    stream, batch = events_stream
    q = _run_available_now(sessionized(stream), "sess")
    try:
        rows = spark.sql("SELECT * FROM sess").collect()
        assert len(rows) > 0
        # every session's event count is positive and bounded by the
        # user's total events
        totals = {r["user_id"]: r["cnt"] for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        by_user: dict[int, int] = {}
        for r in rows:
            assert r["n_events"] > 0
            assert r["session_start"] <= r["session_end"]
            by_user[r["user_id"]] = by_user.get(r["user_id"], 0) + r["n_events"]
        assert by_user == totals
    finally:
        q.stop()


def test_incremental_reconcile_equals_batch(spark, tmp_path):
    """foreachBatch outer-merge upsert (streaming twin of the
    reference's re-fetch pass): after draining all pages the state
    equals the batch shadow — every page read at once with
    last-occurrence-per-key semantics."""
    import json

    from graphql_api_etl_spark.streaming.graphql_stream import stream_connection
    from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler

    pages = tmp_path / "pages"
    pages.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def page(idx, nodes, has_next=True):
        (pages / f"page-{idx:04d}.json").write_text(
            json.dumps(
                {
                    "pageInfo": {"hasNextPage": has_next, "endCursor": f"c{idx}"},
                    "edges": [{"cursor": f"e{i}", "node": n} for i, n in enumerate(nodes)],
                }
            )
        )

    def transform(batch):
        return batch.select(F.col("node_id").alias("id"), F.col("node_name").alias("name"))

    rec = IncrementalReconciler(state, key="id", transform=transform)
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
    )

    def drain():
        q = rec.attach(stream_connection(spark, str(pages), schema), ckpt)
        q.awaitTermination(120)
        q.stop()

    # drain 1: two pages, 'b' repeated across them (page order wins)
    page(0, [{"id": "a", "name": "A0"}, {"id": "b", "name": "B0"}])
    page(1, [{"id": "c", "name": "C0"}, {"id": "b", "name": "B1"}])
    drain()
    s1 = {r["id"]: r["name"] for r in rec.current_state(spark).collect()}
    assert s1 == {"a": "A0", "b": "B1", "c": "C0"}

    # drain 2: an update for 'a' and an insert 'd' — incremental merge
    page(2, [{"id": "a", "name": "A1"}, {"id": "d", "name": "D0"}], has_next=False)
    drain()
    s2 = {r["id"]: r["name"] for r in rec.current_state(spark).collect()}

    # batch shadow: all pages at once, last occurrence per key wins
    batch_nodes = {}
    for i in range(3):
        pg = json.loads((pages / f"page-{i:04d}.json").read_text())
        for e in pg["edges"]:
            batch_nodes[e["node"]["id"]] = e["node"]["name"]
    assert s2 == batch_nodes == {"a": "A1", "b": "B1", "c": "C0", "d": "D0"}


def test_incremental_reconcile_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a retried batch_id must re-read
    the version BEFORE it and rewrite its own version, not re-apply on
    top of its own output."""
    from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler

    rec = IncrementalReconciler(str(tmp_path / "state"), key="id")
    b0 = spark.createDataFrame([("a", 1)], "id string, v int")
    b1 = spark.createDataFrame([("a", 2), ("b", 1)], "id string, v int")
    rec.upsert_batch(b0, 0)
    rec.upsert_batch(b1, 1)
    first = sorted(tuple(r) for r in rec.current_state(spark).collect())
    rec.upsert_batch(b1, 1)  # retry of the SAME batch
    second = sorted(tuple(r) for r in rec.current_state(spark).collect())
    assert first == second == [("a", 2), ("b", 1)]


def test_incremental_reconcile_kill_and_replay_is_exactly_once(spark, tmp_path):
    """Whatever point the writer dies at, a foreachBatch replay of the
    same batch_id converges to the same state with no duplicate rows.

    Before each batch, an earlier attempt's crashed write is left in
    ``v{B}`` (rows but no ``_SUCCESS``): ``current_state`` must not see
    it, and the batch's write replaces it. Each step of the schedule is
    then replayed twice, and after every write retention leaves exactly
    ``v{B}`` and the newest version below it (the retry input). Every
    state is checked against a driver-side last-write-wins reference."""
    import os

    from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler

    state = tmp_path / "state"
    rec = IncrementalReconciler(str(state), key="id")
    reference: dict[str, str] = {}

    def check(batch_id):
        df = rec.current_state(spark)
        got = {r["id"]: r["v"] for r in df.collect()}
        assert got == reference, (got, reference)
        assert df.count() == len(reference)  # no duplicate keys
        keep = {f"v{batch_id}"} | ({f"v{batch_id - 1}"} if batch_id else set())
        assert set(os.listdir(state)) == keep

    schedule = [
        (0, [("a", "A0"), ("b", "B0")]),  # seed
        (1, [("c", "C0")]),  # insert
        (2, [("b", "B1")]),  # update
        (3, [("d", "D0"), ("a", "A0")]),  # adds + identical overlap
    ]
    for batch_id, rows in schedule:
        crashed = str(state / f"v{batch_id}")
        spark.createDataFrame([("junk", "J")], "id string, v string").write.parquet(crashed)
        os.remove(os.path.join(crashed, "_SUCCESS"))
        if batch_id:
            assert {r["id"]: r["v"] for r in rec.current_state(spark).collect()} == reference
        else:
            assert rec.current_state(spark) is None
        batch = spark.createDataFrame(rows, "id string, v string")
        rec.upsert_batch(batch, batch_id)
        reference.update(rows)
        check(batch_id)
        for _ in range(2):  # retries can repeat
            rec.upsert_batch(batch, batch_id)
            check(batch_id)


def test_incremental_reconcile_fresh_checkpoint_over_kept_state_raises(spark, tmp_path):
    """A stream restarted under a fresh checkpoint restarts its batch
    ids at 0. Over a kept state_dir that batch must raise and name the
    directory, not write ``v0`` from nothing and let retention delete
    the newer versions that hold the real state."""
    import os

    import pytest

    from graphql_api_etl_spark.streaming.reconcile import IncrementalReconciler

    state = tmp_path / "state"
    schema = "id string, v string"
    old = IncrementalReconciler(str(state), key="id")
    old.upsert_batch(spark.createDataFrame([("a", "A"), ("b", "B")], schema), 0)
    old.upsert_batch(spark.createDataFrame([("c", "C")], schema), 1)

    def version_rows(v):
        return sorted(tuple(r) for r in spark.read.parquet(str(state / f"v{v}")).collect())

    before = {v: version_rows(v) for v in (0, 1)}
    assert before[1] == [("a", "A"), ("b", "B"), ("c", "C")]

    restarted = IncrementalReconciler(str(state), key="id")
    with pytest.raises(RuntimeError, match="state_dir .*state already holds"):
        restarted.upsert_batch(spark.createDataFrame([("d", "D")], schema), 0)
    assert sorted(os.listdir(state)) == ["v0", "v1"]
    assert {v: version_rows(v) for v in (0, 1)} == before


def test_first_seen_streaming_dedup_across_batches(spark, tmp_path):
    """First-seen streaming dedup emits each key once EVER — later
    batches with the same key emit nothing, state carried via the
    checkpoint (applyInPandasWithState)."""
    from graphql_api_etl_spark.streaming.dedup_stream import first_seen

    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "content_hash string, doc_id string"

    def drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            first_seen(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return sorted(
            (r["content_hash"], r["doc_id"])
            for r in spark.read.parquet(out_dir).collect()
        )

    # batch 1: two distinct keys, one duplicated within the batch
    got1 = drain([("h1", "d1"), ("h1", "d2"), ("h2", "d3")])
    assert [k for k, _ in got1] == ["h1", "h2"]
    assert dict(got1)["h2"] == "d3"

    # batch 2: h1/h2 again (dropped), h3 new (emitted)
    got2 = drain([("h1", "d9"), ("h2", "d8"), ("h3", "d4")])
    assert got2 == got1 + [("h3", "d4")]


def test_watermark_drops_late_events_append_mode(spark, tmp_path):
    """Append-mode watermark semantics across micro-batch runs: an
    event arriving AFTER the watermark has passed its window is
    dropped — its window never appears in the output — while on-time
    windows emit exactly once when the watermark crosses their end."""
    import datetime as dt

    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "ts timestamp, event_type string, value double"

    def t(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    def drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            windowed_counts(stream, ["event_type"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        try:
            return {
                (r["window_start"].hour, r["event_type"]): r["n_events"]
                for r in spark.read.parquet(out_dir).collect()
            }
        except Exception:
            return {}

    # run 1: two events in the 10:00 window, one at 12:00 that will
    # push the (one-hour) watermark to the 10:00 window's end
    drain([(t(10, 0), "click", 1.0), (t(10, 30), "click", 1.0), (t(12, 0), "click", 1.0)])
    # run 2: a LATE event at 09:00 (watermark is now 11:00 — must be
    # dropped) plus a fresh one at 13:00; the closed 10:00 window emits
    got2 = drain([(t(9, 0), "click", 1.0), (t(13, 0), "click", 1.0)])
    assert got2.get((10, "click")) == 2
    assert (9, "click") not in got2
    # run 3: advance the watermark to 13:00 — the 12:00 window (1
    # event, NOT polluted by the late 09:00 row) emits; 09:00 never does
    got3 = drain([(t(14, 0), "click", 1.0)])
    assert got3.get((12, "click")) == 1
    assert (9, "click") not in got3


def test_stream_stream_join_matches_batch(spark, events_stream):
    """Event-time stream-stream inner interval join (click → purchase
    in the hour after it, per user): append-mode availableNow run must
    produce exactly the batch join's row set — the watermark only
    bounds STATE here (no late data in a single ordered replay), so no
    rows may be dropped."""
    stream, batch = events_stream
    clicks_s = stream.filter(F.col("event_type") == "click")
    buys_s = stream.filter(F.col("event_type") == "purchase")
    q = (
        interval_join(clicks_s, buys_s, "inner")
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        got = {
            (r["l_event"], r["r_event"])
            for r in spark.sql("SELECT * FROM ssj").collect()
        }
        expected = {
            (r["l_event"], r["r_event"])
            for r in interval_join(
                batch.filter(F.col("event_type") == "click"),
                batch.filter(F.col("event_type") == "purchase"),
                "inner",
            ).collect()
        }
        assert got == expected
        assert len(got) > 0
    finally:
        q.stop()


def test_stream_static_join_enrichment(spark, events_stream):
    """Stream-static join: an unbounded stream enriched against a
    bounded dimension frame — executed as a per-micro-batch broadcast
    hash join with no streaming state at all (the static side is
    re-broadcast, never buffered). Result must equal the batch join."""
    stream, batch = events_stream
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    q = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("ssj_static")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        got = {
            (r["category"], r["n"])
            for r in spark.sql("SELECT * FROM ssj_static").collect()
        }
        expected = {
            (r["category"], r["n"])
            for r in batch.join(dim, "event_type")
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == expected
        assert len(got) == 4
    finally:
        q.stop()


def test_late_filter_lags_eviction_watermark_by_one_batch(spark, tmp_path):
    """Pins the WITHIN-RUN late-drop rule the stream_late_data_drop
    catalog entry builds on (multi-stateful-operator watermark model):
    in one availableNow run with maxFilesPerTrigger=1, batch N's
    late-record filter uses the watermark from batch N-1's planning —
    one batch BEHIND eviction. So data arriving one batch after the
    watermark-raising batch is still accepted; two batches after, it
    is dropped at the state store."""
    import datetime as dt
    import os

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    schema = "ts timestamp, event_type string, value double"

    def t(d, h, m=0):
        return dt.datetime(2024, 3, d, h, m)

    def write(name, rows, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(p)
        import glob as g
        import shutil

        part = g.glob(os.path.join(p, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, name + ".parquet")
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))

    # batch 0: recent — raises the watermark to Mar 10 09:45
    write("recent", [(t(10, 10, 15), "click", 1.0), (t(10, 10, 45), "click", 1.0)], 1_700_000_000)
    # batch 1: a day late, but the late filter is one batch behind → accepted
    write("mid", [(t(9, 0, 10), "view", 2.0)], 1_700_000_100)
    # batch 2: now the raised watermark applies → dropped
    write("ancient", [(t(1, 5, 10), "spam", 9.0)], 1_700_000_200)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    import uuid

    name = "late_lag_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = list(q.recentProgress)
    q.stop()
    got = {
        (r["w"]["start"].day, r["w"]["start"].hour): r["n"]
        for r in spark.table(name).collect()
    }
    assert got == {(10, 10): 2, (9, 0): 1}  # ancient window absent
    dropped = [
        p["stateOperators"][0].get("numRowsDroppedByWatermark")
        for p in progress
        if p["stateOperators"]
    ]
    assert sum(d or 0 for d in dropped) >= 1  # the drop REALLY happened


def test_threshold_crossing_events_state_carries_across_batches(spark, tmp_path):
    """The per-event crossing operator only fires in batch 2 because
    of state carried from batch 1 (30k + 25k crosses 50k), pinning
    GroupState persistence, the (ts, event_id) replay order inside a
    group, and the exact-cents boundary rule of
    stream_threshold_crossings."""
    import datetime as dt
    import glob as g
    import os
    import shutil
    import uuid

    from graphql_api_etl_spark.streaming.stateful import threshold_crossing_events

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    schema = "user_id bigint, event_id bigint, ts timestamp, cents bigint"

    def write(name, rows, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(p)
        part = g.glob(os.path.join(p, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, name + ".parquet")
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = dt.datetime(2024, 5, 1, 12, 0)

    # batch 1: 10k at 12:10 then 20k at 12:05 — replay must sort by ts
    # (cum 20k -> 30k), no crossing yet
    write("b1", [(1, 101, t0 + dt.timedelta(minutes=10), 10_000),
                 (1, 102, t0 + dt.timedelta(minutes=5), 20_000)], 1_700_000_000)
    # batch 2: 25k -> cum 55k crosses 50k ONLY with carried state
    write("b2", [(1, 103, t0 + dt.timedelta(minutes=20), 25_000)], 1_700_000_100)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    name = "cross_" + uuid.uuid4().hex[:8]
    q = (
        threshold_crossing_events(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    rows = [
        (r["event_id"], r["cum_cents"], r["level"])
        for r in spark.table(name).collect()
    ]
    assert rows == [(103, 55_000, 1)]


def test_flagship_streamed_twin_equals_batch_flagship(spark, sf_dir):
    """The gated streaming twin (flagship_reconcile_streamed) upserts
    three micro-batches through IncrementalReconciler; its report is
    pinned row-identical to the plain batch flagship (the driver's
    oracle is the same SQL; this is the local replica)."""
    from graphql_api_etl_spark.queries import QUERIES

    streamed, _ = QUERIES["flagship_reconcile_streamed"]
    plain, _ = QUERIES["flagship_reconcile"]
    got = {tuple(r) for r in streamed(spark, sf_dir).collect()}
    want = {tuple(r) for r in plain(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_flagship_streamed_two_sf_dirs_share_no_state(spark):
    """Two sf_dirs evaluated interleaved in ONE session (the r13 ADVICE
    failure shape that hit the healed twin): per-tag warehouse roots and
    per-tag databases mean the second landing must not touch the
    first's files — both reports stay correct, and the FIRST frame
    re-collected after the second sf landed still reads its own state."""
    from graphql_api_etl_spark.queries import QUERIES

    streamed, _ = QUERIES["flagship_reconcile_streamed"]
    plain, _ = QUERIES["flagship_reconcile"]
    d1 = streamed(spark, "/root/testdata/sf0.001")
    r1a = {tuple(r) for r in d1.collect()}
    r2 = {tuple(r) for r in streamed(spark, "/root/testdata/sf0.01").collect()}
    r1b = {tuple(r) for r in d1.collect()}
    w1 = {tuple(r) for r in plain(spark, "/root/testdata/sf0.001").collect()}
    w2 = {tuple(r) for r in plain(spark, "/root/testdata/sf0.01").collect()}
    assert r1a == w1 and r2 == w2
    assert r1b == w1  # stale-frame re-read unaffected by the other sf


def test_adds_only_classifier_above_broadcast_cap_still_appends(
    spark, tmp_path, monkeypatch
):
    """With DELTA_BROADCAST_KEY_CAP forced to 0 (every key set 'too
    big'), the classifier must take the un-hinted join branch — the
    driver never materializes the key sets — and the batch staging's
    second landing still appends the right rows (the state side is
    bucketed on the key, so its scan stays exchange-free either way)."""
    from graphql_api_etl_spark.sinks import tables

    monkeypatch.setattr(tables, "DELTA_BROADCAST_KEY_CAP", 0)
    a = spark.createDataFrame([("a", "A0")], "id string, v string")
    ab = spark.createDataFrame([("a", "A0"), ("b", "B0")], "id string, v string")
    db = "graft_stage_nobcast"
    staging = tables.ReconcileStaging(db, str(tmp_path / "state"), num_buckets=2)
    staging.land(a, "api", "id")
    out = staging.land(ab, "api", "id")
    # appended into the pass-1 table, not re-landed under a serial
    names = {t.name for t in spark.catalog.listTables(db)}
    assert "api_id" in names and "api_id_v1" not in names, names
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {"a": "A0", "b": "B0"}
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_events_stream_entry_leaves_no_landing_directory(spark, sf_oracle_dir):
    """A catalog stream entry removes the directory it streams the
    events file from once its run has finished, and its result stays
    readable: one ``stream_hourly_counts`` call adds no
    ``events_stream_*`` directory to the temp directory."""
    import glob
    import os
    import tempfile

    from graphql_api_etl_spark.queries_stream import stream_hourly_counts

    pattern = os.path.join(tempfile.gettempdir(), "events_stream_*")
    before = set(glob.glob(pattern))
    rows = stream_hourly_counts(spark, sf_oracle_dir).collect()
    assert rows
    assert set(glob.glob(pattern)) - before == set()
