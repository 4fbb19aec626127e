"""Structured-Streaming catalog entries under the SAME oracle gate as
the batch catalog (registered on import by ``queries/__init__.py``, like
queries_graph).

The reference's weekly job is a batch full-reload (ETL:20–22); these
entries put the engine's STREAMING execution path itself — file-stream
source, stateful aggregation / dedup state store, micro-batch
scheduler — inside the catalog's Spark-vs-DuckDB differential: each
runs a real ``readStream`` → ``writeStream`` query with
``trigger(availableNow=True)`` into a memory sink, waits for
termination, and returns the sink table as the result DataFrame. The
oracle is plain batch SQL over the same parquet — so a green row
means the streaming pipeline computed exactly what the batch engine
would have.

The windowed, session, interval-join and custom-state plans are built
by the operators in ``streaming/`` (the same ones its tests drive); an
entry here sets up its source, picks the sink mode and projects the
result.

Determinism notes:
- ``complete`` output mode for the windowed aggregate: append mode
  only emits windows the watermark has CLOSED, so the stream's final
  open windows would be missing vs the batch oracle. Complete mode
  re-emits the full state at the last trigger — total, deterministic.
- the dedup entry outputs ONLY its key columns: within a micro-batch
  ``dropDuplicates`` keeps an arbitrary row per key (partition race),
  but the key SET is deterministic.
- events.parquet is TIMESTAMP(MICROS, isAdjustedToUTC=false): with
  NTZ inference pinned off (same pin as sources/registry.load_table)
  the declared TimestampType reads as UTC LTZ, so both engines see
  identical timestamps.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphql_api_etl_spark.queries import _q
from graphql_api_etl_spark.streaming import (
    interval_join,
    sessionized,
    threshold_crossing_events,
    windowed_counts,
)

_EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _pin_ntz(spark: SparkSession) -> None:
    """events.parquet is TIMESTAMP(MICROS, isAdjustedToUTC=false); with
    NTZ inference pinned off the declared TimestampType reads as UTC
    LTZ — identical values to the batch loader and the DuckDB oracle.
    The pin is session-wide ON PURPOSE: sources/registry.load_table
    sets the same conf for every batch read, so restoring a different
    prior value here would make streaming and batch reads of the same
    file disagree within one session (one shared helper, ADVICE r7)."""
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


@contextmanager
def _events_stream(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    """The events file as a stream, for the ``with`` block. Run the
    stream to completion inside the block: its landing directory is
    removed when the block ends."""
    _pin_ntz(spark)
    # FileStreamSource requires a DIRECTORY, but the testdata dir holds
    # ALL tables' parquet side by side — stream a temp dir holding a
    # symlink to the events file (zero copy; a real deployment streams
    # a dedicated landing directory to begin with).
    src_dir = tempfile.mkdtemp(prefix="events_stream_")
    try:
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{src_dir}/events.parquet")
        yield spark.readStream.schema(_EVENTS_STREAM_SCHEMA).parquet(src_dir)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def _run_to_memory(agg: DataFrame, mode: str) -> DataFrame:
    """Run the streaming frame to completion (availableNow) into a
    memory sink and return the sink table. The memory sink is
    driver-resident and REPORT-sized by contract (aggregates / key
    sets); unbounded streams land in parquet/kafka sinks instead."""
    name = f"stream_gate_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(600)
    finally:
        q.stop()
    return agg.sparkSession.table(name)


@_q(
    "stream_hourly_counts",
    """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregate, end-to-end through the
    micro-batch engine (file-stream source → watermarked stateful agg
    → memory sink, availableNow) — the streaming twin of
    events_tumbling_window, checked against the identical batch SQL.
    Watermark bounds state on a live stream; complete mode makes the
    final emission total (see module docstring). At scale the same
    query writes append-mode to parquet with the watermark closing
    windows — the memory/complete shape is the gate harness, not the
    deployment shape."""
    with _events_stream(spark, sf_dir) as events:
        out = _run_to_memory(windowed_counts(events, ["event_type"]), "complete")
    return out.select("window_start", "event_type", "n_events", "total_value")


@_q(
    "stream_distinct_user_types",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_distinct_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup through the state store: dropDuplicates
    over the (user_id, event_type) key stream — the operator a
    continuous ingestion pipeline runs to emit each key once. Output
    is the key set only (the kept ROW per key is a partition race
    inside a micro-batch; the key SET is deterministic), differential-
    checked against batch DISTINCT. On a live stream this wants
    dropDuplicatesWithinWatermark to bound state; availableNow over a
    finite source is the bounded-gate harness."""
    with _events_stream(spark, sf_dir) as events:
        dedup = events.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
        return _run_to_memory(dedup, "append")


@_q(
    "stream_latest_state_upsert",
    """
SELECT user_id, ts AS last_ts, event_id AS last_event_id, value AS last_value
FROM (SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def stream_latest_state_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch latest-state materialization — streaming CDC
    compaction: each micro-batch outer-merges into a versioned parquet
    state dir, keeping per key the row with the greatest
    (ts, event_id). The merge is union-then-reduce, so it is
    ASSOCIATIVE and order-independent: the result is identical no
    matter how the scheduler splits files into batches (unlike
    last-batch-wins cursor semantics, which is the right policy for
    the GraphQL reconciler but not for event-time state). Versioned
    state dirs give idempotent retries — a replayed batch re-reads the
    version written BEFORE it, and versions are listed by
    streaming.reconcile's commit rule (``committed_versions``: only
    ``_SUCCESS``-marked ``v{N}``), so a crashed partial write is never
    read, exactly like IncrementalReconciler."""
    from pyspark.sql import Window as W

    from graphql_api_etl_spark.streaming.reconcile import committed_versions

    state_dir = tempfile.mkdtemp(prefix="stream_upsert_state_")
    ckpt = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    cols = ["user_id", "ts", "event_id", "value"]

    def latest(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        red = latest(batch.select(*cols))
        session = batch.sparkSession
        prior = [v for v in committed_versions(session, state_dir) if v < batch_id]
        if prior:
            state = session.read.parquet(f"{state_dir}/v{prior[-1]}")
            red = latest(state.unionByName(red))
        red.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")

    try:
        with _events_stream(spark, sf_dir) as events:
            q = (
                events.select(*cols)
                .writeStream.foreachBatch(upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(600)
            finally:
                q.stop()
        # Pin the final state BEFORE the temp dirs go away (the frame
        # is per-user latest state, |users| rows) so both mkdtemp dirs
        # can be removed here instead of leaking per invocation — the
        # same finally discipline as the late-drop fix (ADVICE r7/r8).
        final = spark.read.parquet(
            f"{state_dir}/v{committed_versions(spark, state_dir)[-1]}"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return final.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@_q(
    "stream_session_windows",
    """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) >= 30 * 60 * 1000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, session_idx
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` streaming aggregate — THE merging-window
    stateful operator (session assignment can only be decided as
    events arrive; batch engines need gaps-and-islands window tricks
    to express it). Runs through the real micro-batch session-merge
    state store; the oracle is the lag/cumsum batch formulation with
    the boundary matched to Spark's semantics: an event at EXACTLY
    start+gap falls outside ``[start, last+gap)`` and opens a new
    session, so the oracle's new-session predicate is ``>= gap``
    (the batch ``events_sessionize`` entry uses ``> gap`` — a
    different, also-valid contract; the differential pins each).
    Session identity is (user_id, session start); per-session ordinal
    numbering is emitted by neither side since the two engines count
    sessions in different orders."""
    with _events_stream(spark, sf_dir) as events:
        out = _run_to_memory(sessionized(events), "complete")
    return out.select("user_id", "session_start", "n_events", "total_value")


@_q(
    "stream_static_enrich_join",
    """
SELECT c_mktsegment AS segment, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
""",
)
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join through the micro-batch engine —
    the remaining core streaming join shape after the windowed-agg /
    dedup-state / session-window / foreachBatch entries: each
    micro-batch of the event stream joins the STATIC customer
    dimension (broadcast; re-resolvable per batch, which is how
    slowly-refreshed dims piggyback on a running stream) and feeds a
    stateful grouped aggregate, emitted complete-mode at the final
    availableNow trigger. Stateless per-batch join + bounded
    |segments|·|types| state — the canonical "enrich then
    aggregate" continuous pipeline, differential-checked against
    the identical batch join SQL.

    At deployment scale the same query runs append-mode with a
    watermark on a windowed key; the dim side stays broadcast-sized
    by definition (it's a dimension)."""
    from graphql_api_etl_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    with _events_stream(spark, sf_dir) as events:
        enriched = events.join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        agg = enriched.groupBy(
            F.col("c_mktsegment").alias("segment"), "event_type"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        out = _run_to_memory(agg, "complete")
        # exact COUNT(DISTINCT) is unsupported as streaming aggregate
        # state, so n_users comes from a second streaming pass: exact
        # dedup state over (segment, event_type, user_id) then a grouped
        # count — the standard streaming decomposition of distinct.
        dedup = (
            enriched.select(F.col("c_mktsegment").alias("segment"), "event_type", "user_id")
            .dropDuplicates(["segment", "event_type", "user_id"])
            .groupBy("segment", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        )
        users = _run_to_memory(dedup, "complete")
    return (
        out.select("segment", "event_type", "n_events", "total_value")
        .join(users, ["segment", "event_type"])
        .select("segment", "event_type", "n_events", "n_users", "total_value")
    )


@_q(
    "stream_late_data_drop",
    """
WITH m AS (SELECT date_trunc('hour', max(ts)) AS th FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events CROSS JOIN m
WHERE ts >= th - INTERVAL 240 HOUR
GROUP BY 1
""",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, observed end-to-end and made
    deterministic: events land as three files — recent (last 48 h),
    mid (48–240 h back), ancient (older) — streamed oldest-mtime-first
    with ``maxFilesPerTrigger=1`` so each is its own micro-batch, into
    an update-mode 1-hour windowed aggregate with a 1-hour watermark.

    The semantics this pins (Spark's multi-stateful-operator watermark
    model, SPARK-42376 lineage): the late-record filter for batch N
    uses the watermark as of batch N-1's PLANNING, one batch behind
    the eviction watermark. So batch 0 (recent file) raises the
    watermark to max(ts)−1h; batch 1 (mid file) is late-but-ACCEPTED —
    its filter watermark is still the epoch; batch 2 (ancient file)
    finally runs against the raised watermark and every row is
    dropped at the state store (window-grain
    ``numRowsDroppedByWatermark``). The sink therefore holds exactly
    the recent+mid aggregate and NONE of the ancient windows — which
    is what the batch oracle states: the same aggregate with rows
    older than 240 h from the (hour-truncated) max excluded.

    Three shapes make the differential exact: cut points are
    hour-ALIGNED (``date_trunc`` both sides), so no 1-hour window
    straddles a file boundary and every window is updated in exactly
    one micro-batch — update mode then emits each window once, fully
    aggregated; the file→batch order is pinned by explicit mtimes;
    and the watermark delay (1 h) is far from both cuts, so the
    accept/drop boundary never lands near a window edge. The landing
    directory is built ONCE per testdata fingerprint through the
    _layout_cache_path/_publish_layout mechanism (ADVICE r7: the
    mkdtemp version rewrote three full events copies per invocation
    and never cleaned up) — the harness shape for a landing directory
    a real deployment already has."""
    import datetime
    import glob as _glob

    from graphql_api_etl_spark.queries.tpch import _layout_cache_path, _publish_layout
    from graphql_api_etl_spark.sources.registry import load_table

    land, cached = _layout_cache_path(sf_dir, "stream_late_land", ["events"])
    if not cached:
        ev = load_table(spark, sf_dir, "events")
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        tmax = ev.agg(F.max("ts")).first()[0]
        th = tmax.replace(minute=0, second=0, microsecond=0)
        c1 = th - datetime.timedelta(hours=48)
        c2 = th - datetime.timedelta(hours=240)

        def _build(dst_dir: str) -> None:
            os.makedirs(dst_dir, exist_ok=True)

            def write_one(df: DataFrame, name: str, mtime: int) -> None:
                tmp = os.path.join(dst_dir, f"_build_{name}")
                df.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                dst = os.path.join(dst_dir, name)
                shutil.move(part, dst)
                os.utime(dst, (mtime, mtime))
                shutil.rmtree(tmp, ignore_errors=True)

            write_one(
                ev.filter(F.col("ts") >= F.lit(c1)).select(*cols),
                "recent.parquet", 1_700_000_000,
            )
            write_one(
                ev.filter((F.col("ts") >= F.lit(c2)) & (F.col("ts") < F.lit(c1))).select(*cols),
                "mid.parquet", 1_700_000_100,
            )
            write_one(
                ev.filter(F.col("ts") < F.lit(c2)).select(*cols),
                "ancient.parquet", 1_700_000_200,
            )
            open(os.path.join(dst_dir, "_SUCCESS"), "w").close()

        _publish_layout(_build, land)

    _pin_ntz(spark)
    stream = (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    out = _run_to_memory(windowed_counts(stream, []), "update")
    return out.select("window_start", "n_events", "total_value")


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Views (left) interval-joined to the purchases (right) in the hour
    after them, through ``streaming.interval_join``, run append-mode to
    the memory sink and projected to the oracles' columns."""
    with _events_stream(spark, sf_dir) as events:
        joined = interval_join(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "purchase"),
            how,
        )
        out = _run_to_memory(joined, "append")
    return out.select(
        F.col("l_event").alias("view_id"),
        F.col("r_event").alias("purchase_id"),
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).cast("bigint").alias("gap_sec"),
    )


@_q(
    "stream_stream_interval_join",
    """
SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_sec
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join through the micro-batch engine —
    the last core streaming join shape after windowed-agg / dedup /
    foreachBatch / session / stream-static / late-drop: views and
    purchases arrive as two event-time streams and an INNER join with
    a time-range predicate (purchase within the hour AFTER the view)
    pairs them in the symmetric join state store — attribution the
    moment it becomes decidable, the continuous twin of
    events_asof_join/events_interval_join.

    Both sides carry watermarks and the range predicate bounds state
    retention on a live stream (each side's rows expire once the
    other's watermark passes their join horizon — without the time
    bound, inner join state grows forever); under availableNow over
    the finite source the sink ends up with exactly the batch join's
    pair set, which is what the oracle states. Emission is
    append-mode per match and the MATCH SET is deterministic (inner
    join; no per-row race like dropDuplicates), so the differential
    hashes event-id pairs and exact second gaps."""
    return _view_purchase_join(spark, sf_dir, "inner")


@_q(
    "stream_threshold_crossings",
    """
WITH e AS (
  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
cum AS (
  SELECT user_id, event_id, ts, c,
         sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM e
)
SELECT user_id, event_id, ts AS alert_ts,
       CAST(cum AS BIGINT) AS cum_cents,
       CAST(cum // 50000 AS BIGINT) AS level
FROM cum WHERE cum // 50000 > (cum - c) // 50000
""",
)
def stream_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator under the differential gate:
    ``applyInPandasWithState`` (streaming/stateful.py:
    threshold_crossing_events) keeps each user's lifetime spend in
    exact integer cents and emits the precise event that pushes it
    across each new 500-unit multiple — the arbitrary-state shape no
    built-in windowed aggregate expresses (unbounded history, a
    user-defined emission rule), and the one streaming API family
    (apply/transformWithState) the catalog's other stream entries
    don't touch: the previous evidence was pytest-only
    (tests/test_streaming.py); this puts the Arrow state-store path
    itself behind a DuckDB oracle.

    Determinism: integer cents (the v_cents convention — a float
    running total could flip a boundary comparison on summation
    order), per-group replay sorted by (ts, event_id) after
    concatenating the group's Arrow chunks, and the oracle is the
    same crossing predicate as a window cumsum:
    cum//K > (cum−c)//K. State is ONE bigint per key, engine-
    checkpointed and shuffle-partitioned — alert volume is bounded by
    value growth, not event count, so the operator holds at any
    corpus size."""
    with _events_stream(spark, sf_dir) as events:
        ev = events.select(
            "user_id", "event_id", "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        out = _run_to_memory(threshold_crossing_events(ev), "append")
    return out.select("user_id", "event_id", "alert_ts", "cum_cents", "level")


@_q(
    "stream_append_closed_windows",
    """
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events CROSS JOIN wm
GROUP BY 1
HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= max(w)
""",
)
def stream_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregate — the third and last output mode
    (complete: stream_hourly_counts; update: stream_late_data_drop):
    append emits a window exactly once, only after the watermark CLOSES
    it (window.end <= watermark), which is the mode a parquet/kafka
    sink requires (immutable rows, no upserts). Under availableNow the
    final no-data micro-batch flushes every window closed by the
    end-of-stream watermark max(ts) − 1h, so the sink deterministically
    holds ALL hourly windows except those within the last hour of the
    stream — exactly what the batch oracle states with its HAVING
    window_end <= watermark clause. A green row pins the eviction
    boundary semantics (end <= wm, not <) against an independent
    reimplementation — the row the complete-mode entry can't check
    because complete re-emits everything.

    Same scale notes as the other availableNow gates: watermark bounds
    state; the memory sink holds an hourly rollup, report-sized by
    construction."""
    with _events_stream(spark, sf_dir) as events:
        out = _run_to_memory(windowed_counts(events, []), "append")
    return out.select("window_start", "n_events", "total_value")


@_q(
    "stream_dedup_within_watermark",
    """
SELECT DISTINCT event_id, user_id, event_type FROM events
""",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark under REAL redelivery: the landing
    directory holds the events file TWICE (two symlinks, zero copy) and
    maxFilesPerTrigger=1 forces two micro-batches, so every row of the
    second batch is a genuine cross-batch duplicate arriving against
    populated state — the at-least-once → exactly-once repair every
    ingestion pipeline needs in front of an append-only sink. Plain
    dropDuplicates (stream_distinct_user_types) keeps state FOREVER;
    the WithinWatermark variant is the production form — state for a
    key is evictable once the watermark passes it. The delay here is
    deliberately larger than the data span, so no key is evicted and
    the output is exactly batch DISTINCT — any early eviction
    re-emits a duplicate and breaks the row count; any over-dedup
    drops a real key and breaks the hash.

    Scale: state is keyed by event_id and bounded by the watermark
    horizon in production (the point of the operator); the memory sink
    holds the key projection, and the differential keys are the full
    id/user/type triple so a wrong-row keep is visible."""
    _pin_ntz(spark)
    src_dir = tempfile.mkdtemp(prefix="events_stream_dup_")
    try:
        for name in ("a_events.parquet", "b_events.parquet"):
            os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{src_dir}/{name}")
        stream = (
            spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        dedup = (
            stream.select("event_id", "ts", "user_id", "event_type")
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        )
        return _run_to_memory(dedup, "append")
    finally:
        # the availableNow run completes inside _run_to_memory, so the
        # landing dir is removable here (upsert-entry discipline, r9)
        shutil.rmtree(src_dir, ignore_errors=True)


@_q(
    "stream_stream_left_outer_join",
    """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS v_ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
                    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
              - INTERVAL 1 HOUR AS w),
m AS (SELECT v.view_id, p.purchase_id, v.user_id,
             CAST(date_diff('second', v.v_ts, p.p_ts) AS BIGINT) AS gap_sec
      FROM v JOIN p ON v.user_id = p.user_id
        AND p.p_ts > v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR)
SELECT view_id, purchase_id, user_id, gap_sec FROM m
UNION ALL
SELECT v.view_id, NULL AS purchase_id, v.user_id, NULL AS gap_sec
FROM v CROSS JOIN wm
WHERE v.v_ts + INTERVAL 1 HOUR < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
""",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-emission
    semantics the inner variant (stream_stream_interval_join) cannot
    check: an unmatched view emits its null row only when the GLOBAL
    watermark (min of both sides' watermarks, each max(ts) − 1 h)
    closes the view's one-hour join horizon, i.e. on state EVICTION —
    never earlier (a match could still arrive) and never for views
    inside the final watermark horizon (their window never closes on
    a finite stream). This eviction-driven null is what makes outer
    stream joins subtle in production: rows "missing" from the sink
    are usually rows whose window the watermark hasn't closed yet.

    The oracle replays both halves: the batch interval join (matched
    pairs are emission-time-independent) plus the eviction cut for
    unmatched views — v_ts + 1 h strictly before the end-of-stream
    global watermark min(max_v, max_p) − 1 h (no view in any testdata
    SF sits exactly ON the boundary; the value-hash gate at three SFs
    would surface a comparator flip). availableNow's final no-data
    micro-batch advances the watermark and flushes the evictable
    unmatched state — the same final-flush machinery
    stream_append_closed_windows pins for windows."""
    return _view_purchase_join(spark, sf_dir, "leftOuter")


@_q(
    "stream_stream_full_outer_join",
    """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS v_ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
                    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
              - INTERVAL 1 HOUR AS w),
m AS (SELECT v.view_id, p.purchase_id, v.user_id,
             CAST(date_diff('second', v.v_ts, p.p_ts) AS BIGINT) AS gap_sec
      FROM v JOIN p ON v.user_id = p.user_id
        AND p.p_ts > v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR)
SELECT view_id, purchase_id, user_id, gap_sec FROM m
UNION ALL
SELECT v.view_id, NULL, v.user_id, NULL
FROM v CROSS JOIN wm
WHERE v.v_ts + INTERVAL 1 HOUR < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
UNION ALL
SELECT NULL, p.purchase_id, p.user_id, NULL
FROM p CROSS JOIN wm
WHERE p.p_ts < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
""",
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — evictions on BOTH
    sides emit nulls, completing the streaming join-mode matrix
    (inner: stream_stream_interval_join; left outer:
    stream_stream_left_outer_join). The asymmetry the oracle must
    state exactly: an unmatched VIEW's join horizon is its own
    timestamp + 1 h (a matching purchase can arrive that late), so it
    nulls out when v_ts + 1 h passes the global watermark — while an
    unmatched PURCHASE's horizon is its own timestamp (the join
    condition only ever pairs it with EARLIER views), so it nulls out
    as soon as p_ts itself passes the watermark. Getting either
    horizon wrong in the state-eviction predicate emits too early
    (a row that could still match) or never — both break the hash.

    Same end-of-stream mechanics as the left-outer entry: global
    watermark = min(max_v, max_p) − 1 h, strict comparison, flushed by
    availableNow's final no-data micro-batch."""
    return _view_purchase_join(spark, sf_dir, "fullOuter")
