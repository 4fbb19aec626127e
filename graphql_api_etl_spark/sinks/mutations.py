"""Batched mutation sink (reference K2–K5).

The reference posts one HTTP request per row (``locationAdd`` per
record ETL:357–366, ``userAddNewToAccount`` per user ETL:679–686,
``hierarchyGroupPermissionAdd`` per pair ETL:707–714) — the dominant
cost of the whole pipeline. Here the sink is ``foreachPartition`` with
client-side batching: each executor opens one client, posts
``batch_size`` records per call, and emits a per-record status that
lands as a durable status DataFrame for A8 success accounting
(ETL:706–731). The posting tasks also tally records and failures in
accumulators, so "how many failed" comes back with the write instead
of from a second scan of the status.

The wire client is pluggable; :class:`MockMutationClient` accepts (or
fails) records for tests and :class:`SpoolMutationClient` lands each
batch as a file (the real GraphQL client is a thin
adapter with the same ``post_batch`` contract — observable behavior of
``GQLAPI.post`` at ETL:169–175). Timeout tolerance (K4's
``httpx.ReadTimeout`` pass at ETL:224–246) maps to ``max_retries``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("record", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


class MockMutationClient:
    """Stateless client that accepts every record, or fails the records
    matching ``fail_when`` (for A8/V5 failure-path tests). It keeps
    nothing: it is pickled into the Python workers, so a record of the
    posted batches would never reach the driver; tests that need the
    payloads use :class:`SpoolMutationClient`."""

    def __init__(self, fail_when=None):
        self.fail_when = fail_when

    def post_batch(self, operation: str, records: list[dict]) -> list[tuple[dict, bool, str | None]]:
        out = []
        for r in records:
            if self.fail_when is not None and self.fail_when(r):
                out.append((r, False, "mock failure"))
            else:
                out.append((r, True, None))
        return out


class SpoolMutationClient:
    """File-spool client for local-mode testing and demos: each batch
    lands as a JSON-lines file in ``spool_dir``. In local mode the
    Python workers are separate processes, so an in-memory mock's
    state mutations never reach the driver — the shared filesystem
    does, exactly like a real external API shares state."""

    def __init__(self, spool_dir: str, operation_tag: str = "op", fail_when=None):
        import os

        self.spool_dir = spool_dir
        self.operation_tag = operation_tag
        self.fail_when = fail_when
        os.makedirs(spool_dir, exist_ok=True)

    def post_batch(self, operation: str, records: list[dict]):
        import os
        import uuid

        path = os.path.join(self.spool_dir, f"{self.operation_tag}-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for r in records:
                f.write(json.dumps(r, sort_keys=True, default=str) + "\n")
        out = []
        for r in records:
            if self.fail_when is not None and self.fail_when(r):
                out.append((r, False, "spool failure"))
            else:
                out.append((r, True, None))
        return out


def read_spool(spool_dir: str) -> list[dict]:
    """All records ever posted through :class:`SpoolMutationClient`."""
    import os

    records: list[dict] = []
    if not os.path.isdir(spool_dir):
        return records
    for fname in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, fname)) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    return records


class MutationResult(NamedTuple):
    """What one :meth:`MutationSink.write` posted: the durable
    per-record status frame, plus the record and failure counts the
    posting tasks tallied."""

    status: DataFrame
    records: int
    failed: int


class MutationSink:
    """``foreachPartition``-batched mutation writer returning a status
    DataFrame and its record/failure counts.

    ``client_factory`` is called once per partition ON THE EXECUTOR
    (serializable factory, not a shared connection — the driver never
    holds the socket). Retries are per batch with no backoff state
    shared across partitions.
    """

    def __init__(
        self,
        client_factory,
        operation: str,
        batch_size: int = 100,
        max_retries: int = 2,
        status_dir: str | None = None,
    ):
        self.client_factory = client_factory
        self.operation = operation
        self.batch_size = batch_size
        self.max_retries = max_retries
        # Durable landing zone for the status frame; on a cluster point
        # this at shared storage (HDFS/S3) so executor loss can never
        # re-run the side-effecting partitions.
        self.status_dir = status_dir

    def write(self, df: DataFrame) -> MutationResult:
        spark = df.sparkSession
        factory = self.client_factory
        operation = self.operation
        batch_size = self.batch_size
        max_retries = self.max_retries
        # Tallied where the statuses are emitted, inside the parquet
        # write's result stage, where Spark applies each task's
        # accumulator update exactly once (a retried task's is dropped).
        n_records = spark.sparkContext.accumulator(0)
        n_failed = spark.sparkContext.accumulator(0)

        def run_partition(batches):
            # mapInArrow, not df.rdd.mapPartitions (VERDICT r4): the
            # input stays Arrow end-to-end — no Row pickling — and
            # RecordBatch.to_pylist() yields native Python values
            # (int stays int, None stays None; the pandas route would
            # coerce nullable ints to float64 and numpy scalars into
            # the mutation payloads).
            import pyarrow as pa

            arrow_schema = pa.schema(
                [("record", pa.string()), ("success", pa.bool_()), ("error", pa.string())]
            )
            client = factory()
            buf: list[dict] = []
            stat: list[tuple[str, bool, str | None]] = []

            def flush() -> None:
                if not buf:
                    return
                last_err: Exception | None = None
                for _ in range(max_retries + 1):
                    try:
                        results = client.post_batch(operation, list(buf))
                        for rec, ok, err in results:
                            stat.append((json.dumps(rec, sort_keys=True, default=str), ok, err))
                        buf.clear()
                        return
                    except Exception as exc:  # noqa: BLE001 — timeout tolerance (K4)
                        last_err = exc
                for rec in buf:
                    stat.append((json.dumps(rec, sort_keys=True, default=str), False, str(last_err)))
                buf.clear()

            def drain() -> Iterator:
                if stat:
                    n_records.add(len(stat))
                    n_failed.add(sum(1 for s in stat if not s[1]))
                    yield pa.RecordBatch.from_pydict(
                        {
                            "record": [s[0] for s in stat],
                            "success": [s[1] for s in stat],
                            "error": [s[2] for s in stat],
                        },
                        schema=arrow_schema,
                    )
                    stat.clear()

            for batch in batches:
                for rec in batch.to_pylist():
                    buf.append(rec)
                    if len(buf) >= batch_size:
                        flush()
                yield from drain()  # statuses stream out batch-by-batch
            flush()
            yield from drain()

        status = df.mapInArrow(run_partition, STATUS_SCHEMA)
        # Materialize the side-effecting lineage exactly once per
        # ``write()`` call: land the status frame in durable parquet and
        # return a frame READ FROM STORAGE, whose lineage is a plain
        # scan — downstream actions, cache eviction, or executor loss
        # can only re-read the files, never re-run the HTTP partitions.
        # (persist()+count alone is weaker: a lost executor recomputes
        # its cached partition from the mapPartitions lineage and
        # re-posts those mutations.)
        import tempfile

        # one directory per write() call — a shared status_dir must not
        # be clobbered by later calls (write_level_phased writes once
        # per hierarchy level and keeps every status frame)
        out_dir = tempfile.mkdtemp(prefix="status_", dir=self.status_dir) if self.status_dir else tempfile.mkdtemp(prefix="mutation_status_")
        status.write.mode("overwrite").parquet(out_dir)
        return MutationResult(
            spark.read.schema(STATUS_SCHEMA).parquet(out_dir), n_records.value, n_failed.value
        )


def write_level_phased(
    sink: MutationSink, hierarchy_df: DataFrame, levels: list[int]
) -> dict[int, MutationResult]:
    """Parent-before-child ordering as phased writes (SURVEY §7 hard
    part 2): one sink pass per value of the ``level`` column, in the
    order of ``levels`` (ascending: parents first) — within a level
    rows are unordered and fully parallel. The caller supplies the
    levels, e.g. observed while it materialized the frame. Returns
    each level's write result, keyed by level in write order."""
    return {lv: sink.write(hierarchy_df.filter(hierarchy_df["level"] == lv)) for lv in levels}
