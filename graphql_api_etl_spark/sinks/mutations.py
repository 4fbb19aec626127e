"""Batched mutation sink (reference K2–K5).

The reference posts one HTTP request per row (``locationAdd`` per
record ETL:357–366, ``userAddNewToAccount`` per user ETL:679–686,
``hierarchyGroupPermissionAdd`` per pair ETL:707–714) — the dominant
cost of the whole pipeline. Here a write collects its payload to the
driver once, as Arrow (one Spark job; the plan upstream still runs
distributed), and posts it ``batch_size`` records per call through one
client — K2's "``df.collect()`` → single connector call" for
dimension-sized mutation sets. Each record's outcome lands in a status
frame for A8 success accounting (ETL:706–731), and the write counts
records and failures as it posts, so "how many failed" needs no second
scan of the status.

The wire client is pluggable; :class:`MockMutationClient` accepts (or
fails) records for tests and :class:`SpoolMutationClient` lands each
batch as a file (the real GraphQL client is a thin
adapter with the same ``post_batch`` contract — observable behavior of
``GQLAPI.post`` at ETL:169–175). Timeout tolerance (K4's
``httpx.ReadTimeout`` pass at ETL:224–246) maps to ``max_retries``.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("record", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)
_STATUS_ARROW = pa.schema([("record", pa.string()), ("success", pa.bool_()), ("error", pa.string())])


class MockMutationClient:
    """Stateless client that accepts every record, or fails the records
    matching ``fail_when`` (for A8/V5 failure-path tests). It keeps
    nothing; tests that need the posted payloads use
    :class:`SpoolMutationClient`."""

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
    lands as a JSON-lines file in ``spool_dir``, which outlives the
    client and every sink that posted through it, exactly like a real
    external API's state; :func:`read_spool` reads it back."""

    def __init__(self, spool_dir: str, operation_tag: str = "op", fail_when=None):
        self.spool_dir = spool_dir
        self.operation_tag = operation_tag
        self.fail_when = fail_when
        os.makedirs(spool_dir, exist_ok=True)

    def post_batch(self, operation: str, records: list[dict]):
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
    records: list[dict] = []
    if not os.path.isdir(spool_dir):
        return records
    for fname in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, fname)) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    return records


class MutationResult(NamedTuple):
    """What one :meth:`MutationSink.write` posted: the per-record status
    frame, plus the record and failure counts of the write."""

    status: DataFrame
    records: int
    failed: int


class MutationSink:
    """Batched mutation writer returning a status DataFrame and its
    record/failure counts.

    A write collects the frame once (``toArrow``) and posts it from the
    driver, in order, in ``batch_size`` slices of the collected table,
    through one client from ``client_factory()``; a client with a
    ``close()`` is closed when the write returns. Batches fill across
    the frame's partitions, and a Spark task retry can never re-post a
    record. A batch whose ``post_batch`` raises is re-posted up to
    ``max_retries`` times, then its records are failed with the last
    error.

    The status frame is built from the driver's outcomes, so reading it
    any number of times can never re-post. With ``status_dir`` set, the
    write also lands it as one parquet file in a fresh ``status_*``
    directory there.
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
        self.status_dir = status_dir

    def _post(self, client, batch: list[dict]) -> list[tuple[dict, bool, str | None]]:
        last_err: Exception | None = None
        for _ in range(self.max_retries + 1):
            try:
                return client.post_batch(self.operation, list(batch))
            except Exception as exc:  # noqa: BLE001 — timeout tolerance (K4)
                last_err = exc
        return [(rec, False, str(last_err)) for rec in batch]

    def write(self, df: DataFrame) -> MutationResult:
        # Arrow to_pylist() yields native Python values (int stays int,
        # None stays None; the pandas route would coerce nullable ints
        # to float64 and numpy scalars into the mutation payloads).
        table = df.toArrow()
        record: list[str] = []
        success: list[bool] = []
        error: list[str | None] = []
        client = self.client_factory()
        try:
            for start in range(0, table.num_rows, self.batch_size):
                batch = table.slice(start, self.batch_size).to_pylist()
                for rec, ok, err in self._post(client, batch):
                    record.append(json.dumps(rec, sort_keys=True, default=str))
                    success.append(ok)
                    error.append(err)
        finally:
            if hasattr(client, "close"):
                client.close()
        status = pa.table(
            {"record": record, "success": success, "error": error}, schema=_STATUS_ARROW
        )
        if self.status_dir:
            # one directory per write() call — a shared status_dir must
            # not be clobbered by later calls (write_level_phased writes
            # once per hierarchy level and keeps every status frame)
            out_dir = tempfile.mkdtemp(prefix="status_", dir=self.status_dir)
            pq.write_table(status, os.path.join(out_dir, "part-00000.parquet"))
        return MutationResult(
            df.sparkSession.createDataFrame(status, STATUS_SCHEMA),
            len(record),
            success.count(False),
        )


def write_level_phased(
    sink: MutationSink, hierarchy_df: DataFrame, levels: list[int]
) -> dict[int, MutationResult]:
    """Parent-before-child ordering as phased writes (SURVEY §7 hard
    part 2): one sink pass per value of the ``level`` column, in the
    order of ``levels`` (ascending: parents first) — within a level
    rows are unordered. The caller supplies the
    levels, e.g. observed while it materialized the frame. Returns
    each level's write result, keyed by level in write order."""
    return {lv: sink.write(hierarchy_df.filter(hierarchy_df["level"] == lv)) for lv in levels}
