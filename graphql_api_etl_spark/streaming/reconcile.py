"""Incremental streaming reconciliation — the streaming twin of the
reference's serial re-fetch pass (ETL:474–506, ``ETL:NNN`` ≡
``/root/reference/weekly alignments GQL API.py``).

The batch pipeline reconciles by re-fetching EVERYTHING and running one
full outer merge. Here each micro-batch of newly-landed connection
pages is outer-merged (via the SAME ``operators.join.outer_merge`` the
batch pipeline uses) into a versioned keyed state table:

- ``both``       → the batch's (newer) values win — an update;
- ``left_only``  → existing state persists unchanged;
- ``right_only`` → a new row inserts.

State version ``v{batch_id}`` is a pure function of (previous state,
batch). ``foreachBatch`` is at-least-once; a retried batch_id reads
the version BEFORE it and deterministically rewrites its own version
directory, so the upsert is idempotent — effectively exactly-once.
Only `_SUCCESS`-marked versions are ever read, so a crashed partial
write is invisible. A batch id below the newest committed version (a
fresh checkpoint over a kept state directory) raises instead of
replacing the state.

Scale shape: the per-batch merge is a key-partitioned join of
|state|+|batch| rows with no driver-side state. For in-place upserts
swap the versioned parquet state for an ACID table format
(Delta/Iceberg MERGE INTO) — the logical plan is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators.join import (
    MERGE_BOTH,
    MERGE_RIGHT,
    outer_merge,
)
from graphql_api_etl_spark.sinks.tables import fs_delete, fs_glob


# -- scheme-agnostic state-directory IO --------------------------------
#
# The state directory may sit on hdfs:// or s3a://, so every version
# operation resolves its filesystem FROM the path via the shared Hadoop
# FileSystem helpers in sinks.tables instead of os/shutil/glob, which
# only understand local paths — a remote state_dir would otherwise list
# no versions and every batch would silently replace the whole state
# with that batch's rows. Listings use single-RPC ``fs_glob`` calls so a
# remote store pays O(1) metadata round trips per scan, not one per
# version directory.


def committed_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """Committed (_SUCCESS-marked) state versions, ascending — one
    glob RPC over the commit markers themselves."""
    out = []
    for p in fs_glob(spark, f"{state_dir}/v*/_SUCCESS"):
        d = p.rstrip("/").rsplit("/", 2)[-2]
        if d[1:].isdigit():
            out.append(int(d[1:]))
    return sorted(out)


class IncrementalReconciler:
    """Keyed upsert state maintained by ``foreachBatch`` outer-merges.

    ``key``: merge key column(s) present in every batch.
    ``state_dir``: versioned parquet state root.
    ``transform``: optional per-batch DataFrame transform (e.g. select
    and rename the typed ``node_*`` columns of
    ``streaming.graphql_stream.stream_connection``) applied before the
    merge. Batches may repeat a key; the last occurrence in page order
    wins (within-batch dedup below).
    """

    def __init__(
        self,
        state_dir: str,
        key: str | list[str],
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.state_dir = state_dir
        self.key = [key] if isinstance(key, str) else list(key)
        self.transform = transform

    # -- state access --------------------------------------------------

    def current_state(self, spark: SparkSession, before: int | None = None) -> DataFrame | None:
        """Latest committed state (optionally: latest BEFORE a given
        batch_id — what a retried batch must re-read)."""
        versions = [
            v for v in committed_versions(spark, self.state_dir) if before is None or v < before
        ]
        if not versions:
            return None
        return spark.read.parquet(f"{self.state_dir}/v{versions[-1]}")

    # -- the foreachBatch hook -----------------------------------------

    def _dedup_batch(self, batch: DataFrame) -> DataFrame:
        """Within-batch dedup: keep each key's LAST occurrence (pages
        arrive in cursor order; a later page's node supersedes)."""
        w = W.partitionBy(*self.key).orderBy(F.col("__ord__").desc())
        return (
            batch.withColumn("__ord__", F.monotonically_increasing_id())
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__ord__", "__rn__")
        )

    def _merge_into_state(self, state: DataFrame | None, batch: DataFrame) -> DataFrame:
        """The upsert as one outer merge: both → batch wins, left_only
        → state persists, right_only → insert."""
        if state is None:
            return batch
        m = outer_merge(state, batch, on=self.key, lsuffix="_state", rsuffix="_new")
        take_new = F.col("_merge").isin(MERGE_BOTH, MERGE_RIGHT)
        cols = []
        for c in batch.columns:
            suffixed = f"{c}_new" in m.columns
            if c in self.key:
                # outer_merge keeps both sides' keys, suffixed
                cols.append(
                    F.coalesce(F.col(f"{c}_new"), F.col(f"{c}_state")).alias(c)
                    if suffixed
                    else F.col(c)
                )
            else:
                cols.append(
                    F.when(take_new, F.col(f"{c}_new")).otherwise(F.col(f"{c}_state")).alias(c)
                    if suffixed
                    else F.col(c)
                )
        return m.select(*cols)

    def _write_version(self, merged: DataFrame, batch_id: int) -> None:
        merged.write.mode("overwrite").parquet(f"{self.state_dir}/v{batch_id}")

    def _retired_versions(self, spark: SparkSession, batch_id: int) -> list[int]:
        """Retention rule: keep THIS version and the newest version
        BELOW the batch (the input a retry of this batch_id re-reads).
        While one checkpoint drives the state the versions are dense
        and that is {B, B-1}; naming the newest lower version rather
        than B-1 keeps the retry input even if the ids ever skip."""
        versions = committed_versions(spark, self.state_dir)
        prev = max([v for v in versions if v < batch_id], default=None)
        keep = {batch_id} | ({prev} if prev is not None else set())
        return [v for v in versions if v not in keep]

    def _retire(self, spark: SparkSession, batch_id: int) -> None:
        # Retirement is best-effort CLEANUP: the new version is already
        # committed, correctness never depends on old versions leaving,
        # and _retired_versions re-lists leftovers on the next batch —
        # so a transient delete error (remote-store 503, permissions)
        # must not kill the streaming query after the state landed.
        for v in self._retired_versions(spark, batch_id):
            try:
                fs_delete(spark, f"{self.state_dir}/v{v}", recursive=True)
            except Exception:  # noqa: BLE001 — cleanup retries next batch
                pass

    def upsert_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # Within one checkpoint a replay re-runs only the last batch, so
        # a committed version NEWER than batch_id means a fresh
        # checkpoint over a kept state_dir: its ids restart at 0, and
        # writing v{batch_id} from "no earlier state" would let
        # retention delete the real state.
        newer = [v for v in committed_versions(spark, self.state_dir) if v > batch_id]
        if newer:
            raise RuntimeError(
                f"state_dir {self.state_dir} already holds committed version "
                f"v{newer[-1]}, newer than batch {batch_id}: the stream was "
                "restarted under a different checkpoint; resume from the "
                "original checkpoint or start from an empty state_dir"
            )
        if self.transform is not None:
            batch = self.transform(batch)
        batch = self._dedup_batch(batch)
        state = self.current_state(spark, before=batch_id)
        merged = self._merge_into_state(state, batch)
        self._write_version(merged, batch_id)
        self._retire(spark, batch_id)

    # -- wiring --------------------------------------------------------

    def attach(self, stream: DataFrame, checkpoint: str):
        """Start the reconciliation query on a streaming DataFrame; it
        drains what is available now and stops."""
        return (
            stream.writeStream.foreachBatch(self.upsert_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
