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
write is invisible.

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


# -- scheme-agnostic state-directory IO --------------------------------
#
# The warehouse root is deployment-injectable (SPARK_GRAFT_BUCKET_WAREHOUSE
# may point at hdfs:// or s3a:// — sinks.tables.bucket_warehouse_path), so
# every version/marker operation resolves its filesystem FROM the path via
# the shared Hadoop FileSystem helpers in sinks.tables instead of
# os/shutil/glob, which only understand local paths — a remote state_dir
# would otherwise list no versions and every full land would silently
# replace the whole state with one batch. Listings use single-RPC
# ``fs_glob`` calls so a remote store pays O(1) metadata round trips per
# scan, not one per version directory.

from graphql_api_etl_spark.sinks.tables import (  # noqa: E402
    adds_only_delta,
    append_bucketed_delta,
    ensure_bucket_database,
    fs_delete,
    fs_exists,
    fs_glob,
    fs_touch,
    semi_join_keys,
    stage_bucketed,
)


def _versions(spark: SparkSession, state_dir: str, prefix: str = "v") -> list[int]:
    """Committed (_SUCCESS-marked) state versions, ascending — one
    glob RPC over the commit markers themselves."""
    out = []
    n = len(prefix)
    for p in fs_glob(spark, f"{state_dir}/{prefix}*/_SUCCESS"):
        d = p.rstrip("/").rsplit("/", 2)[-2]
        if d.startswith(prefix) and d[n:].isdigit():
            out.append(int(d[n:]))
    return sorted(out)


class IncrementalReconciler:
    """Keyed upsert state maintained by ``foreachBatch`` outer-merges.

    ``key``: merge key column(s) present in every batch.
    ``state_dir``: versioned parquet state root.
    ``transform``: optional per-batch DataFrame transform (e.g. parse
    the connection's ``value`` JSON and flatten) applied before the
    merge. Batches may repeat a key; the last occurrence in page order
    wins (within-batch dedup below).
    """

    _version_prefix = "v"  # state version directory prefix

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
            v
            for v in _versions(spark, self.state_dir, self._version_prefix)
            if before is None or v < before
        ]
        if not versions:
            return None
        return spark.read.parquet(
            f"{self.state_dir}/{self._version_prefix}{versions[-1]}"
        )

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
        merged.write.mode("overwrite").parquet(
            f"{self.state_dir}/v{batch_id}"
        )

    def _retired_versions(self, spark: SparkSession, batch_id: int) -> list[int]:
        """Retention rule, gap-safe: keep THIS version and the newest
        version BELOW the batch (the input a retry of this batch_id
        re-reads). With dense versions that is {B, B-1} — the original
        rule — but adds-only delta batches (the bucketed subclass)
        leave version-number gaps, where 'keep v >= B-1' would delete
        the retry input."""
        versions = _versions(spark, self.state_dir, self._version_prefix)
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
                fs_delete(
                    spark,
                    f"{self.state_dir}/{self._version_prefix}{v}",
                    recursive=True,
                )
            except Exception:  # noqa: BLE001 — cleanup retries next batch
                pass

    def upsert_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self.transform is not None:
            batch = self.transform(batch)
        batch = self._dedup_batch(batch)
        state = self.current_state(spark, before=batch_id)
        merged = self._merge_into_state(state, batch)
        self._write_version(merged, batch_id)
        self._retire(spark, batch_id)

    # -- wiring --------------------------------------------------------

    def attach(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        """Start the reconciliation query on a streaming DataFrame."""
        writer = (
            stream.writeStream.foreachBatch(self.upsert_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


class BucketedIncrementalReconciler(IncrementalReconciler):
    """IncrementalReconciler whose state lives in the bucketed layout of
    ``sinks.tables.ReconcileStaging`` (VERDICT r12 ask #7: unify the
    batch and streaming deployment stories) — each committed state
    version is a catalog
    table landed via ``sinks.tables.stage_bucketed`` (bucketed on the
    merge key, bucket-sorted, one file per bucket), so:

    - the per-batch upsert merge reads the state side EXCHANGE-FREE
      off its bucketed scan (only the micro-batch, ≪ state, shuffles)
      — at 100 TB the state never re-shuffles, the dominant per-batch
      cost becomes the state scan + the batch-sized exchange;
    - every DOWNSTREAM reconcile join against the live state on the
      key (a full-outer diff, enrichments, gated reports) is
      exchange-free too — the same layout contract ReconcileStaging
      gives the bucketed catalog twins.

    Batches that classify ADDS-ONLY against the committed state take
    the delta fast path (``_try_adds_only_append``, VERDICT r13 ask
    #3): append O(|batch|) rows into the current version's bucketed
    table instead of re-landing the full merged state — the batch
    staging's second landing makes the same decision through the same
    classifier, ``sinks.tables.adds_only_delta``. A
    ``applied_b{B}_to_v{P}`` commit marker (written only after the
    append's job commit) short-circuits retries; correctness never
    depends on it — a marker-less retry re-classifies and reads its
    own keys as already-present-identical.

    Idempotency protocol otherwise unchanged from the parent
    (versioned state; a retried batch_id re-reads the newest version
    BEFORE it and rewrites its own version — ``stage_bucketed``'s
    overwrite + orphan-directory recovery make the rewrite safe after
    crashes mid-landing; retention is gap-safe for the version-number
    holes delta batches leave).  After a session restart the in-memory
    catalog forgets the tables while their managed directories
    survive; ``current_state`` falls back to reading the committed
    directory as plain parquet (the bucket spec and the delta fast
    path re-establish at the next landed version).
    """

    _version_prefix = "state_v"  # managed bucketed-table directory names

    def __init__(
        self,
        database: str,
        location: str,
        key: str | list[str],
        num_buckets: int = 32,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        compact_after_appends: int = 16,
    ):
        super().__init__(state_dir=location, key=key, transform=transform)
        self.database = database
        self.num_buckets = num_buckets
        # after this many consecutive adds-only delta appends onto one
        # base version, land the next version through BUCKET-LOCAL
        # compaction (r14-opt; was a full re-land): each append adds a
        # file per touched bucket, and a bounded file count keeps the
        # bucketed scan healthy (the join stays exchange-free either
        # way; this caps small-file accumulation). Cold buckets are
        # byte-copied, only delta-touched buckets rewrite — write cost
        # O(|hot rows| + |batch|), not O(|state|).
        self.compact_after_appends = compact_after_appends

    def _marker(self, batch_id: int, base: int) -> str:
        return f"{self.state_dir}/applied_b{batch_id}_to_v{base}"

    def _applied_markers(self, spark: SparkSession, base: int) -> list[str]:
        """NAMES of commit markers recording deltas applied to ``base``
        — one glob RPC."""
        return [
            p.rstrip("/").rsplit("/", 1)[-1]
            for p in fs_glob(spark, f"{self.state_dir}/applied_b*_to_v{base}")
        ]

    def _try_adds_only_append(
        self, spark: SparkSession, state: DataFrame, batch: DataFrame, batch_id: int
    ) -> bool:
        """Adds-only fast path (VERDICT r13 ask #3): when
        ``sinks.tables.adds_only_delta`` classifies the batch against
        the state rows under its keys as new keys only (or keys
        already present and identical), append just the batch's
        rows into the CURRENT bucketed version via
        sinks.tables.append_bucketed_delta — write cost O(|batch|), no
        new version, the state table keeps its bucket spec — instead of
        re-landing the full merged state.

        Retry protocol (foreachBatch is at-least-once; the versioned
        contract must survive a crash at ANY point):

        - marker present (``applied_b{B}_to_v{P}``, written only AFTER
          the append's job commit) → the delta is in the files; pure
          no-op.
        - crash AFTER the append committed but BEFORE the marker: the
          retry re-classifies the batch against the state — its keys
          are now present with IDENTICAL per-key multisets, which
          reads as "already applied" → no-op, marker rewritten.
        - crash DURING the append (job not committed): Spark's commit
          protocol leaves only uncommitted temporaries, so the retry
          still sees the keys absent → appends again. Exactly-once
          either way, with the CLASSIFICATION as the correctness
          mechanism and the marker as the cheap short-circuit.

        Declines (returns False → the caller takes the full versioned
        land): schema drift, null batch keys (the key-equality join
        cannot classify them), any batch key already present with a
        DIFFERENT multiset (an update — appends would duplicate), or
        the state being the post-restart plain-parquet fallback (no
        table to append into).

        Compaction (r14-opt, ROUND_NOTES r15 candidate #3 wired in):
        when ``compact_after_appends`` deltas already sit on the base
        version, an adds-only batch no longer falls back to the full
        re-land (decode + shuffle + rewrite of O(|state|)); it lands
        the NEW version through
        ``sinks.maintenance.compact_bucketed_table`` — cold (single
        file) buckets are raw byte copies, only the delta-touched hot
        buckets are decoded and rewritten to one file each, and the
        batch's own delta rides the same single append job, so
        ``_SUCCESS`` (which ``_versions`` gates on) appears only after
        the complete state is in place. Write cost drops from
        O(|state|) to O(|hot-bucket rows| + |batch|) plus byte copies.
        Retry protocol: the new version directory IS the commit — a
        crash at any earlier point leaves no ``_SUCCESS``, so the
        retry re-classifies against the still-newest base and rebuilds
        the half-built version from scratch (drop + delete, then
        compact again); a crash after commit re-runs the same rebuild
        to the identical bytes-equivalent state (base survives
        retirement — the newest version BELOW the batch id is always
        kept)."""
        versions = [
            v
            for v in _versions(spark, self.state_dir, self._version_prefix)
            if v < batch_id
        ]
        if not versions:
            return False
        base = versions[-1]
        if fs_exists(spark, self._marker(batch_id, base)):
            return True  # this batch's delta already committed
        name = self._table(base)
        if not spark.catalog.tableExists(name):
            return False  # post-restart parquet fallback: no append target
        if set(batch.columns) != set(state.columns):
            return False  # schema drift: decline before the count below runs
        compact_due = (
            len(self._applied_markers(spark, base)) >= self.compact_after_appends
        )
        # only the state rows sharing a batch key matter — the semi-join
        # keeps the classifier batch-sized, and no key can then be
        # present only in the state. The broadcast gate reads the raw
        # batch row count (a narrow count, no distinct shuffle):
        # _dedup_batch guarantees one row per key, so it EQUALS the
        # distinct key count.
        overlap = semi_join_keys(
            state, batch.select(*self.key).distinct(), self.key, batch.count()
        )
        with adds_only_delta(batch, overlap, self.key) as delta:
            if delta is None:
                return False  # updates, null keys or schema drift: full land
            n_new, rows = delta
            if compact_due:
                self._compact_to_version(
                    spark, name, batch_id, rows if n_new else None
                )
                self._retire(spark, batch_id)
                return True
            if n_new:
                append_bucketed_delta(
                    spark, name, rows, self.key, num_buckets=self.num_buckets
                )
            # n_new == 0 → every key already present and identical: a
            # replayed (or redundant) batch — zero rows written.
        fs_touch(
            spark,
            self._marker(batch_id, base),
            '{"batch_id": %d, "applied_to_version": %d}\n' % (batch_id, base),
        )
        # a retry of this batch re-reads the newest version below it —
        # the append target itself — so anything older is retirable
        # (same keep-set rule as the full-land path).
        self._retire(spark, batch_id)
        return True

    def _compact_to_version(
        self,
        spark: SparkSession,
        base_table: str,
        batch_id: int,
        delta: DataFrame | None,
    ) -> None:
        """Land version ``batch_id`` as the BUCKET-LOCAL compaction of
        ``base_table`` plus this batch's (adds-only) ``delta`` — see
        ``_try_adds_only_append``'s compaction note. Retry hygiene: a
        previous attempt's half-built table/directory is dropped first
        (the base stays the newest committed version until this one's
        ``_SUCCESS`` lands, so a rebuild always starts from the same
        bytes). Stale ``applied_b*_to_v{batch_id}`` markers are purged
        exactly as a full land would (they describe deltas applied to
        a PREVIOUS incarnation of this version number; the purge
        propagates errors for the same reason ``_write_version``'s
        does)."""
        from graphql_api_etl_spark.sinks.maintenance import compact_bucketed_table

        new_name = self._table(batch_id)
        spark.sql(f"DROP TABLE IF EXISTS {new_name}")
        fs_delete(
            spark,
            f"{self.state_dir}/{self._version_prefix}{batch_id}",
            recursive=True,
        )
        compact_bucketed_table(
            spark,
            base_table,
            new_name,
            self.key,
            self.num_buckets,
            extra_rows=delta,
        )
        for m in self._applied_markers(spark, batch_id):
            fs_delete(spark, f"{self.state_dir}/{m}")

    def upsert_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self.transform is not None:
            batch = self.transform(batch)
        batch = self._dedup_batch(batch)
        state = self.current_state(spark, before=batch_id)
        if state is not None and self._try_adds_only_append(
            spark, state, batch, batch_id
        ):
            return
        merged = self._merge_into_state(state, batch)
        self._write_version(merged, batch_id)
        self._retire(spark, batch_id)

    def _table(self, version: int) -> str:
        return f"{self.database}.state_v{version}"

    def current_state(self, spark: SparkSession, before: int | None = None) -> DataFrame | None:
        versions = [
            v
            for v in _versions(spark, self.state_dir, self._version_prefix)
            if before is None or v < before
        ]
        if not versions:
            return None
        name = self._table(versions[-1])
        if spark.catalog.tableExists(name):
            return spark.table(name)
        # session restart: catalog forgot the table, the committed
        # directory survives — plain-parquet fallback (bucket spec
        # returns at the next landed version).
        return spark.read.parquet(
            f"{self.state_dir}/{self._version_prefix}{versions[-1]}"
        )

    def _write_version(self, merged: DataFrame, batch_id: int) -> None:
        spark = merged.sparkSession
        ensure_bucket_database(spark, self.database, self.state_dir)
        stage_bucketed(
            spark,
            merged,
            self._table(batch_id),
            self.key,
            num_buckets=self.num_buckets,
        )
        # A full land of version V starts a NEW incarnation of it: any
        # surviving applied_b*_to_vV markers describe deltas applied to
        # the PREVIOUS incarnation and must not short-circuit future
        # batches. The case is real, not theoretical: restart the
        # stream with a FRESH checkpoint over a kept state_dir and
        # batch ids restart at 0 — batch 0 re-lands v0 in place, then
        # batch 1 arrives carrying new data; a stale applied_b1_to_v0
        # would silently swallow it (classification never runs when the
        # marker short-circuits). Purging on land restores the
        # documented invariant that correctness never depends on a
        # marker. Purge-after-land is retry-safe: a crash in between
        # re-runs this batch_id, which re-lands and purges again. The
        # purge deliberately PROPAGATES a delete error (unlike
        # retirement, which is tolerant cleanup): a surviving stale
        # marker would reintroduce the silent-swallow bug, so failing
        # the batch — foreachBatch retries, the re-land is idempotent —
        # is the correct outcome.
        for m in self._applied_markers(spark, batch_id):
            fs_delete(spark, f"{self.state_dir}/{m}")

    def _retire(self, spark: SparkSession, batch_id: int) -> None:
        # Best-effort cleanup, same contract as the parent: the state
        # is already committed, leftovers re-list next batch, so a
        # transient remote-store error must not kill the query.
        for v in self._retired_versions(spark, batch_id):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {self._table(v)}")
                fs_delete(
                    spark,
                    f"{self.state_dir}/{self._version_prefix}{v}",
                    recursive=True,
                )
                # delta-commit markers ride their base version's lifetime
                for m in self._applied_markers(spark, v):
                    fs_delete(spark, f"{self.state_dir}/{m}")
            except Exception:  # noqa: BLE001 — cleanup retries next batch
                pass
