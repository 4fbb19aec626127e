"""Reference-parity pipeline: the weekly hierarchy/permission sync as a
Spark DAG (``ETL:NNN`` ≡ ``/root/reference/weekly alignments GQL API.py``,
whole flow ETL:9–89).

The reference is an eager pandas script: fetch current API state, read
the desired state from a file drop, full-outer-diff the two, write
reconciliation CSVs, and push the delta through per-row mutations. Here
the same semantics are a composition of this engine's operators:

=====================  =====================================================
reference step          engine operator
=====================  =====================================================
hierarchy level DDL     aggregate.hierarchy_levels + level-phased sink
                        (ETL:137–175, 283–308)
location reconcile      join.outer_merge + split_by_provenance, in memory
                        (one materialized merge per pass), with the F8
                        runtime key switch and the self-healing second
                        pass (ETL:371–574)
district mapping        outer_merge locations×districts + collect_group_sets
                        (ETL:526–573)
user permissions        transform.normalize_email/conditional_update, SO1/2
                        union-distinct stack, J4/J5 outer merges, equity
                        cross join minus anti join (ETL:735–912)
corporate permissions   semi join + cross join + left-anti vs assigned
                        (ETL:915–967)
gates                   sinks.gates (V1–V5); every anti-join remainder lands
                        as a CSV report before the gate fires (ETL:817–827)
mutations               sinks.MutationSink — one Arrow collect per write,
                        posted from the driver in batches, replaces the
                        reference's per-row HTTP loop
                        (ETL:357–366, 461–470, 707–714)
=====================  =====================================================

Scale notes: every join here keys on names/emails (dimension-sized in
the reference's domain) — at data-warehouse scale the same DAG holds
because the engine's outer_merge degrades gracefully to sort-merge with
AQE skew splitting, the dim sides broadcast, and the mutation sink
posts in batches. Nothing in this module collects a fact table to the
driver; the only driver-side values are

- the F8 plan switch (ETL:390), a "no counterexample" check over the
  driver-built API snapshot that the optimizer answers without a job;
- the three provenance-slice counts of each outer merge, observed on
  its checkpoint (:class:`Materializer`), which drive the reports and
  gates;
- the equity user and group counts, observed on the ``pairs``
  checkpoint;
- the distinct hierarchy levels (one value per tree level), observed
  on the hierarchy checkpoint;
- each mutation write's payload (the delta to post, dimension-sized),
  collected once and posted from the driver, with the record and
  failure counts counted as it posts.

Spark's cost per job, not data volume, dominates a sync. So each frame
that more than one action reads, and whose plan shuffles, is
materialized once (:class:`Materializer`); every count rides a
checkpoint that runs anyway or comes from the write that posts the
frame. Re-reading a plan with no exchange (the driver-built API
snapshots) costs no more jobs than materializing it. The file drop is
read once, into the sync's first checkpoint: re-reading it would
re-run its parser (for an ``.xlsx`` drop, Python) in every action.

For the same reason the sync runs its pure work on background threads
beside the main thread (:func:`run_weekly_sync`), and starts each call
as soon as its inputs exist, not at a fixed point of its phase. The
reference runs its steps one after another, but pass 1 of the location
reconcile reads only the drop and the API's locations, and phase 3's
merges never read phase 2's output. So the users and pass 1's
locations are fetched from the sync's first moment, while the drop is
read; pass 1 (:func:`reconcile_location_pass`) and the J4 users merge
(:func:`match_file_users`) each start once their fetch and the drop
checkpoint exist, while phase 1 writes the hierarchy; the rest of
phase 3's pure half with the corporate pairs
(:func:`user_permission_pairs`) runs while the main thread runs phase
2. Every effect — a post, a report CSV, a gate, a report entry — stays
on the main thread, in the reference's order.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators.aggregate import (
    collect_group_sets,
    hierarchy_levels,
)
from graphql_api_etl_spark.operators.join import (
    MERGE_BOTH,
    MERGE_LEFT,
    MERGE_RIGHT,
    anti,
    cross,
    outer_merge,
    split_by_provenance,
)
from graphql_api_etl_spark.operators.transform import (
    all_equal,
    conditional_update,
    normalize_email,
    zip5,
)
from graphql_api_etl_spark.sinks.gates import ValidationError, warn_if_nonempty
from graphql_api_etl_spark.sinks.mutations import MutationSink, write_level_phased
from graphql_api_etl_spark.sinks.reports import write_csv_report

# The sync stages nothing; this name stays only because
# `perfbench/run.py --trace 1` wraps `wa.ReconcileStaging.land`. It goes
# away with the next benchmark change.
from graphql_api_etl_spark.sinks.tables import ReconcileStaging  # noqa: E402,F401


@dataclass
class PipelineContext:
    """Everything the sync needs: current-state sources, the file drop,
    mutation sinks, and a report directory.

    ``fetch_*`` are callables so the pipeline controls when each
    connection is read; in production they wrap
    sources.graphql.fetch_connection, in tests they read mock state.
    A sync calls each of them once, and ``fetch_locations`` a second
    time only after the self-healing load:

    - ``fetch_users`` and pass 1's ``fetch_locations`` are called at
      sync start, each on a background thread of its own, while the
      main thread reads the drop and phase 1 writes the hierarchy:
      nothing in the sync adds users, and phase 1 writes only hierarchy
      groups. Pass 1 and the J4 users merge follow them there.
    - ``fetch_hierarchy_groups`` is called on the main thread after
      phase 1's writes.
    - Pass 2's ``fetch_locations`` (the reference's second merge pass,
      ETL:474–506) is called on the main thread after the load.

    So a ``fetch_*`` may run off the thread that built the context, and
    at the same time as another ``fetch_*``: a client they share must
    be safe to share across threads (``net.HttpGQLApi`` is).
    """

    alignments: DataFrame  # normalized Excel sheet (S1; columns per FIXTURES.md A1)
    corporate_managers: DataFrame  # single-column CSV (S2)
    fetch_hierarchy_groups: Callable[[], DataFrame]  # flattened connection (S3+S4)
    fetch_locations: Callable[[], DataFrame]
    fetch_users: Callable[[], DataFrame]
    location_sink: MutationSink
    assignment_sink: MutationSink
    user_sink: MutationSink
    permission_sink: MutationSink
    report_dir: str
    backfill_supervisors: tuple[str, ...] = ()  # P5 allowlist (ETL:759–763)
    # Unused: the sync reconciles locations in memory and lands no
    # bucketed table. Kept because perfbench/run.py still passes it; it
    # goes with the next change to the benchmark.
    reconcile_buckets: int = 32


class Materializer:
    """Materializes each frame a sync reads with more than one action,
    once, and releases them all when the ``with`` block ends, whether
    the sync returns or a gate raises.

    ``localCheckpoint`` rather than ``persist``: the checkpoint runs
    the plan once, eagerly, at the one place the sync chose, and its
    lineage is cut there, so a later action never re-runs the plan.
    ``DataFrame.unpersist`` does not release a checkpoint, so the exit
    unpersists the checkpointed RDD itself; a released frame can no
    longer be read.

    Counts ride the checkpoint. A call returns the checkpointed frame
    and the aggregates observed while the checkpoint computed it
    (``DataFrame.observe``): for an ``outer_merge`` result (a ``_merge``
    column) the row counts of its three provenance slices, keyed
    ``both``, ``left_only`` and ``right_only``, plus one value per
    keyword aggregate (a ``collect_set`` arrives as a list). The
    observed values arrive with the eager checkpoint, so a count costs
    no job. ``observe`` refuses DISTINCT aggregates: count distinct
    values as ``size(collect_set(...))``.

    Every thread of a sync shares one Materializer. The sync drains its
    background threads before the block ends, so no frame is
    checkpointed after the release."""

    def __init__(self) -> None:
        self._rdds: list = []

    def __call__(self, df: DataFrame, **observe: Column) -> tuple[DataFrame, dict]:
        if "_merge" in df.columns:
            slices = (MERGE_BOTH, MERGE_LEFT, MERGE_RIGHT)
            observe = {s: F.count_if(F.col("_merge") == s) for s in slices} | observe
        observation = Observation() if observe else None
        if observation is not None:
            df = df.observe(observation, *(c.alias(name) for name, c in observe.items()))
        out = df.localCheckpoint(eager=True)
        self._rdds.append(out._jdf.logicalPlan().rdd())
        return out, observation.get if observation is not None else {}

    def __enter__(self) -> Materializer:
        return self

    def __exit__(self, *exc_info) -> None:
        for rdd in self._rdds:
            rdd.unpersist(False)
        self._rdds.clear()


@contextmanager
def background_thread(spark: SparkSession) -> Iterator[Callable[..., Future]]:
    """Worker threads beside the driver's main thread, for the ``with``
    block. ``submit(fn, *args)`` returns a Future. The call starts as
    soon as every Future among ``args`` (of an earlier call) is done,
    beside any other call whose inputs exist, so no call waits behind
    one it does not read. Those Futures are resolved to their results
    before ``fn`` runs, and an error among them is raised in place of
    ``fn``'s. Each call runs with the Spark local properties and job
    tags the submitting thread had at submit time, so its jobs land in
    the caller's job group. On exit, calls not yet started are
    cancelled and the running ones are waited for, whether the block
    returns or raises."""
    pool = ThreadPoolExecutor(thread_name_prefix="weekly-sync")
    lock = threading.Lock()
    submitted: list[Future] = []
    closing = False

    def submit(fn: Callable, *args) -> Future:
        call = inheritable_thread_target(spark)(
            lambda: fn(*(a.result() if isinstance(a, Future) else a for a in args))
        )
        out: Future = Future()
        inputs = [a for a in args if isinstance(a, Future)]

        def run() -> None:
            if out.set_running_or_notify_cancel():
                try:
                    out.set_result(call())
                except BaseException as exc:
                    out.set_exception(exc)

        # One callback chain per call: it waits on one unfinished input
        # at a time, so ``run`` is queued at most once.
        def start(_: Future | None = None) -> None:
            waiting = next((a for a in inputs if not a.done()), None)
            if waiting is not None:
                waiting.add_done_callback(start)
                return
            with lock:
                if not closing:
                    pool.submit(run)

        submitted.append(out)
        start()
        return out

    try:
        yield submit
    finally:
        with lock:
            closing = True
        for out in submitted:
            out.cancel()  # only a call not yet running is cancelled
        pool.shutdown(wait=True)


@dataclass
class SyncReport:
    """Outcome summary: per-phase row counts + report paths (the
    reference's print statements and CSV drops, made queryable)."""

    counts: dict[str, int] = field(default_factory=dict)
    reports: dict[str, str] = field(default_factory=dict)

    def note(self, name: str, n: int) -> None:
        self.counts[name] = n


# ---------------------------------------------------------------------------
# Phase 1 — hierarchy groups (ETL:137–175, 276–322)
# ---------------------------------------------------------------------------


def build_hierarchy(alignments: DataFrame) -> DataFrame:
    """Region→District tree with parent-before-child levels (A4,
    ETL:283–308): one row per region (level 1), one per (region,
    district) (level 2). Ordering is by level-phased writes, not row
    order."""
    alignments = alignments.select(
        F.col("region_supervisor").alias("region"), F.col("district").alias("district")
    )
    return hierarchy_levels(alignments, ["region", "district"])


# ---------------------------------------------------------------------------
# Phase 2 — location reconciliation (ETL:371–574)
# ---------------------------------------------------------------------------


def choose_location_key(api_locations: DataFrame) -> str:
    """F8 plan switch (ETL:390, 481): if every API remoteId is empty
    (or the API holds no locations), join on location name; else on
    Unit↔remoteId. The answer drives which plan gets BUILT —
    deliberately driver-side; over the driver-built snapshot it costs
    no Spark job (:func:`~graphql_api_etl_spark.operators.transform.all_equal`)."""
    empty_remote = all_equal(
        api_locations, F.coalesce(F.col("node_remoteId"), F.lit("")) == ""
    )
    return "name" if empty_remote else "remote_id"


def reconcile_locations(alignments: DataFrame, api_locations: DataFrame, key: str) -> DataFrame:
    """One full-outer pass (J1/J2, ETL:391–425): the file drop merged
    with the API's locations on the F8-chosen ``key``, in memory.
    ``split_by_provenance`` of the result gives (matched,
    missing_in_api, deprecated_in_api). Both sides are dimension-sized,
    so the sync materializes the merge once per pass, observes its
    counts on the checkpoint and reads its CSVs and ``locationAdd``
    payload from it."""
    lhs = alignments.withColumn("unit_str", F.col("unit").cast("bigint").cast("string"))
    lkey, rkey = ("location", "node_name") if key == "name" else ("unit_str", "node_remoteId")
    return outer_merge(lhs, api_locations, left_on=lkey, right_on=rkey)


def missing_location_payload(missing: DataFrame) -> DataFrame:
    """Projection/cast battery for locationAdd (P1/P2/X3/X5/X7,
    ETL:438–457): normalized address fields + zip5 + unit-as-remoteId."""
    return missing.select(
        F.col("location").alias("name"),
        F.coalesce(F.col("address"), F.lit("")).alias("streetAddress"),
        F.coalesce(F.col("city"), F.lit("")).alias("locality"),
        F.coalesce(F.col("state"), F.lit("")).alias("province"),
        F.coalesce(zip5(F.col("zip_code")), F.lit("")).alias("postalCode"),
        F.col("unit").cast("bigint").cast("string").alias("remoteId"),
    ).na.fill("")


def reconcile_location_pass(
    ctx: PipelineContext, api_locations: DataFrame, materialize: Materializer
) -> tuple[DataFrame, dict]:
    """One location pass over a fetch of the API's locations: choose the
    F8 key over ``api_locations`` and materialize
    :func:`reconcile_locations`. Returns the checkpointed merge and its
    provenance counts. It has no effect, so the sync runs pass 1 on its
    background thread once the drop checkpoint and pass 1's fetch (made
    at sync entry) exist; pass 2 fetches again and runs on the main
    thread after the self-healing load."""
    key = choose_location_key(api_locations)
    return materialize(reconcile_locations(ctx.alignments, api_locations, key))


def map_locations_to_hierarchies(
    ctx: PipelineContext,
    report: SyncReport,
    groups: DataFrame,
    pass1: tuple[DataFrame, dict],
    materialize: Materializer,
) -> DataFrame:
    """The relational core (§3.3): take pass 1's reconcile
    (:func:`reconcile_location_pass`, run before the call), load the
    anti-join remainder, re-fetch, reconcile again, then map matched
    locations to the districts among ``groups`` (the sync's
    hierarchy-group snapshot) and collect location sets per district
    (A1). When pass 1 finds nothing missing, nothing is loaded, so pass
    1's merge and counts serve as pass 2's."""
    merged, n = pass1
    report.note("locations_matched_pass1", n[MERGE_BOTH])
    report.note("locations_missing_pass1", n[MERGE_LEFT])

    # Load missing locations (ETL:430–470), then self-heal: re-fetch and re-merge.
    if n[MERGE_LEFT]:
        _, missing, _ = split_by_provenance(merged)
        path = f"{ctx.report_dir}/new_locations_not_in_api"
        payload = missing_location_payload(missing)
        report.reports["missing_locations"] = write_csv_report(payload, path)
        report.note("location_add_failures", ctx.location_sink.write(payload).failed)
        # Pass 2 re-fetches and re-chooses the key, as the reference
        # re-evaluates the remoteId-emptiness switch after the
        # self-healing load (second ``(node_remoteId == '').all()``,
        # ETL:~481): if the load populated remoteIds, pass 2 joins on
        # remoteId even though pass 1 joined on name.
        merged, n = reconcile_location_pass(ctx, ctx.fetch_locations(), materialize)

    both, still_missing, deprecated = split_by_provenance(merged)
    # V3 residual warning + V5 deprecated-locations CSV (ETL:508–524)
    if warn_if_nonempty(
        still_missing.select("location", "unit"),
        "locations_still_unloaded",
        f"{ctx.report_dir}/locations_still_unloaded",
        n[MERGE_LEFT],
    ):
        report.reports["still_unloaded"] = f"{ctx.report_dir}/locations_still_unloaded"
    if warn_if_nonempty(
        deprecated.select("node_id", "node_name"),
        "api_locations_not_in_file",
        f"{ctx.report_dir}/api_locations_not_in_file",
        n[MERGE_RIGHT],
    ):
        report.reports["deprecated_locations"] = f"{ctx.report_dir}/api_locations_not_in_file"
    report.note("locations_matched_pass2", n[MERGE_BOTH])

    # Districts = non-top hierarchy groups (F3+P1/P2, ETL:526–530);
    # J3 outer merge + split (ETL:531–550); A1 collect (ETL:563–573).
    districts = groups.filter(~F.col("node_isTop")).select(
        F.col("node_id").alias("district_group_id"),
        F.col("node_name").alias("district_name"),
    )
    with_district, n = materialize(
        outer_merge(
            both.select(
                F.col("district").alias("current_district"),
                F.col("node_id").alias("location_id"),
            ),
            districts,
            left_on="current_district",
            right_on="district_name",
        )
    )
    matched, _, outdated = split_by_provenance(with_district)
    if warn_if_nonempty(
        outdated.select("district_group_id", "district_name"),
        "outdated_districts",
        f"{ctx.report_dir}/outdated_districts",
        n[MERGE_RIGHT],
    ):
        report.reports["outdated_districts"] = f"{ctx.report_dir}/outdated_districts"

    return collect_group_sets(matched, "district_group_id", "location_id", out_col="location_ids")


# ---------------------------------------------------------------------------
# Phase 3 — user permissions (ETL:735–912)
# ---------------------------------------------------------------------------


@dataclass
class PermissionFrames:
    """Phase 3's pure half (:func:`user_permission_pairs`): checkpointed
    frames and the counts observed on them. Nothing here has been
    posted, written or reported yet."""

    unmatched_file: DataFrame  # (hierarchy_name, email): V4 evidence
    n_unmatched_file: int
    unmatched_api: DataFrame  # (node_id, node_email)
    n_unmatched_api: int
    userless: DataFrame  # (group_id, group_name): groups nobody is granted
    n_userless: int
    equity_pairs: int  # |equity users × equity region groups|
    pairs: DataFrame  # materialized (user_id, group_id) permissions
    corporate: DataFrame  # materialized (user_id, group_id) corporate grants not in pairs


def api_users(ctx: PipelineContext) -> DataFrame:
    """The sync's users snapshot: ``fetch_users`` with e-mails
    normalized (X1, ETL:754–756) for the J4 merge and the corporate
    semi join."""
    return ctx.fetch_users().withColumn("node_email", normalize_email("node_email"))


def match_file_users(
    ctx: PipelineContext, users: DataFrame, materialize: Materializer
) -> tuple[DataFrame, dict]:
    """J4 (ETL:805–811): the drop's long (hierarchy_name, email, role)
    table outer-merged with the API users (``users``, e-mails
    normalized) on e-mail. Returns the checkpointed merge and its
    provenance counts. It reads only the drop and the users snapshot,
    so the sync runs it on a background thread as soon as the drop
    checkpoint and the users fetch exist, beside pass 1, while phase 1
    writes the hierarchy."""
    al = ctx.alignments

    # X1/X2 normalization (ETL:754–756) + P5 backfill for allowlisted
    # supervisors whose SUPERVISOR Email is null (ETL:759–771).
    al = al.withColumn("dm_email", normalize_email("dm_email")).withColumn(
        "supervisor_email", normalize_email("supervisor_email")
    )
    if ctx.backfill_supervisors:
        al = conditional_update(
            al,
            "supervisor_email",
            F.col("supervisor_email").isNull()
            & F.col("region_supervisor").isin(*ctx.backfill_supervisors),
            F.col("dm_email"),
        )

    # SO1/SO2: stack region-level (supervisor) and district-level (DM)
    # grants into one long frame (ETL:775–801).
    region_rows = al.select(
        F.col("region_supervisor").alias("hierarchy_name"),
        F.col("supervisor_email").alias("email"),
        F.lit("Region").alias("type_hierarchy"),
        F.col("franchise_or_equity"),
    )
    district_rows = al.select(
        F.col("district").alias("hierarchy_name"),
        F.col("dm_email").alias("email"),
        F.lit("District").alias("type_hierarchy"),
        F.col("franchise_or_equity"),
    )
    users_long = region_rows.unionByName(district_rows).na.drop(subset=["email"]).distinct()
    return materialize(outer_merge(users_long, users, left_on="email", right_on="node_email"))


def user_permission_pairs(
    ctx: PipelineContext,
    file_users: tuple[DataFrame, dict],
    users: DataFrame,
    groups: DataFrame,
    materialize: Materializer,
) -> PermissionFrames:
    """Phase 3's pure half: J4's file × API users merge
    (``file_users``, from :func:`match_file_users`) → group ids
    (``groups``) → equity cross-join expansion (J6) minus equity rows
    from the normal path (J9) → materialized (user_id, group_id) pairs,
    and the corporate grants (:func:`corporate_permission_pairs`) not
    among them, materialized too.

    It reads only the file drop and the sync's users/groups snapshot,
    never phase 2's output, and has no effect: it posts nothing, writes
    no CSV, sets no report entry and raises no gate. So the sync runs it
    on a background thread beside phase 2, and
    :func:`build_user_permission_frame` applies the effects."""
    m, n_users = file_users
    matched, unmatched_file, unmatched_api = split_by_provenance(m)

    # J5: attach hierarchy-group ids by name (ETL:845–855).
    hm, n_groups = materialize(
        outer_merge(
            matched.select("hierarchy_name", "type_hierarchy", "franchise_or_equity", "node_id"),
            groups.select(
                F.col("node_id").alias("group_id"),
                F.col("node_name").alias("group_name"),
                F.col("node_isTop").alias("group_is_top"),
            ),
            left_on="hierarchy_name",
            right_on="group_name",
        )
    )
    assigned, _, userless = split_by_provenance(hm)

    # Equity expansion (ETL:877–903): equity users get EVERY equity
    # region group (J6 cross join); the normal path excludes rows the
    # equity predicate already covers (J9 — anti by defining predicate).
    # The equity user and group counts ride the pairs checkpoint.
    is_equity_region = (F.col("type_hierarchy") == "Region") & (
        F.col("franchise_or_equity") == "Equity"
    )
    pairs, n_equity = materialize(
        assigned.select(
            F.col("node_id").alias("user_id"),
            F.col("group_id"),
            "type_hierarchy",
            "franchise_or_equity",
        ).distinct(),
        equity_users=F.size(F.collect_set(F.when(is_equity_region, F.col("user_id")))),
        equity_groups=F.size(F.collect_set(F.when(is_equity_region, F.col("group_id")))),
    )
    equity_rows = pairs.filter(is_equity_region)
    equity_pairs = cross(
        equity_rows.select("user_id").distinct(), equity_rows.select("group_id").distinct()
    )
    normal_pairs = pairs.filter(~is_equity_region).select("user_id", "group_id")
    final, _ = materialize(equity_pairs.unionByName(normal_pairs).distinct())
    corporate, _ = materialize(corporate_permission_pairs(ctx, final, users, groups))
    return PermissionFrames(
        unmatched_file=unmatched_file.select("hierarchy_name", "email"),
        n_unmatched_file=n_users[MERGE_LEFT],
        unmatched_api=unmatched_api.select("node_id", "node_email"),
        n_unmatched_api=n_users[MERGE_RIGHT],
        userless=userless.select("group_id", "group_name"),
        n_userless=n_groups[MERGE_RIGHT],
        equity_pairs=n_equity["equity_users"] * n_equity["equity_groups"],
        pairs=final,
        corporate=corporate,
    )


def build_user_permission_frame(
    ctx: PipelineContext, report: SyncReport, frames: PermissionFrames
) -> DataFrame:
    """Phase 3's effects, in the reference's order: the V4 hard gate
    (evidence CSV, then raise), the unmatched-API-users and
    hierarchies-without-users CSVs, and the equity pair count. Returns
    the (user_id, group_id) pairs to post."""
    # V4 hard gate: every file user must exist in the API (ETL:817–827).
    if frames.n_unmatched_file:
        path = f"{ctx.report_dir}/unmatched_file_users"
        write_csv_report(frames.unmatched_file, path)
        report.reports["unmatched_file_users"] = path
        raise ValidationError(f"unmatched_file_users: {frames.n_unmatched_file} (evidence: {path})")
    if warn_if_nonempty(
        frames.unmatched_api,
        "unmatched_api_users",
        f"{ctx.report_dir}/unmatched_api_users",
        frames.n_unmatched_api,
    ):
        report.reports["unmatched_api_users"] = f"{ctx.report_dir}/unmatched_api_users"
    if warn_if_nonempty(
        frames.userless,
        "hierarchies_without_users",
        f"{ctx.report_dir}/hierarchies_without_users",
        frames.n_userless,
    ):
        report.reports["hierarchies_without_users"] = f"{ctx.report_dir}/hierarchies_without_users"
    report.note("equity_pairs", frames.equity_pairs)
    return frames.pairs


def corporate_permission_pairs(
    ctx: PipelineContext, assigned_pairs: DataFrame, users: DataFrame, groups: DataFrame
) -> DataFrame:
    """Corporate managers × top-level groups (J7, ETL:948–955) minus
    already-assigned (J8, ETL:957–960); unknown corporate emails are
    simply absent from the semi join (F4, ETL:943–945). ``users`` and
    ``groups`` are the sync's snapshot, e-mails normalized."""
    # A semi join emits each user at most once, so ``corp`` needs no distinct.
    corp = ctx.corporate_managers.select(
        normalize_email(F.col(ctx.corporate_managers.columns[0])).alias("email")
    )
    corp_users = (
        users.join(corp, users.node_email == corp.email, "left_semi")
        .select(F.col("node_id").alias("user_id"))
        .distinct()
    )
    top_groups = groups.filter(F.col("node_isTop")).select(F.col("node_id").alias("group_id")).distinct()
    return anti(cross(corp_users, top_groups), assigned_pairs, on=["user_id", "group_id"])


# ---------------------------------------------------------------------------
# Driver — the §3.1 DAG
# ---------------------------------------------------------------------------


def run_weekly_sync(ctx: PipelineContext) -> SyncReport:
    """Full pipeline: hierarchy DDL → location mapping → assignments →
    user permissions → corporate permissions. Mutations flow through
    batched sinks; each write returns the record and failure counts the
    report records (A8, ETL:706–731).

    The drop is read once: its first step materializes
    ``ctx.alignments``, and every later plan reads that checkpoint.
    Work is scheduled by what it reads, not by its phase: work that
    reads no earlier phase's output runs on a background thread
    (:func:`background_thread`) as soon as its inputs exist, while the
    main thread waits on Spark. The users and pass 1's locations are
    fetched from sync entry, while the drop is materialized; pass 1's
    location reconcile (:func:`reconcile_location_pass`) and the J4
    users merge (:func:`match_file_users`) run during phase 1, each as
    soon as its fetch and the drop checkpoint exist; the rest of phase
    3's pure half with the corporate pairs (:func:`user_permission_pairs`)
    runs during phase 2. The main thread applies every effect in the
    reference's order, so the posts, CSVs, gates and counts are those
    of a serial run. The background threads are drained before any
    checkpoint is released."""
    report = SyncReport()
    spark = ctx.alignments.sparkSession
    with Materializer() as materialize, background_thread(spark) as submit:
        users_fetched = submit(api_users, ctx)
        locations_fetched = submit(ctx.fetch_locations)
        # The drop is scanned once; every later plan reads the checkpoint.
        drop, _ = materialize(ctx.alignments)
        ctx = replace(ctx, alignments=drop)
        pass1 = submit(reconcile_location_pass, ctx, locations_fetched, materialize)
        file_users = submit(match_file_users, ctx, users_fetched, materialize)

        # Phase 1: hierarchy levels + groups, written one level at a
        # time, parent level before child. The level list is observed
        # on the checkpoint.
        hierarchy, seen = materialize(
            build_hierarchy(ctx.alignments).select("group_name", "parent_name", "level", "is_top"),
            levels=F.collect_set("level"),
        )
        levels = write_level_phased(ctx.assignment_sink, hierarchy, sorted(seen["levels"]))
        for level, posted in levels.items():
            report.note(f"hierarchy_level{level}_failed", posted.failed)
        report.note("hierarchy_rows", sum(p.records for p in levels.values()))

        # One snapshot of users and hierarchy groups per sync; the
        # groups are read after phase 1 wrote them.
        groups = ctx.fetch_hierarchy_groups()
        users = users_fetched.result()
        permissions = submit(user_permission_pairs, ctx, file_users, users, groups, materialize)

        # Phase 2: locations → district assignments.
        assignments = map_locations_to_hierarchies(ctx, report, groups, pass1.result(), materialize)
        posted = ctx.assignment_sink.write(
            assignments.select("district_group_id", F.col("location_ids").cast("array<string>"))
        )
        report.note("districts_with_locations", posted.records)
        report.note("assignment_failures", posted.failed)

        # Phase 3: user + corporate permissions.
        frames = permissions.result()
        pairs = build_user_permission_frame(ctx, report, frames)
        posted = ctx.permission_sink.write(pairs)
        report.note("permission_pairs", posted.records)
        report.note("permission_failures", posted.failed)
        if posted.failed:
            write_csv_report(
                posted.status.filter(~F.col("success")), f"{ctx.report_dir}/failed_permissions"
            )
            report.reports["failed_permissions"] = f"{ctx.report_dir}/failed_permissions"

        posted = ctx.permission_sink.write(frames.corporate)
        report.note("corporate_pairs_new", posted.records)
        report.note("corporate_permission_failures", posted.failed)
    return report
