"""End-to-end test of the reference-parity weekly sync (SURVEY §3.1)
against the FIXTURES.md §A tables, with a mock mutation sink capturing
every payload — the golden invariants from FIXTURES.md encoded as
assertions."""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from graphql_api_etl_spark.pipelines import PipelineContext, run_weekly_sync
from graphql_api_etl_spark.pipelines.weekly_alignments import (
    build_hierarchy,
    choose_location_key,
)
from graphql_api_etl_spark.sinks.gates import ValidationError
from graphql_api_etl_spark.sinks.mutations import MockMutationClient, MutationSink

from fixtures import (
    SpoolClient,
    alignments_df,
    api_hierarchy_groups_df,
    api_locations_df,
    api_users_df,
    corporate_managers_df,
    read_spool,
)


@pytest.fixture()
def ctx_and_spools(spark, tmp_path):
    """Pipeline context over file-spooled mock state: loading locations
    writes to the spool, so the self-healing re-fetch sees them."""
    loc_spool = str(tmp_path / "spool_loc")
    perm_spool = str(tmp_path / "spool_perm")
    assign_spool = str(tmp_path / "spool_assign")

    def fetch_locations():
        extra = [
            (f"locNew{i}", r["name"], r["remoteId"])
            for i, r in enumerate(read_spool(loc_spool))
        ]
        return api_locations_df(spark, remote_ids=True, extra=extra)

    ctx = PipelineContext(
        alignments=alignments_df(spark),
        corporate_managers=corporate_managers_df(spark),
        fetch_hierarchy_groups=lambda: api_hierarchy_groups_df(spark),
        fetch_locations=fetch_locations,
        fetch_users=lambda: api_users_df(spark),
        location_sink=MutationSink(lambda: SpoolClient(loc_spool), "locationAdd", batch_size=10),
        assignment_sink=MutationSink(lambda: SpoolClient(assign_spool), "hierarchyAssign", batch_size=10),
        user_sink=MutationSink(lambda: MockMutationClient(), "userAdd", batch_size=10),
        permission_sink=MutationSink(lambda: SpoolClient(perm_spool), "permissionAdd", batch_size=10),
        report_dir=str(tmp_path / "outs"),
        backfill_supervisors=("Acme / Ada Lovelace",),
    )
    return ctx, {"loc": loc_spool, "perm": perm_spool, "assign": assign_spool}


def test_location_key_reevaluated_after_selfheal_refetch(spark, tmp_path):
    """Reference parity (second ``(node_remoteId == '').all()`` switch,
    ETL:~481): pass 1 joins on NAME (API has no remoteIds yet); the
    self-healing load populates remoteIds, so pass 2 must re-choose the
    remoteId key. A location renamed in the API (name mismatch, unit↔
    remoteId match) only reconciles in pass 2 if the key was re-chosen."""
    from graphql_api_etl_spark.pipelines.weekly_alignments import (
        Materializer,
        SyncReport,
        map_locations_to_hierarchies,
    )

    loc_spool = str(tmp_path / "spool_loc")
    calls = {"n": 0}

    def fetch_locations():
        calls["n"] += 1
        if calls["n"] == 1:
            return api_locations_df(spark, remote_ids=False)  # pass 1: names only
        renamed = api_locations_df(spark, remote_ids=True).withColumn(
            "node_name",
            F.when(F.col("node_name") == "Store Alpha", "Store Alpha (rebranded)").otherwise(
                F.col("node_name")
            ),
        )
        extra = spark.createDataFrame(
            [
                (f"cN{i}", f"locNew{i}", r["name"], r["remoteId"], "grp-x", False, "D-?")
                for i, r in enumerate(read_spool(loc_spool))
            ],
            renamed.schema,
        )
        return renamed.unionByName(extra)

    ctx = PipelineContext(
        alignments=alignments_df(spark),
        corporate_managers=corporate_managers_df(spark),
        fetch_hierarchy_groups=lambda: api_hierarchy_groups_df(spark),
        fetch_locations=fetch_locations,
        fetch_users=lambda: api_users_df(spark),
        location_sink=MutationSink(lambda: SpoolClient(loc_spool), "locationAdd", batch_size=10),
        assignment_sink=MutationSink(lambda: MockMutationClient(), "hierarchyAssign"),
        user_sink=MutationSink(lambda: MockMutationClient(), "userAdd"),
        permission_sink=MutationSink(lambda: MockMutationClient(), "permissionAdd"),
        report_dir=str(tmp_path / "outs"),
    )
    report = SyncReport()
    with Materializer() as materialize:
        map_locations_to_hierarchies(ctx, report, ctx.fetch_hierarchy_groups(), materialize)
    # pass 1 on name: Alpha..Delta match; Echo+Foxtrot loaded
    assert report.counts["locations_matched_pass1"] == 4
    assert report.counts["locations_missing_pass1"] == 2
    # pass 2 re-chose remoteId → the renamed Alpha still reconciles
    # (6 = Alpha..Delta + the two self-healed); a stale name key → 5
    assert report.counts["locations_matched_pass2"] == 6


def test_full_sync_end_to_end(ctx_and_spools):
    ctx, spools = ctx_and_spools
    report = run_weekly_sync(ctx)

    # Hierarchy: 3 regions + 4 (region, district) rows, levels phased.
    assert report.counts["hierarchy_rows"] == 7
    assert report.counts["hierarchy_level1_failed"] == 0
    assert report.counts["hierarchy_level2_failed"] == 0

    # Locations: remoteId variant chosen (API has remote ids); pass 1
    # matches Alpha..Delta, Echo+Foxtrot missing then self-healed.
    assert report.counts["locations_matched_pass1"] == 4
    assert report.counts["locations_missing_pass1"] == 2
    assert report.counts["locations_matched_pass2"] == 6
    loaded = read_spool(spools["loc"])
    assert sorted(r["name"] for r in loaded) == ["Store Echo", "Store Foxtrot"]
    # zip5: ZIP+4 split and float-zip truncation (ETL:331-332, 351)
    by_name = {r["name"]: r for r in loaded}
    assert by_name["Store Echo"]["postalCode"] == "97701"
    assert by_name["Store Foxtrot"]["postalCode"] == ""  # junk → NULL → ""

    # Districts: D-West group absent from the API → its locations are
    # in the outdated/unmatched slice; 3 districts get assignments.
    assert report.counts["districts_with_locations"] == 3

    # Permissions. Ada's null supervisor_email is backfilled ROW-WISE
    # from DM Email (reference P5 semantics, ETL:759–771), so her
    # region grant lands on her DMs {nora, sam}; equity users are
    # therefore {nora, sam, grace} × equity regions {grp-r0, grp-r1}
    # = 6 pairs. Normal: alan→grp-r2 + DM grants for districts present
    # in the API (D-North→nora, D-South→sam, D-East→eve; D-West absent).
    assert report.counts["equity_pairs"] == 6
    assert report.counts["permission_pairs"] == 6 + 1 + 3
    assert report.counts["permission_failures"] == 0

    # Corporate: 2 known corporate users × 3 top groups = 6, none
    # previously assigned (corp users hold no region grants).
    assert report.counts["corporate_pairs_new"] == 6

    # Reports written for every anti-join remainder.
    assert "deprecated_locations" in report.reports  # Store Zombie
    assert "outdated_districts" in report.reports  # D-West
    assert "unmatched_api_users" in report.reports  # ghost@acme.com


def test_equity_pairs_exact(ctx_and_spools):
    ctx, spools = ctx_and_spools
    run_weekly_sync(ctx)
    pairs = {(r["user_id"], r["group_id"]) for r in read_spool(spools["perm"])}
    # golden equity block: every equity user (grace directly; nora and
    # sam via the row-wise backfill of Ada's null email) gets BOTH
    # equity regions
    for u in ("u-nora", "u-sam", "u-grace"):
        for g in ("grp-r0", "grp-r1"):
            assert (u, g) in pairs
    # ada has no email anywhere in the file post-backfill → no grants
    assert not any(u == "u-ada" for u, _ in pairs)
    # franchise supervisor only their own region
    assert ("u-alan", "grp-r2") in pairs
    assert ("u-alan", "grp-r0") not in pairs
    # corporate managers on every top group
    for u in ("u-corp1", "u-corp2"):
        for g in ("grp-r0", "grp-r1", "grp-r2"):
            assert (u, g) in pairs
    # straggler API user gets nothing
    assert not any(u == "u-straggler" for u, _ in pairs)


def test_hard_gate_on_unmatched_file_user(spark, tmp_path):
    """V4 (ETL:817–827): a file email missing from the API aborts the
    sync after writing the evidence CSV."""
    client = MockMutationClient()
    ctx = PipelineContext(
        alignments=alignments_df(spark),
        corporate_managers=corporate_managers_df(spark),
        fetch_hierarchy_groups=lambda: api_hierarchy_groups_df(spark),
        fetch_locations=lambda: api_locations_df(spark),
        fetch_users=lambda: api_users_df(spark, drop_emails=("sam@acme.com",)),
        location_sink=MutationSink(lambda: client, "locationAdd"),
        assignment_sink=MutationSink(lambda: client, "assign"),
        user_sink=MutationSink(lambda: client, "userAdd"),
        permission_sink=MutationSink(lambda: client, "permissionAdd"),
        report_dir=str(tmp_path / "outs"),
        backfill_supervisors=("Acme / Ada Lovelace",),
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    held_before = persistent().size()
    with pytest.raises(ValidationError, match="unmatched_file_users"):
        run_weekly_sync(ctx)
    import glob

    assert glob.glob(str(tmp_path / "outs" / "unmatched_file_users" / "part-*.csv"))
    # the frames materialized before the gate fired are released too
    assert persistent().size() == held_before


def _counted(calls: list, name: str, fn):
    def counted(*args, **kwargs):
        calls.append(name)
        return fn(*args, **kwargs)

    return counted


def test_sync_fetches_users_and_groups_once(spark, ctx_and_spools, tmp_path, monkeypatch):
    """One snapshot per connection: users and hierarchy groups are
    fetched once per sync, groups only after phase 1's level writes
    reached the assignment sink (and before phase 2 posts its
    assignments there); locations are fetched and reconciled again
    only when the self-healing load ran."""
    from graphql_api_etl_spark.pipelines import weekly_alignments as wa

    ctx, spools = ctx_and_spools
    calls: list[str] = []
    assign_sink_at_group_fetch = []

    def fetch_groups():
        recs = read_spool(spools["assign"])
        assign_sink_at_group_fetch.append((sum("group_name" in r for r in recs), len(recs)))
        return ctx.fetch_hierarchy_groups()

    report = run_weekly_sync(
        replace(
            ctx,
            fetch_users=_counted(calls, "users", ctx.fetch_users),
            fetch_hierarchy_groups=_counted(calls, "groups", fetch_groups),
            fetch_locations=_counted(calls, "locations", ctx.fetch_locations),
        )
    )
    assert report.counts["locations_missing_pass1"] == 2
    assert Counter(calls) == {"users": 1, "groups": 1, "locations": 2}
    # all 7 hierarchy rows (3 regions + 4 districts), nothing else
    assert assign_sink_at_group_fetch == [(7, 7)]

    # an API that already holds every file location: no load, no
    # re-fetch, and pass 1's merge serves as pass 2's
    calls.clear()
    monkeypatch.setattr(wa, "reconcile_locations", _counted(calls, "reconcile", wa.reconcile_locations))
    present = [("locE", "Store Echo", "105"), ("locF", "Store Foxtrot", "106")]
    report = run_weekly_sync(
        replace(
            ctx,
            fetch_users=_counted(calls, "users", ctx.fetch_users),
            fetch_hierarchy_groups=_counted(calls, "groups", ctx.fetch_hierarchy_groups),
            fetch_locations=_counted(
                calls, "locations", lambda: api_locations_df(spark, remote_ids=True, extra=present)
            ),
            report_dir=str(tmp_path / "outs_present"),
        )
    )
    assert report.counts["locations_missing_pass1"] == 0
    assert Counter(calls) == {"users": 1, "groups": 1, "locations": 1, "reconcile": 1}
    assert report.counts["locations_matched_pass2"] == report.counts["locations_matched_pass1"] == 6


# The fixture sync's Spark jobs (65) plus 10 %. Jobs are mostly fixed
# cost, so a frame re-read lazily or a count per slice shows up here
# before it shows in a timing.
SYNC_JOB_BUDGET = 72


def test_sync_job_budget_and_release(spark, ctx_and_spools):
    """The fixture sync stays within its Spark job budget, releases
    every frame it materialized, and leaves nothing behind: it
    reconciles in memory, so it creates no catalog database or table
    and lands no staging files under its report directory."""
    import os

    ctx, _ = ctx_and_spools
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs
    held_before = persistent().size()

    def catalog():
        return {
            db.name: sorted(t.name for t in spark.catalog.listTables(db.name))
            for db in spark.catalog.listDatabases()
        }

    catalog_before = catalog()
    group = "test-weekly-sync-job-budget"
    sc.setJobGroup(group, "weekly sync job budget")
    try:
        run_weekly_sync(ctx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= SYNC_JOB_BUDGET, n_jobs
    assert persistent().size() == held_before
    assert catalog() == catalog_before
    assert not os.path.exists(os.path.join(ctx.report_dir, "_staged_buckets"))


def test_f8_key_switch(spark):
    """ETL:390: all-empty remoteIds → name join; else remoteId join."""
    assert choose_location_key(api_locations_df(spark, remote_ids=False)) == "name"
    assert choose_location_key(api_locations_df(spark, remote_ids=True)) == "remote_id"
    # an API with no locations yet (onboarding) has no remoteIds either
    assert choose_location_key(api_locations_df(spark).limit(0)) == "name"


def test_location_add_failure_is_counted_and_left_unloaded(spark, tmp_path):
    """A locationAdd the API rejects is recorded as a failure, not
    thrown away: the sink's failure count lands in the report, and the
    rejected location stays in the still-unloaded CSV after the
    self-healing pass (the API state after the load holds only the
    accepted Foxtrot)."""
    from graphql_api_etl_spark.pipelines.weekly_alignments import (
        Materializer,
        SyncReport,
        map_locations_to_hierarchies,
    )

    calls = {"n": 0}

    def fetch_locations():
        calls["n"] += 1
        extra = [] if calls["n"] == 1 else [("locNew0", "Store Foxtrot", "106")]
        return api_locations_df(spark, remote_ids=True, extra=extra)

    ctx = PipelineContext(
        alignments=alignments_df(spark),
        corporate_managers=corporate_managers_df(spark),
        fetch_hierarchy_groups=lambda: api_hierarchy_groups_df(spark),
        fetch_locations=fetch_locations,
        fetch_users=lambda: api_users_df(spark),
        location_sink=MutationSink(
            lambda: MockMutationClient(fail_when=lambda r: r["name"] == "Store Echo"),
            "locationAdd",
        ),
        assignment_sink=MutationSink(lambda: MockMutationClient(), "hierarchyAssign"),
        user_sink=MutationSink(lambda: MockMutationClient(), "userAdd"),
        permission_sink=MutationSink(lambda: MockMutationClient(), "permissionAdd"),
        report_dir=str(tmp_path / "outs"),
    )
    report = SyncReport()
    with Materializer() as materialize:
        map_locations_to_hierarchies(ctx, report, ctx.fetch_hierarchy_groups(), materialize)
    assert report.counts["locations_missing_pass1"] == 2
    assert report.counts["location_add_failures"] == 1
    unloaded = spark.read.option("header", True).csv(report.reports["still_unloaded"])
    assert [r["location"] for r in unloaded.collect()] == ["Store Echo"]


def test_name_variant_reconciliation(spark, tmp_path):
    """The name-keyed J1 variant reaches the same match set when the
    API carries no remote ids."""
    from graphql_api_etl_spark.operators.join import split_by_provenance
    from graphql_api_etl_spark.pipelines.weekly_alignments import reconcile_locations

    al = alignments_df(spark)
    api = api_locations_df(spark, remote_ids=False)
    both, missing, deprecated = split_by_provenance(reconcile_locations(al, api, "name"))
    assert both.count() == 4
    assert {r["location"] for r in missing.collect()} == {"Store Echo", "Store Foxtrot"}
    assert {r["node_name"] for r in deprecated.collect()} == {"Store Zombie"}


def test_hierarchy_parent_before_child(spark):
    h = build_hierarchy(alignments_df(spark)).collect()
    tops = [r for r in h if r["level"] == 1]
    kids = [r for r in h if r["level"] == 2]
    assert len(tops) == 3 and all(r["parent_name"] is None and r["is_top"] for r in tops)
    assert len(kids) == 4
    parents = {r["group_name"]: r["parent_name"] for r in kids}
    assert parents["D-North"] == "Acme / Ada Lovelace"
    assert parents["D-West"] == "Acme / Alan Turing"


def test_alignments_from_real_xlsx_drop(spark, tmp_path):
    """S1 end-to-end: the weekly alignment sheet as an ACTUAL .xlsx
    (reference-style raw headers), read through the distributed Excel
    source with a declared schema — equals the canonical alignments
    frame the rest of the pipeline consumes."""
    from pyspark.sql import types as T

    from graphql_api_etl_spark.sources.registry import read_excel_sheet
    from graphql_api_etl_spark.sources.xlsx import write_xlsx

    canonical = alignments_df(spark)
    raw_headers = [
        "REGION / SUPERVISOR", "District", "Location", "Unit #", "Address",
        "City", "State", "Zip Code", "DM", "DM Email", "Supervisor Email",
        "Franchise or Equity",
    ]
    rows = [[r[c] for c in canonical.columns] for r in canonical.collect()]
    path = str(tmp_path / "Weekly Alignments.xlsx")
    write_xlsx(path, "Sorted by Store #", raw_headers, rows)

    schema = T.StructType(
        [
            T.StructField(f.name, f.dataType)
            for f in canonical.schema.fields
        ]
    )
    got = read_excel_sheet(spark, path, "Sorted by Store #", schema=schema)
    assert got.columns == canonical.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, canonical.collect()))


def test_run_weekly_sync_with_4_level_edge_hierarchy(spark, tmp_path):
    """r3 VERDICT ask #8: run_weekly_sync must derive phase-1 levels
    from the built hierarchy (previously hardcoded (1, 2)) — a 4-level
    edge-list org tree flows through the FULL pipeline with every
    parent posted strictly before its children."""
    import os

    edges = spark.createDataFrame(
        [
            ("r-east", "acme"), ("r-west", "acme"),
            ("d-1", "r-east"), ("d-2", "r-west"),
            ("s-10", "d-1"), ("s-11", "d-2"),
        ],
        "child string, parent string",
    )
    assign_spool = str(tmp_path / "spool_assign")
    ctx = PipelineContext(
        alignments=alignments_df(spark),
        corporate_managers=corporate_managers_df(spark),
        fetch_hierarchy_groups=lambda: api_hierarchy_groups_df(spark),
        fetch_locations=lambda: api_locations_df(spark, remote_ids=True),
        fetch_users=lambda: api_users_df(spark),
        location_sink=MutationSink(lambda: MockMutationClient(), "locationAdd", batch_size=10),
        assignment_sink=MutationSink(lambda: SpoolClient(assign_spool), "hierarchyAssign", batch_size=10),
        user_sink=MutationSink(lambda: MockMutationClient(), "userAdd", batch_size=10),
        permission_sink=MutationSink(lambda: MockMutationClient(), "permissionAdd", batch_size=10),
        report_dir=str(tmp_path / "outs"),
        hierarchy_edges=edges,
    )
    report = run_weekly_sync(ctx)
    # all four levels were phased (1 root + 6 edge children = 7 rows)
    assert report.counts["hierarchy_rows"] == 7
    for level in (1, 2, 3, 4):
        assert report.counts[f"hierarchy_level{level}_failed"] == 0

    # parent strictly before child across the spooled batches
    written_at = {}
    for f in sorted(os.listdir(assign_spool)):
        p = os.path.join(assign_spool, f)
        with open(p) as fh:
            for line in fh:
                rec = json.loads(line)
                if "group_name" in rec:
                    written_at[rec["group_name"]] = os.stat(p).st_mtime_ns
    for child, parent in edges.collect():
        assert written_at[parent] < written_at[child], f"{parent} not before {child}"


def test_deep_hierarchy_tree_phased_writes(spark, tmp_path):
    """>2-level generalization (r2 VERDICT #8): a 4-level org tree
    arrives as parent-pointer EDGES (depth unknown to the plan);
    build_hierarchy_tree derives levels via closure_roots pointer
    doubling, and write_level_phased posts every parent strictly
    before any of its children."""
    import os

    from graphql_api_etl_spark.pipelines.weekly_alignments import build_hierarchy_tree
    from graphql_api_etl_spark.sinks.mutations import write_level_phased

    edges = spark.createDataFrame(
        [  # company -> region -> district -> store
            ("r-east", "acme"), ("r-west", "acme"),
            ("d-1", "r-east"), ("d-2", "r-east"), ("d-3", "r-west"),
            ("s-10", "d-1"), ("s-11", "d-1"), ("s-20", "d-2"), ("s-30", "d-3"),
        ],
        "child string, parent string",
    )
    tree = build_hierarchy_tree(edges)
    rows = {r["group_name"]: r for r in tree.collect()}
    assert len(rows) == 10  # 1 root + 9 edge children
    assert rows["acme"]["level"] == 1 and rows["acme"]["is_top"] and rows["acme"]["parent_name"] is None
    assert rows["r-east"]["level"] == 2 and rows["r-east"]["parent_name"] == "acme"
    assert rows["d-3"]["level"] == 3 and rows["d-3"]["parent_name"] == "r-west"
    assert rows["s-30"]["level"] == 4 and not rows["s-30"]["is_top"]

    spool = str(tmp_path / "spool")
    sink = MutationSink(lambda: SpoolClient(spool), "hierarchyAddGroups")
    levels = write_level_phased(sink, tree)
    assert list(levels) == [1, 2, 3, 4]
    assert sum(p.status.filter("success").count() for p in levels.values()) == 10
    assert sum(p.records for p in levels.values()) == 10

    # parent-before-child across PROCESS boundaries: each spool file's
    # mtime orders the batches; every record's parent must appear in a
    # strictly earlier file (level writes are sequential actions).
    batches = []  # (mtime_ns, [group_names])
    for f in sorted(os.listdir(spool)):
        p = os.path.join(spool, f)
        with open(p) as fh:
            names = [json.loads(line)["group_name"] for line in fh]
        batches.append((os.stat(p).st_mtime_ns, names))
    written_at = {}
    for t, names in batches:
        for n in names:
            written_at[n] = t
    for child, parent in edges.collect():
        assert written_at[parent] < written_at[child], f"{parent} not before {child}"


def test_reconcile_staging_caches_file_side_and_merges_api_delta(spark, tmp_path):
    """ReconcileStaging contract (r13 delta-merge): the file side is
    landed ONCE per join key, a key switch re-lands under the new key,
    and the API side is landed once per key — a second landing on the
    same key MERGES instead of re-bucketing: identical state writes
    zero rows, adds-only appends just the delta, and a mutated state
    falls back to a full re-land under a serial name."""
    import os

    from graphql_api_etl_spark.sinks.tables import ReconcileStaging

    staging = ReconcileStaging(
        "graft_stage_unittest", str(tmp_path / "staged"), num_buckets=4
    )
    lhs = spark.range(20).select(
        F.col("id").cast("string").alias("location"),
        F.col("id").cast("string").alias("unit_str"),
    )
    rhs = spark.range(10).select(
        F.col("id").cast("string").alias("node_name"),
        F.lit("r1").alias("node_remoteId"),
    )

    f1 = staging.land(lhs, "file", "location")
    f2 = staging.land(lhs, "file", "location")
    assert f1 is f2  # cached — no second landing for the same key
    f3 = staging.land(lhs, "file", "unit_str")
    assert f3 is not f1  # F8 key switch -> new bucketed layout

    a1 = staging.land(rhs, "api", "node_name")
    table_dir = os.path.join(str(tmp_path / "staged"), "api_node_name")
    files_pass1 = {
        f for f in os.listdir(table_dir) if not f.startswith("_")
    }

    # identical state: no write at all — the file set is untouched.
    a2 = staging.land(rhs, "api", "node_name")
    assert a2.count() == 10
    assert {
        f for f in os.listdir(table_dir) if not f.startswith("_")
    } == files_pass1

    # adds-only (the self-healing shape): pass-1 files stay in place,
    # only delta files appear, and the read sees the union.
    rhs_plus = rhs.unionByName(
        spark.range(10, 13).select(
            F.col("id").cast("string").alias("node_name"),
            F.lit("r1").alias("node_remoteId"),
        )
    )
    a3 = staging.land(rhs_plus, "api", "node_name")
    assert a3.count() == 13
    files_pass2 = {
        f for f in os.listdir(table_dir) if not f.startswith("_")
    }
    assert files_pass1 <= files_pass2  # nothing rewritten
    assert len(files_pass2) > len(files_pass1)  # delta appended
    assert {r["node_name"] for r in a3.collect()} == {str(i) for i in range(13)}

    # mutated state (an existing row changed): correctness fallback —
    # full re-land under a serial name, result matches the new state.
    rhs_mut = rhs_plus.withColumn(
        "node_remoteId",
        F.when(F.col("node_name") == "3", F.lit("CHANGED")).otherwise(
            F.col("node_remoteId")
        ),
    )
    a4 = staging.land(rhs_mut, "api", "node_name")
    assert a4.count() == 13
    assert (
        a4.filter(F.col("node_name") == "3").collect()[0]["node_remoteId"]
        == "CHANGED"
    )
    tables = {
        t.name for t in spark.catalog.listTables("graft_stage_unittest")
    }
    assert {
        "file_location", "file_unit_str", "api_node_name", "api_node_name_v1"
    } <= tables
    assert "api_node_name_1" not in tables  # no per-pass serial pileup
    assert f1.count() == 20
    spark.sql("DROP DATABASE IF EXISTS graft_stage_unittest CASCADE")


def test_reconcile_staging_delta_classifier_multiset_edges(spark, tmp_path):
    """The delta classifier must be MULTISET-correct for non-unique
    keys (the r13 rewrite): a key with several rows — even
    byte-identical duplicates — compares 'same' when its multiset is
    unchanged (no spurious update from crossed row pairs), whole-key
    adds still take the append path, and a changed duplicate-row
    multiset or null join keys trigger the full re-land fallback."""
    import os

    from graphql_api_etl_spark.sinks.tables import ReconcileStaging

    loc = str(tmp_path / "staged")
    staging = ReconcileStaging("graft_stage_msets", loc, num_buckets=2)
    # key 'k1' has TWO rows (one a byte-identical duplicate pair class),
    # key 'k2' one row
    base = spark.createDataFrame(
        [("k1", "a"), ("k1", "a"), ("k2", "b")], "node_name string, v string"
    )
    staging.land(base, "api", "node_name")
    tdir = os.path.join(loc, "api_node_name")
    files0 = {f for f in os.listdir(tdir) if not f.startswith("_")}

    # identical multiset (row order shuffled): 'same' — zero write
    again = spark.createDataFrame(
        [("k2", "b"), ("k1", "a"), ("k1", "a")], "node_name string, v string"
    )
    out = staging.land(again, "api", "node_name")
    assert out.count() == 3
    assert {f for f in os.listdir(tdir) if not f.startswith("_")} == files0

    # whole-key add on top of multi-row keys: append path (no _v1)
    plus = again.unionByName(
        spark.createDataFrame([("k3", "c")], "node_name string, v string")
    )
    out2 = staging.land(plus, "api", "node_name")
    assert out2.count() == 4
    tables = {t.name for t in spark.catalog.listTables("graft_stage_msets")}
    assert "api_node_name_v1" not in tables

    # duplicate-count change within an existing key: multiset differs
    # → update → full re-land fallback under a serial name
    mutated = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "node_name string, v string"
    )
    out3 = staging.land(mutated, "api", "node_name")
    assert out3.count() == 3
    tables = {t.name for t in spark.catalog.listTables("graft_stage_msets")}
    assert "api_node_name_v1" in tables

    # null-SWAP mutation (r13 ADVICE, high): a row whose value moves
    # between columns — ('x', NULL) → (NULL, 'x') — keeps per-key count
    # equal, and a null-blind xxhash64 would also keep the hash-sum
    # equal (null inputs pass the seed through), silently returning the
    # stale pass-1 row. The null-distinguishing hash must classify it
    # as an UPDATE → full re-land with the swapped values visible.
    staging3 = ReconcileStaging(
        "graft_stage_msets3", str(tmp_path / "s3"), num_buckets=2
    )
    swap_base = spark.createDataFrame(
        [("k1", "x", None), ("k2", "b", "c")],
        "node_name string, v1 string, v2 string",
    )
    staging3.land(swap_base, "api", "node_name")
    swapped = spark.createDataFrame(
        [("k1", None, "x"), ("k2", "b", "c")],
        "node_name string, v1 string, v2 string",
    )
    out5 = staging3.land(swapped, "api", "node_name")
    tables3 = {t.name for t in spark.catalog.listTables("graft_stage_msets3")}
    assert "api_node_name_v1" in tables3  # classified as update, not 'same'
    k1 = out5.filter(F.col("node_name") == "k1").collect()[0]
    assert k1["v1"] is None and k1["v2"] == "x"

    # null join keys on both sides: counted as del+new (plain equality
    # join cannot match them) → fallback, result matches the new state
    staging2 = ReconcileStaging("graft_stage_msets2", str(tmp_path / "s2"), num_buckets=2)
    withnull = spark.createDataFrame(
        [("k1", "a"), (None, "n")], "node_name string, v string"
    )
    staging2.land(withnull, "api", "node_name")
    out4 = staging2.land(withnull, "api", "node_name")
    assert out4.count() == 2
    tables2 = {t.name for t in spark.catalog.listTables("graft_stage_msets2")}
    assert "api_node_name_v1" in tables2  # null keys → conservative re-land

    # column-set drift between the landings is no adds-only delta: the
    # re-fetch gained a column (same rows, or plus a new key) or lost
    # one. Each re-lands under a serial name and reads back exactly the
    # new state, with its own columns.
    two = spark.createDataFrame(
        [("k1", "a"), ("k2", "b")], "node_name string, v string"
    )
    with_w = spark.createDataFrame(
        [("k1", "a", "x"), ("k2", "b", "y")], "node_name string, v string, w string"
    )
    with_w_plus = with_w.unionByName(
        spark.createDataFrame([("k3", "c", "z")], "node_name string, v string, w string")
    )
    drifts = [(two, with_w), (two, with_w_plus), (with_w, two)]
    for i, (pass1, pass2) in enumerate(drifts):
        db = f"graft_stage_drift{i}"
        st = ReconcileStaging(db, str(tmp_path / f"drift{i}"), num_buckets=2)
        st.land(pass1, "api", "node_name")
        out_d = st.land(pass2, "api", "node_name")
        assert sorted(out_d.columns) == sorted(pass2.columns), (i, out_d.columns)
        assert sorted(out_d.select(*pass2.columns).collect()) == sorted(pass2.collect())
        assert "api_node_name_v1" in {t.name for t in spark.catalog.listTables(db)}
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql("DROP DATABASE IF EXISTS graft_stage_msets CASCADE")
    spark.sql("DROP DATABASE IF EXISTS graft_stage_msets2 CASCADE")
    spark.sql("DROP DATABASE IF EXISTS graft_stage_msets3 CASCADE")


def test_flagship_healed_two_sf_dirs_share_no_table_directory(spark):
    """r13 ADVICE (medium): the graft_heal_<tag> databases use
    ReconcileStaging's tag-independent table names, so two sf_dirs
    evaluated in ONE session must not share a warehouse directory —
    the second landing would delete the first's files while its
    catalog entry still points there. With per-tag locations, a frame
    obtained BEFORE the second evaluation still collects correctly
    after it."""
    from graphql_api_etl_spark.queries import QUERIES

    fn, _ = QUERIES["flagship_reconcile_healed"]
    plain, _ = QUERIES["flagship_reconcile"]
    small = fn(spark, "/root/testdata/sf0.001")  # NOT collected yet
    big = fn(spark, "/root/testdata/sf0.01")  # would clobber small's files pre-fix
    exp_small = {tuple(r) for r in plain(spark, "/root/testdata/sf0.001").collect()}
    exp_big = {tuple(r) for r in plain(spark, "/root/testdata/sf0.01").collect()}
    assert {tuple(r) for r in small.collect()} == exp_small
    assert {tuple(r) for r in big.collect()} == exp_big


def test_flagship_mutated_twin_takes_the_serial_fallback(spark):
    """flagship_reconcile_mutated (VERDICT r13 ask #4: gate the
    classify→fallback decision) must (a) match the plain flagship over
    the TRUE state and (b) actually fire the mutated-state branch —
    the serial table api_o_custkey_v1 exists and the unversioned
    pass-1 table is no longer what the staging serves."""
    from graphql_api_etl_spark.queries import QUERIES

    fn, _ = QUERIES["flagship_reconcile_mutated"]
    plain, _ = QUERIES["flagship_reconcile"]
    got = {tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect()}
    exp = {tuple(r) for r in plain(spark, "/root/testdata/sf0.001").collect()}
    assert got == exp
    tables = {t.name for t in spark.catalog.listTables("graft_mut_sf0_001")}
    assert "api_o_custkey_v1" in tables, tables  # the fallback fired


def test_stage_bucketed_recovers_orphaned_directory(spark, tmp_path):
    """A managed bucket directory left by a previous session (whose
    in-memory catalog forgot the table) must not make re-landing fail
    with LOCATION_ALREADY_EXISTS — stage_bucketed clears the orphan
    first."""
    import os

    from graphql_api_etl_spark.sinks.tables import (
        ensure_bucket_database,
        stage_bucketed,
    )

    loc = str(tmp_path / "orphans")
    ensure_bucket_database(spark, "graft_stage_orphan", loc)
    df = spark.range(8).select(F.col("id").cast("string").alias("k"))
    stage_bucketed(spark, df, "graft_stage_orphan.t", ["k"], num_buckets=2)
    # simulate a fresh session: catalog forgets, directory survives
    spark.sql("DROP TABLE graft_stage_orphan.t")
    os.makedirs(f"{loc}/t", exist_ok=True)
    with open(f"{loc}/t/stale_file", "w") as fh:
        fh.write("leftover")
    out = stage_bucketed(spark, df, "graft_stage_orphan.t", ["k"], num_buckets=2)
    assert out.count() == 8
    spark.sql("DROP DATABASE IF EXISTS graft_stage_orphan CASCADE")
