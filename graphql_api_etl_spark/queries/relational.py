"""Reference-parity relational core: the flagship full-outer reconcile
and the provenance / anti / semi join families (SURVEY §2 J*/F*).

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators.join import anti, cross, outer_merge, semi
from graphql_api_etl_spark.queries._registry import (  # noqa: F401
    QUERIES,
    Oracle,
    QueryFn,
    _q,
    _t,
)
from graphql_api_etl_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# A. Reference-parity relational core
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
WITH lhs AS (SELECT * FROM customer WHERE c_acctbal > 0),
     rhs AS (SELECT * FROM orders WHERE o_totalprice > 50000),
     m AS (
       SELECT c_mktsegment, o_orderkey, o_orderpriority,
              CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
                   WHEN c_custkey IS NOT NULL THEN 'left_only'
                   ELSE 'right_only' END AS _merge
       FROM lhs FULL OUTER JOIN rhs ON c_custkey = o_custkey
     )
SELECT c_mktsegment, _merge,
       count(*) AS n_rows,
       count(o_orderkey) AS n_orders,
       coalesce(array_to_string(list_sort(list(DISTINCT o_orderpriority)
                                          FILTER (WHERE o_orderpriority IS NOT NULL)), '|'),
                '') AS priorities
FROM m
GROUP BY c_mktsegment, _merge
"""


def _flagship_report(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """The flagship plan on ALREADY-FILTERED inputs — shared by the
    catalog entry and bench.py's replicated marginal-floor probe so
    the probe times the identical code path, not a hand-copied twin.

    Plan note (r11): eager aggregation below the join — pre-grouping
    orders per custkey so the SMJ sorts |custkeys| instead of |orders|
    rows, the rewrite that fixed j_broadcast_dims in r10 — was BUILT
    AND MEASURED here and is ~2x SLOWER at 48x replication (median
    6.6 s vs 3.5 s, interleaved A/B): orders arrive randomly
    distributed over custkeys, so map-side combine gets ~no reduction
    (~1.2 rows/key/task) and the pre-agg adds a full extra shuffle of
    collect_set object rows before the join's own exchange.  Eager-agg
    pays only when the big side is clustered on the key or the final
    agg keys are join-side (j_broadcast_dims); the full-outer SMJ on
    raw orders stays the right plan here at any scale."""
    merged = outer_merge(customer, orders, left_on="c_custkey", right_on="o_custkey")
    return merged.groupBy("c_mktsegment", "_merge").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("n_orders"),
        # '|'-joined string, not array<string>: the driver's pandas
        # canonicalizer cannot sort_values on list cells (round-1 ERR).
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), "|").alias("priorities"),
    )


@_q("flagship_reconcile", _FLAGSHIP_SQL)
def flagship_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §3.3 / §7.2): full-outer join with ``_merge``
    provenance (reference J1/J2, ETL:391–425) consumed as a grouped
    reconciliation report with a collected set (A1, ETL:563–569).

    Inputs are filtered asymmetrically so all three provenance slices
    are non-empty, mirroring the file-vs-API drift the reference
    reconciles. One shuffle for the join, one for the agg; the agg
    gets map-side partial aggregation for the counts.
    """
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return _flagship_report(customer, orders)


@_q(
    "j_outer_provenance_counts",
    """
WITH lhs AS (SELECT * FROM orders WHERE o_orderstatus = 'O'),
     m AS (
       SELECT CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL THEN 'both'
                   WHEN o_orderkey IS NOT NULL THEN 'left_only'
                   ELSE 'right_only' END AS _merge
       FROM lhs FULL OUTER JOIN lineitem ON o_orderkey = l_orderkey
     )
SELECT _merge, count(*) AS n FROM m GROUP BY _merge
""",
)
def j_outer_provenance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way provenance split cardinalities over the fact-fact outer
    join (F2/F9: ``_merge`` slices + ``shape[0]`` gates, ETL:422–429).
    The |both|+|left_only|+|right_only| partition invariant (SURVEY §5)
    is property-tested in tests/test_join_provenance.py."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    lineitem = _t(spark, sf_dir, "lineitem")
    merged = outer_merge(orders, lineitem, left_on="o_orderkey", right_on="l_orderkey")
    return merged.groupBy("_merge").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "j_left_anti_unmatched",
    """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
""",
)
def j_left_anti_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (J8/J9: ``not in`` ETL:957–960, index-isin negation
    ETL:889–891): customers with no big-ticket order. Spark broadcasts
    the right side of left-anti when it fits."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return anti(customer, big, on="c_custkey").select("c_custkey", "c_name")


@_q(
    "j_left_semi_matched",
    """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
""",
)
def j_left_semi_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (F4 membership filters at scale, ETL:441, 943–945):
    IN-list becomes a left-semi join instead of a driver-collected list."""
    customer = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return semi(customer, urgent, on="c_custkey").select("c_custkey", "c_mktsegment")


@_q(
    "j_cross_product",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def j_cross_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (J6/J7 nested Python loops, ETL:881–886,
    948–955): small×small; Spark broadcasts one side automatically."""
    return cross(
        _t(spark, sf_dir, "region").select("r_name"),
        _t(spark, sf_dir, "nation").select("n_name"),
    )


@_q(
    "j_broadcast_dims",
    """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def j_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension lookup joins (J10 name→email map, ETL:636–647) with
    the aggregate pushed BELOW the join (r10 eager aggregation): the
    report's group key (r_name) is a function of the join key
    (c_nationkey), so the fact side partial-aggregates to |nation|
    rows FIRST — one map-side combine + a 25-group exchange — and only
    that tiny frame probes the broadcast nation⋈region dim. The fact
    rows never shuffle for the join and never touch a probe at all;
    measured at 800× customer (12 M rows) this is 25% faster than the
    probe-then-aggregate plan and turns the per-row cost into pure
    narrow-scan + partial-agg."""
    return _broadcast_dims_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def _broadcast_dims_report(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """The broadcast-dims plan on caller-provided frames — shared by
    the catalog entry and bench.py's replicated marginal-floor probe
    (one code path, no hand-copied twin)."""
    per_nation = customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("c_acctbal").alias("__bal"),
    )
    dim = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_nationkey").alias("c_nationkey"), "r_name"
    )
    return (
        per_nation.join(F.broadcast(dim), "c_nationkey")
        .groupBy("r_name")
        .agg(
            F.sum("__n").cast("bigint").alias("n_customers"),
            F.round(F.sum("__bal"), 2).alias("total_acctbal"),
        )
    )




@_q("flagship_reconcile_bucketed", _FLAGSHIP_SQL)
def flagship_reconcile_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment twin of flagship_reconcile (r12, VERDICT r11 ask #7's
    preferred addition): the same full-outer reconcile report computed
    over tables landed through sinks.tables.stage_bucketed — the
    layout ReconcileStaging writes (bucketed on the join key,
    bucket-sorted, one file per bucket), so the differential gate
    covers the zero-exchange recurring-join path the same way
    tpch_q3_bucketed covers the co-bucketed fact-fact layout (the
    weekly sync joins in memory and stages nothing).
    Identical rows to the plain entry (same oracle SQL); floors range
    for this layout: 1.80–2.16× vs the plain shape's 3.2–4.7×
    (BASELINE.md CURRENT STATE).  First call per session lands the
    tables under the repo-local bucket warehouse; the in-memory
    catalog forgets between sessions and stage_bucketed clears the
    orphaned directory before re-landing."""
    from graphql_api_etl_spark.sinks.tables import (
        bucket_warehouse_path,
        ensure_bucket_database,
        stage_bucketed,
    )

    # Root injectable via SPARK_GRAFT_BUCKET_WAREHOUSE (VERDICT r13
    # ask #6); per-sf collisions are avoided here by the _fb_{tag}
    # table names rather than per-tag directories.
    wh = bucket_warehouse_path(".bucket_warehouse")
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    ensure_bucket_database(spark, "graft_buckets", wh)
    for base, key in (("customer", "c_custkey"), ("orders", "o_custkey")):
        name = f"graft_buckets.{base}_fb_{tag}"
        if not spark.catalog.tableExists(name):
            stage_bucketed(spark, _t(spark, sf_dir, base), name, [key], num_buckets=32)
    customer = spark.table(f"graft_buckets.customer_fb_{tag}").filter(F.col("c_acctbal") > 0)
    orders = spark.table(f"graft_buckets.orders_fb_{tag}").filter(F.col("o_totalprice") > 50000)
    return _flagship_report(customer, orders)


@_q("flagship_reconcile_healed", _FLAGSHIP_SQL)
def flagship_reconcile_healed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-healing twin of flagship_reconcile (r13, VERDICT r12 ask
    #2's gated consumer): the same reconcile report, but the API side
    arrives in the shape of a self-healing pass 2 — a pass-1
    bucketed landing MISSING a deterministic slice (every 97th order
    key, the not-yet-loaded rows), then a second landing of the full
    state that sinks.tables.ReconcileStaging classifies against pass 1
    (sinks.tables.adds_only_delta) and merges as a DELTA APPEND into
    the same bucketed table (zero rewrite of the pass-1 files;
    sinks.tables.append_bucketed_delta). The oracle
    is the plain flagship SQL over the full state, proving the healed
    table is row-identical to a from-scratch landing; the pass-2 join
    stays exchange-free (tests/test_plans.py::
    test_staged_reconcile_join_after_delta_append pins the plan). At
    100 TB this is the write saved: pass 2 lands O(|loaded delta|)
    instead of re-bucketing the whole API side (docs/PLANS.md; the
    weekly sync re-merges its pass 2 in memory).
    Cites ETL:474–506 (the reference's re-fetch-everything pass 2)."""
    from graphql_api_etl_spark.sinks.tables import ReconcileStaging, bucket_warehouse_path

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    # Per-TAG location (r13 ADVICE, medium): the graft_heal_<tag>
    # databases use ReconcileStaging's tag-independent table names
    # (api_o_custkey, file_c_custkey), so two sf_dirs sharing one
    # warehouse directory would map two catalog tables onto the same
    # files — the second landing deletes the first's data out from
    # under its catalog entry. Root injectable via
    # SPARK_GRAFT_BUCKET_WAREHOUSE (VERDICT r13 ask #6).
    wh = bucket_warehouse_path(".bucket_warehouse_heal", tag)
    # 8 buckets: the layout CONTRACT under test (equal bucket specs →
    # exchange-free join; append keeps the spec) is bucket-count
    # independent, and the gate's sf0.01 rows don't amortize 32 tiny
    # files per landed table the deployment default writes.
    staging = ReconcileStaging(f"graft_heal_{tag}", wh, num_buckets=8)
    customer = staging.land(
        _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0),
        "file",
        "c_custkey",
    )
    orders_full = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    # Whole KEYS missing (every 97th customer), so pass 2 classifies
    # them as adds-only and takes the append path — partial keys would
    # read as mutations and fall back to a full re-land by design.
    staging.land(orders_full.filter(F.col("o_custkey") % 97 != 0), "api", "o_custkey")
    orders_healed = staging.land(orders_full, "api", "o_custkey")
    return _flagship_report(customer, orders_healed)


@_q("flagship_reconcile_mutated", _FLAGSHIP_SQL)
def flagship_reconcile_mutated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutated-state twin of flagship_reconcile (r14, VERDICT r13 ask
    #4): puts ReconcileStaging's classify→FALLBACK decision under the
    hash gate. Pass 1 lands a CORRUPTED API state — every 97th
    customer's orders carry a stale o_totalprice (+1000) — then pass 2
    lands the true full state. The delta classifier sees per-key hash
    sums disagree on existing keys (updates, not adds), so the
    adds-only append is ILLEGAL and the staging must take the
    correctness fallback: a full re-land under the serial name
    ``api_o_custkey_v1`` (sinks.tables.ReconcileStaging, taken whenever
    sinks.tables.adds_only_delta declines). The oracle is the plain
    flagship SQL over the true state, proving the fallback's result is row-identical to
    a from-scratch landing — and tests/test_weekly_pipeline.py::
    test_flagship_mutated_twin_takes_the_serial_fallback pins that the
    _v1 serial actually appeared (the branch fired, not the append).
    The +1000 perturbation stays inside the >50000 filter band, so the
    key SET is unchanged between passes — pure mutation, the exact
    shape the adds-only classifier must refuse.
    Cites ETL:474–506 (the reference's re-fetch-everything pass 2:
    there a stale pass-1 state is silently absorbed by the full
    re-fetch; here the classifier has to DETECT it to stay correct
    while writing deltas)."""
    from graphql_api_etl_spark.sinks.tables import ReconcileStaging, bucket_warehouse_path

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    wh = bucket_warehouse_path(".bucket_warehouse_mut", tag)
    staging = ReconcileStaging(f"graft_mut_{tag}", wh, num_buckets=8)
    customer = staging.land(
        _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0),
        "file",
        "c_custkey",
    )
    orders_true = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    stale = orders_true.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_custkey") % 97 == 0, F.col("o_totalprice") + F.lit(1000.0)
        ).otherwise(F.col("o_totalprice")),
    )
    staging.land(stale, "api", "o_custkey")
    orders_healed = staging.land(orders_true, "api", "o_custkey")
    return _flagship_report(customer, orders_healed)


@_q("flagship_reconcile_streamed", _FLAGSHIP_SQL)
def flagship_reconcile_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of flagship_reconcile (r14, the gated consumer of
    VERDICT r13 ask #3's adds-only streaming delta path): the API side
    arrives as a Structured Streaming file source — three disjoint
    micro-batch files (orders split by ``o_orderkey % 3``, mtime-ordered,
    ``maxFilesPerTrigger=1``) upserted by
    streaming.BucketedIncrementalReconciler under an availableNow
    trigger. Batch 0 lands the full bucketed state version; batches 1–2
    classify ADDS-ONLY against it (every key absent — the
    null-distinguishing hash agrees) and take the delta fast path:
    append_bucketed_delta into the SAME version, write O(|batch|), no
    re-land, with the ``applied_b{B}_to_v0`` commit markers as the retry
    short-circuit. The final state is exactly the filtered orders table,
    so the oracle is the plain flagship SQL — proving the streamed,
    delta-appended state is row-identical to a from-scratch batch read.
    tests/test_streaming.py::test_flagship_streamed_twin_rides_the_delta_fast_path
    pins that the fast path actually fired (markers present, only
    ``state_v0`` ever landed).

    State is keyed (and bucketed) on ``o_orderkey``, the orders primary
    key — the natural upsert identity a streaming CDC feed carries; the
    report's join on o_custkey therefore shuffles the state once, the
    trade documented in streaming/reconcile.py (a deployment whose
    recurring join key differs from the upsert key lands the DOWNSTREAM
    side through ReconcileStaging, the batch twins' layout; the weekly
    sync's own reconcile joins in memory and stages nothing). At 100 TB
    the per-batch cost is O(|batch|) classify + append against an
    exchange-free bucketed state scan; the state never re-shuffles and
    never rewrites (docs/PLANS.md).
    Cites ETL:474–506 (the reference's serial re-fetch pass — here the
    re-fetch is a stream and the state absorbs it incrementally).

    The twin fabricates its stream SOURCE with local os/glob/shutil by
    design — it is a gate fixture manufacturing mtime-ordered files on
    the driver host. The RECONCILER it exercises does all state and
    marker IO through the Hadoop FileSystem API (streaming/reconcile),
    so the state side honors a remote SPARK_GRAFT_BUCKET_WAREHOUSE;
    a deployment's source would be a real stream, not these files."""
    import glob as _glob
    import os
    import shutil

    from graphql_api_etl_spark.sinks.tables import bucket_warehouse_path
    from graphql_api_etl_spark.streaming.reconcile import (
        BucketedIncrementalReconciler,
    )

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    root = bucket_warehouse_path(".bucket_warehouse_stream", tag)
    db = f"graft_stream_{tag}"
    # Deterministic wipe-and-rebuild per call (the twins' contract: each
    # evaluation proves the full path from scratch). Catalog entries
    # drop BEFORE their files so no table ever points at removed data.
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    for i in range(3):
        stage = os.path.join(root, f"_stage_{i}")
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.move(part, dst)
        # distinct mtimes pin the FileStreamSource batch order 0,1,2
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        shutil.rmtree(stage, ignore_errors=True)
    rec = BucketedIncrementalReconciler(
        db, os.path.join(root, "state"), key="o_orderkey", num_buckets=8
    )
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = rec.attach(stream, checkpoint=os.path.join(root, "ckpt"))
    try:
        # availableNow terminates after batch 2; a bounded wait turns a
        # pathological hang into a NAMED failure instead of stalling the
        # driver gate (a False return would silently report partial state).
        if not q.awaitTermination(600):
            raise RuntimeError(
                "flagship_reconcile_streamed: availableNow run did not "
                "terminate within 600s"
            )
    finally:
        q.stop()
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return _flagship_report(customer, rec.current_state(spark))


__catalog_exports__ = [
    '_FLAGSHIP_SQL',
    '_flagship_report',
    'flagship_reconcile',
    'flagship_reconcile_bucketed',
    'flagship_reconcile_healed',
    'flagship_reconcile_mutated',
    'flagship_reconcile_streamed',
    'j_outer_provenance_counts',
    'j_left_anti_unmatched',
    'j_left_semi_matched',
    'j_cross_product',
    'j_broadcast_dims',
    '_broadcast_dims_report',
]
