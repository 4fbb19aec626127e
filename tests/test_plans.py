"""Plan-shape assertions: the engine's 100 TB efficiency contract.

Correctness says the rows are right; these tests say the PLAN is right
— filters pushed to the parquet scan, columns pruned, dimension joins
broadcast, no Python evaluation in native operator paths (SURVEY.md
§4). A regression here is a performance bug even while every oracle
still matches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphql_api_etl_spark.plans import (
    executed_plan,
    has_broadcast_join,
    has_python_eval,
    pushed_filters,
    read_schema_columns,
)
from graphql_api_etl_spark.queries import QUERIES
from graphql_api_etl_spark.sources.registry import load_table


def _run(name, spark, sf_dir):
    fn, _ = QUERIES[name]
    return fn(spark, sf_dir)


def test_filters_reach_parquet_scan(spark, sf_dir):
    df = _run("f_filter_chain", spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_shipdate" in pushed and "l_returnflag" in pushed


def test_column_pruning(spark, sf_dir):
    df = _run("f_filter_chain", spark, sf_dir)
    (scan_cols,) = read_schema_columns(df)
    # 11-column lineitem pruned to the 5 referenced columns
    assert set(scan_cols) == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"}


def test_q1_scan_prunes_to_agg_inputs(spark, sf_dir):
    df = _run("tpch_q1_pricing_summary", spark, sf_dir)
    (scan_cols,) = read_schema_columns(df)
    assert set(scan_cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("j_broadcast_dims", "tpch_q3_shipping_priority", "tpch_q5_local_volume"):
        assert has_broadcast_join(_run(name, spark, sf_dir)), name


def test_native_paths_have_no_python_eval(spark, sf_dir):
    native = [
        "flagship_reconcile", "p_transform_chain", "x_string_functions",
        "tpch_q1_pricing_summary", "events_sessionize",
        "dedup_exact_groups", "dedup_minhash_lsh", "dedup_simhash_pairs",
        "text_quality_stats", "text_lang_id", "sim_topk_bruteforce",
        "mm_binary_metadata",
        # r4 curation additions — all native expressions
        "text_repetition_stats", "text_pii_scrub",
        "curate_stratified_best", "curate_decontaminate",
        "text_winnowing", "curate_winsorize",
        "curate_domain_mixture", "curate_token_packing",
        "emb_quantize_int8", "j_salted_skew_join", "a_two_phase_agg",
    ]
    for name in native:
        assert not has_python_eval(_run(name, spark, sf_dir)), name


def test_multimodal_is_the_only_python_path(spark, sf_dir):
    assert has_python_eval(_run("mm_extract_features", spark, sf_dir))


def test_full_outer_fact_join_is_sort_merge(spark, sf_dir):
    """Full-outer can't broadcast; expect sort-merge (+AQE skew) —
    the right shape for fact×fact at scale."""
    plan = executed_plan(_run("j_outer_provenance_counts", spark, sf_dir))
    assert "SortMergeJoin" in plan and "FullOuter" in plan


def test_shuffle_hash_hint_plans_shj(spark, sf_dir):
    """j_shuffle_hash_join's SHUFFLE_HASH hint must actually plan a
    ShuffledHashJoin (r10: the strategy lever the flagship floors row
    quantifies) — not silently degrade to sort-merge or flip to
    broadcast."""
    plan = executed_plan(_run("j_shuffle_hash_join", spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_in_agg_path(spark, sf_dir):
    df = _run("tpch_q1_pricing_summary", spark, sf_dir)
    df.collect()  # finalize THIS plan's AQE (count() builds a separate QueryExecution)
    assert "codegen id" in executed_plan(df)


def test_topk_orders_with_limit_not_global_sort(spark, sf_dir):
    """Top-k must be TakeOrderedAndProject (per-partition heap + merge),
    never a full global sort followed by limit."""
    df = _run("tpch_q3_shipping_priority", spark, sf_dir)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Map-side combine: HashAggregate(partial) under the exchange."""
    plan = executed_plan(_run("tpch_q1_pricing_summary", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_broadcast_threshold_respected_for_fact_join(spark, sf_dir):
    """orders⋈lineitem (fact×fact) must NOT be broadcast at bench scale
    — both sides grow with the data."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
    # at sf0.001 AQE may legitimately broadcast (orders is tiny);
    # assert only that the join exists and produces a plan — the
    # at-scale property is covered by j_outer_provenance_counts'
    # full-outer SMJ assertion which no size can convert to broadcast.
    assert "Join" in executed_plan(joined)


def test_wordcount_is_partial_topk(spark, sf_dir):
    plan = executed_plan(_run("text_wordcount", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort
    assert not has_python_eval(_run("text_wordcount", spark, sf_dir))


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = executed_plan(_run("events_interval_join", spark, sf_dir))
    # the chunk trick must produce an equi-join, never a pair explosion
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert not has_python_eval(_run("events_interval_join", spark, sf_dir))


def test_closure_joins_stay_native(spark, sf_dir):
    assert not has_python_eval(_run("x_hierarchy_closure", spark, sf_dir))


def test_curation_keeper_join_broadcasts(spark, sf_dir):
    df = _run("curate_documents", spark, sf_dir)
    assert has_broadcast_join(df)  # keeper set is dim-sized at any SF share
    assert not has_python_eval(df)


def test_generated_methods_stay_jit_compilable(spark, sf_dir):
    """r7 regression guard: HotSpot refuses to compile methods over
    8,000 bytecode bytes (DontCompileHugeMethods), so a plan whose
    whole-stage-codegen span generates a huge method runs INTERPRETED
    forever — the r6 embedding-cosine probe explode generated 54 KB
    and cost 10.7 core-seconds on 2,000 rows. The session falls back
    via hugeMethodLimit=8000, but the fallback loses whole-stage
    fusion, so the plans themselves must stay near the JIT budget:
    assert the worst generated method across the two heaviest
    codegen plans stays an order of magnitude below the r6 failure
    (AQE hidden for the probe — codegen explain inspects the
    pre-adaptive plan)."""
    import re

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sizes = {}
        for name in ("dedup_embedding_cosine", "dedup_minhash_lsh"):
            df = QUERIES[name][0](spark, sf_dir)
            txt = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            found = [int(x) for x in re.findall(r"maxMethodCodeSize:(\d+)", txt)]
            assert found, f"{name}: no codegen subtrees reported"
            sizes[name] = max(found)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert all(v < 12000 for v in sizes.values()), sizes


def test_session_sets_codegen_guards():
    """The two r7 session-level fixes must stay pinned: the codegen
    class cache sized for the 273-query catalog (default 100 entries
    thrashed — 40 CPU-seconds of concurrent janino per 2,000-row
    re-execution under the interleaved bench), and the whole-stage
    fallback threshold at HotSpot's JIT refusal limit."""
    from graphql_api_etl_spark.session import get_spark

    s = get_spark("conf-guard")
    assert s.conf.get("spark.sql.codegen.cache.maxEntries") == "10000"
    assert s.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """j_null_aware_anti must plan the DEDICATED null-aware anti join
    (SPARK-32290) — a BroadcastHashJoin LeftAnti whose
    isNullAwareAntiJoin flag is set (the trailing `true` in its
    toString) — not a naive anti join, whose semantics differ the
    moment the subquery emits a NULL."""
    df = _run("j_null_aware_anti", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert joins, plan
    assert any("LeftAnti, BuildRight, true" in ln for ln in joins), "\n".join(joins)


def test_runtime_bloom_filter_injects_on_selective_smj(spark, sf_dir):
    """AQE runtime-filter evidence for the 100 TB story: when a
    sort-merge join's build side is selective, Spark injects a Bloom
    filter on the probe side (bloom_filter_agg → might_contain,
    SPARK-32268) so the big scan drops non-joining rows before the
    shuffle. Default applicationSideScanSizeThreshold is 10 GB —
    correct in production, so the test lowers it to simulate the big
    probe scan the feature exists for (and restores it)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ shape
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 350000
        )
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_staged_reconcile_join_has_zero_exchange(spark, sf_dir, tmp_path):
    """The ReconcileStaging layout that the bucketed catalog twins and
    the streaming reconciler use (the weekly sync joins in memory):
    both diff sides landed bucketed on the key, bucket-sorted, one
    file per bucket, must give the full-outer SMJ with ZERO Exchange
    on either side — the layout the flagship floors row certifies at
    1.80–2.16× vs the plain shuffled shape's 3.7–4.7×."""
    from graphql_api_etl_spark.operators.join import outer_merge
    from graphql_api_etl_spark.sinks.tables import ReconcileStaging

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("location"),
        "c_mktsegment",
    )
    api = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("node_name"),
        "o_orderpriority",
    )
    staging = ReconcileStaging(
        "graft_stage_plantest", str(tmp_path / "staged"), num_buckets=8
    )
    lhs = staging.land(cust, "file", "location")
    rhs = staging.land(api, "api", "node_name")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = outer_merge(lhs, rhs, left_on="location", right_on="node_name")
        plan = executed_plan(merged)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "Exchange" not in plan, plan
    # one file per bucket → the scans' sort order is trusted: no Sort
    # node below the join either.
    assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan
    spark.sql("DROP DATABASE IF EXISTS graft_stage_plantest CASCADE")


def test_staged_reconcile_join_after_delta_append(spark, sf_dir, tmp_path):
    """ReconcileStaging's self-healing pass 2, as
    flagship_reconcile_healed runs it (the weekly sync re-merges in
    memory instead): after the API
    delta is APPENDED into the pass-1 bucketed table (instead of
    re-landing the whole side), the full-outer reconcile join must
    still run with ZERO Exchange — appended buckets carry >1 file so
    the sort-order claim lapses (a Sort may reappear within
    partitions), but the shuffle stays eliminated, which is the term
    that matters at 100 TB."""
    from graphql_api_etl_spark.operators.join import outer_merge
    from graphql_api_etl_spark.sinks.tables import ReconcileStaging

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("location"),
        "c_mktsegment",
    )
    api = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("node_name"),
        "o_orderpriority",
    )
    api_pass1 = api.filter(F.col("node_name").cast("bigint") % 97 != 0)
    staging = ReconcileStaging(
        "graft_stage_deltaplan", str(tmp_path / "staged"), num_buckets=8
    )
    lhs = staging.land(cust, "file", "location")
    staging.land(api_pass1, "api", "node_name")
    rhs = staging.land(api, "api", "node_name")  # adds-only delta append
    assert rhs.count() == api.count()
    # prove the APPEND path fired, not the full-re-land fallback: the
    # table name is unversioned and no _v1 twin exists.
    tables = {t.name for t in spark.catalog.listTables("graft_stage_deltaplan")}
    assert "api_node_name" in tables and "api_node_name_v1" not in tables, tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = outer_merge(lhs, rhs, left_on="location", right_on="node_name")
        plan = executed_plan(merged)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "Exchange" not in plan, plan
    spark.sql("DROP DATABASE IF EXISTS graft_stage_deltaplan CASCADE")


def test_flagship_bucketed_twin_joins_without_exchange(spark, sf_dir):
    """flagship_reconcile_bucketed (the r12 deployment twin under the
    driver gate) must scan both sides bucketed and spend its only
    exchange on the report aggregation — the join itself is
    exchange-free and sort-free."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = executed_plan(_run("flagship_reconcile_bucketed", spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert plan.count("Bucketed: true") == 2, plan
    # exactly one exchange NODE: the groupBy(c_mktsegment, _merge) agg
    # — nothing below the join shuffles or sorts. (The formatted plan
    # repeats each node name in its detail block, so count node
    # headers, not substrings.)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(_re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan
