"""Aggregates, set operations and the hierarchy-levels family
(SURVEY §2 A*/SO*).

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# C. Aggregates / set ops / hierarchy
# ---------------------------------------------------------------------------


@_q(
    "a_collect_set_per_group",
    """
SELECT n_name,
       coalesce(array_to_string(list_sort(list(DISTINCT c_mktsegment)
                                          FILTER (WHERE c_mktsegment IS NOT NULL)), '|'),
                '') AS segments,
       count(DISTINCT c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def a_collect_set_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by + collect-distinct-set (A1: locations per district,
    ``groupby(...)["..."].unique()`` ETL:563–569). Arrays sorted for
    order-insensitive comparison."""
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    joined = nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left_outer")
    return joined.groupBy("n_name").agg(
        # string-serialized set (driver canon can't hash list cells)
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias("segments"),
        F.countDistinct("c_custkey").alias("n_customers"),
    )


@_q(
    "x_hierarchy_closure",
    """
WITH RECURSIVE edges AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS child,
         'n' || CAST(c_nationkey AS VARCHAR) AS parent
  FROM customer
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS VARCHAR),
         'r' || CAST(n_regionkey AS VARCHAR)
  FROM nation
), walk AS (
  SELECT child, parent, 1 AS depth FROM edges
  UNION ALL
  SELECT w.child, e.parent, w.depth + 1
  FROM walk w JOIN edges e ON w.parent = e.child
)
SELECT child AS node_id, parent AS root_id, CAST(depth AS BIGINT) AS depth
FROM walk
WHERE parent NOT IN (SELECT child FROM edges)
""",
)
def x_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive parent-chain closure (deep generalization of the
    reference's two-level hierarchy, A4/K5 ETL:526–573): every node's
    terminal ancestor + depth over the customer→nation→region forest.
    Spark has no recursive CTE; operators/graph.closure_roots resolves
    a depth-d chain in ⌈log₂ d⌉ pointer-doubling self-joins, hash-
    checked here against DuckDB's textbook WITH RECURSIVE walk."""
    from graphql_api_etl_spark.operators.graph import closure_roots

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("child"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("parent"),
    ).unionByName(
        nation.select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent"),
        )
    )
    return closure_roots(edges)


@_q(
    "a_distinct_values",
    "SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
)
def a_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct rows / distinct column values (A2/A3: drop_duplicates
    ETL:781, ``.unique()`` ETL:438). Partial-agg dedup before shuffle."""
    return _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus").distinct()


@_q(
    "a_hierarchy_levels",
    """
SELECT r_name AS group_name, CAST(NULL AS VARCHAR) AS parent_name, 1 AS level, TRUE AS is_top
FROM (SELECT DISTINCT r_name FROM region)
UNION ALL
SELECT n_name AS group_name, r_name AS parent_name, 2 AS level, FALSE AS is_top
FROM (SELECT DISTINCT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey)
""",
)
def a_hierarchy_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (parent/child) modeling with parent-before-child dedup
    (A4: one row per Region, one per (Region, District), Regions first —
    ETL:283–308). Ordering is a sink-protocol concern: the ``level``
    column drives level-phased writes (SURVEY §7 hard part 2), so no
    global sort is needed."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    top = (
        region.select("r_name")
        .dropDuplicates(["r_name"])
        .select(
            F.col("r_name").alias("group_name"),
            F.lit(None).cast("string").alias("parent_name"),
            F.lit(1).alias("level"),
            F.lit(True).alias("is_top"),
        )
    )
    child = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_name", "r_name")
        .dropDuplicates(["n_name", "r_name"])
        .select(
            F.col("n_name").alias("group_name"),
            F.col("r_name").alias("parent_name"),
            F.lit(2).alias("level"),
            F.lit(False).alias("is_top"),
        )
    )
    return top.unionByName(child)


@_q(
    "so_union_distinct",
    """
SELECT n_nationkey AS nationkey FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION
SELECT n_nationkey AS nationkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
""",
)
def so_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION distinct of two reshaped frames (SO1/SO2: concat +
    drop_duplicates ETL:799–800)."""
    nation = _t(spark, sf_dir, "nation")
    cust_nations = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    supp_nations = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    return cust_nations.unionByName(supp_nations).distinct()


@_q(
    "so_except",
    """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
""",
)
def so_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (SO4: pair-list ``not in`` ETL:957–960) as
    EXCEPT DISTINCT."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return cust.subtract(supp)


@_q(
    "so_intersect",
    """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 100000
""",
)
def so_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set-op family SO1–SO4 completeness): customers with
    both an urgent order and a big-ticket order. Spark plans it as a
    left-semi over deduped sides — partial-agg dedup before the
    shuffle, same scale shape as union-distinct."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return urgent.intersect(big)


@_q(
    "text_wordcount",
    r"""
WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
counts AS (SELECT tok, count(*) AS n
           FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok)
SELECT tok, n FROM counts
ORDER BY n DESC, tok
LIMIT 50
""",
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus wordcount, top-50: explode normalized
    tokens → hash-agg → TakeOrderedAndProject (per-partition heaps, no
    global sort). Deterministic via the (count, token) tie-break.
    Scale: partial aggregation absorbs token frequency skew before the
    shuffle; the exchange carries |vocab| partial counts, not tokens."""
    from graphql_api_etl_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(50)
    )


@_q(
    "j_salted_skew_join",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/skew.salted_join under the driver's hash gate: the
    fact side salted over 16 buckets, the joined side replicated ×16,
    so no task ever owns a whole hot key — and the oracle is the PLAIN
    join, proving row-for-row equivalence. This is the explicit lever
    for the case AQE's runtime skew split can't fix (hot keys on a
    build side too big to broadcast). Equivalence is also
    property-tested in tests/test_skew_and_tables.py."""
    from graphql_api_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    joined = salted_join(li, o, on="l_orderkey", n_buckets=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@_q(
    "j_skew_aware",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def j_skew_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/skew.skew_aware_join under the driver's hash gate: the
    measured r11 strategy table (broadcast > AQE-split-fired >
    SHUFFLE_HASH > plain SMJ, docs/PLANS.md) picking the join strategy
    from the ACTUAL inputs — dim size via Catalyst stats, hot-partition
    size via the SIZE-SWITCHED diagnosis (VERDICT r13 ask #1:
    operators/skew.diagnose_hot_partition_bytes — exact per-key
    histogram while the fact's Catalyst estimate is under 1 GiB, the
    seeded 1% Bernoulli sample past it, so at 100 TB the diagnosis is
    priced like a sample scan, never like the join itself). The oracle
    is the PLAIN join, proving the router is strategy-transparent:
    every branch returns identical rows. tests/test_plans.py asserts
    this entry's executed plan takes the branch its inputs call for
    (broadcast at test scale — the dim fits the budget; at 100 TB the
    same call degrades to SMJ + AQE skew split as the stats cross the
    thresholds, with SHUFFLE_HASH for the
    skewed-but-under-split-threshold middle band), and
    tests/test_skew_and_tables.py pins that the sampled and exact
    diagnoses pick the SAME strategy on the skewed fixture.
    Cites ETL:391–415 (the reconcile fact-fact joins, the skew-exposed
    shape at scale)."""
    from graphql_api_etl_spark.operators.skew import (
        diagnose_hot_partition_bytes,
        skew_aware_join,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    # Skew diagnosis (bounded: one row back to the driver; exact under
    # the size switch at gate scale, seeded-sample at 100 TB).
    hot_bytes = diagnose_hot_partition_bytes(li, on="l_orderkey")
    joined = skew_aware_join(li, o, on="l_orderkey", hot_partition_bytes=hot_bytes)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@_q(
    "a_two_phase_agg",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
)
def a_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/skew.two_phase_agg under the driver's hash gate:
    partial aggregation on (key, salt) then final combine on key —
    l_returnflag has 3 values over all of lineitem, a genuinely hot
    grouping. The oracle is the plain GROUP BY, proving the two-phase
    decomposition is value-identical for algebraic aggregates (sums
    rounded: re-associating double addition moves the last bits)."""
    from graphql_api_etl_spark.operators.skew import two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    agg = two_phase_agg(
        li,
        keys=["l_returnflag"],
        sums=["l_quantity"],
        mins=["l_extendedprice"],
        maxs=["l_extendedprice"],
        n_buckets=16,
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("min_l_extendedprice", 2).alias("min_price"),
        F.round("max_l_extendedprice", 2).alias("max_price"),
    )


@_q(
    "v_count_gates",
    """
SELECT (SELECT count(*) FROM customer) AS n_customer,
       (SELECT count(*) FROM orders) AS n_orders,
       (SELECT count(*) FROM lineitem) AS n_lineitem,
       (SELECT count(*) FROM orders) = (SELECT count(DISTINCT o_orderkey) FROM orders) AS orders_key_unique
""",
)
def v_count_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-gate arithmetic (A5/A7/V1: ``shape[0]`` checks
    ETL:20/38–42/429): row counts + a key-uniqueness reconciliation
    check, as one tiny DataFrame."""
    c = _t(spark, sf_dir, "customer").count()
    o_df = _t(spark, sf_dir, "orders")
    o = o_df.count()
    li = _t(spark, sf_dir, "lineitem").count()
    o_distinct = o_df.select("o_orderkey").distinct().count()
    return spark.createDataFrame(
        [(c, o, li, o == o_distinct)],
        "n_customer bigint, n_orders bigint, n_lineitem bigint, orders_key_unique boolean",
    )
