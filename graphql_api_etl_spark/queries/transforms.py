"""Projections, transforms, filters and scalar-function batteries
(SURVEY §2 P*/F*/X*).

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# B. Projections / transforms / filters / scalar functions
# ---------------------------------------------------------------------------


@_q(
    "p_transform_chain",
    """
SELECT CAST(CAST(c_custkey AS BIGINT) AS VARCHAR) AS unit_str,
       lower(trim(c_name)) AS name_norm,
       CASE WHEN c_acctbal < 0 THEN 'negative' ELSE 'ok' END AS balance_flag,
       round(c_acctbal, 2) AS acctbal,
       coalesce(c_mktsegment, '') AS segment_filled
FROM customer
""",
)
def p_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + derived columns + conditional update + null fill
    (P1/P4/P5/X1/X2/X5/X7: Unit int→str ETL:262–263, masked backfill
    ETL:759–771, NaN→"" ETL:349). Pure narrow projection — no shuffle,
    whole-stage codegen, column-pruned scan."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").cast("string").alias("unit_str"),
        F.lower(F.trim(F.col("c_name"))).alias("name_norm"),
        F.when(F.col("c_acctbal") < 0, F.lit("negative")).otherwise(F.lit("ok")).alias("balance_flag"),
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        F.coalesce(F.col("c_mktsegment"), F.lit("")).alias("segment_filled"),
    )


@_q(
    "f_filter_chain",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
  AND l_quantity IS NOT NULL
  AND l_returnflag IN ('A', 'R')
  AND l_quantity > 25
""",
)
def f_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate (F1 dropna ETL:257, F4 isin ETL:441, range +
    null tests): every conjunct reaches the parquet scan as a pushed
    filter (verified in tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.na.drop(subset=["l_quantity"])
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_quantity") > 25)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@_q(
    "x_string_functions",
    """
SELECT p_partkey,
       lower(p_name) AS name_lower,
       string_split(p_type, ' ')[1] AS type_head,
       contains(p_type, 'BRASS') AS is_brass,
       CAST(split_part(CAST(p_retailprice AS VARCHAR), '.', 1) AS VARCHAR) AS price_int_str,
       concat(p_brand, '/', p_type) AS brand_type
FROM part
""",
)
def x_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (X1–X4, X7–X8: lower ETL:642, split-take
    ETL:332/351, contains ETL:331, f-string concat ETL:633). The
    float→int-string truncation reproduces the reference's zip/remoteId
    handling (``str.split(".").str[0]``, ETL:351)."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("name_lower"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.col("p_type").contains("BRASS").alias("is_brass"),
        F.split(F.col("p_retailprice").cast("string"), "\\.").getItem(0).alias("price_int_str"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
    )


@_q(
    "p_rownum_synth",
    """
SELECT c_mktsegment,
       concat('user+', CAST((row_number() OVER (ORDER BY c_mktsegment) - 1) * 100 AS VARCHAR),
              '@example.com') AS synth_email
FROM (SELECT DISTINCT c_mktsegment FROM customer)
""",
)
def p_rownum_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-synthesized value per distinct key (P7: enumerate distinct
    names → ``f"...+{i*100}@..."`` ETL:631–634) via a window row_number
    — the distributed replacement for pandas' implicit row index."""
    seg = _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    # global-window-ok: input is distinct c_mktsegment — ≤5 rows at any SF
    w = W.orderBy("c_mktsegment")
    return seg.withColumn(
        "synth_email",
        F.concat(
            F.lit("user+"),
            ((F.row_number().over(w) - 1) * 100).cast("string"),
            F.lit("@example.com"),
        ),
    )


@_q(
    "a_bool_all_guard",
    """
SELECT bool_and(o_totalprice > 0) AS all_positive,
       bool_and(o_orderpriority = '1-URGENT') AS all_urgent,
       count(*) AS n
FROM orders
""",
)
def a_bool_all_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column ALL() predicate (F8/A6: ``(remoteId=="").all()``
    ETL:390 — the runtime plan-switch input). One partial-aggregated
    boolean per partition, one tiny final reduce."""
    return _t(spark, sf_dir, "orders").agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_and(F.col("o_orderpriority") == "1-URGENT").alias("all_urgent"),
        F.count(F.lit(1)).alias("n"),
    )
