"""Analytical benchmarks: the TPC-H-shaped headline queries (scan-agg,
join-agg, exists/not-exists, top-k) over the driver star schema.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators.join import anti
from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# D. Analytical benchmarks (TPC-H-shaped; the engine's headline queries)
# ---------------------------------------------------------------------------


@_q(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 2) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical scan→filter→agg plan.
    Eight aggregates in one pass, partial-aggregated map-side; at 100 TB
    this is scan-bound with a tiny shuffle (|groups| ≈ 6)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "tpch_q3_shipping_priority",
    """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-06-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-k.
    The customer filter prunes before the join; top-k ordering
    tie-breaks on o_orderkey so the LIMIT is deterministic across
    engines."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-06-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-06-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_q(
    "tpch_q3_bucketed",
    """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-06-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def tpch_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 over CO-BUCKETED orders⋈lineitem (sinks.tables
    layout): both facts bucketed 8-way on their orderkey, so the
    fact-fact join has NO shuffle exchange on either side, and the
    following aggregate reuses the same partitioning (bucket key is a
    subset of the grouping key) — the docs/PLANS.md "zero key
    exchanges" claim as an oracle-checked query instead of a plan
    assertion. First call per session lays the tables down under the
    repo-local bucket warehouse; the in-memory catalog forgets between
    sessions, so every driver round rebuilds from the current parquet."""
    import os as _os

    from graphql_api_etl_spark.sinks.tables import (
        bucket_warehouse_path,
        write_bucketed_table,
    )

    wh = bucket_warehouse_path(".bucket_warehouse")
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    spark.sql(f"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '{wh}'")
    tables = {
        "orders": ("o_orderkey", ["o_orderkey"]),
        "lineitem": ("l_orderkey", ["l_orderkey"]),
    }
    for base, (key, sort) in tables.items():
        name = f"graft_buckets.{base}_b_{tag}"
        if not spark.catalog.tableExists(name):
            # the in-memory catalog forgets between sessions but the
            # managed location survives on disk — clear it or
            # saveAsTable refuses with LOCATION_ALREADY_EXISTS
            # (scheme-agnostic delete: the warehouse root is
            # env-injectable and may be hdfs:// or s3a://)
            from graphql_api_etl_spark.sinks.tables import _delete_dir

            _delete_dir(spark, _os.path.join(wh, f"{base}_b_{tag}"))
            write_bucketed_table(_t(spark, sf_dir, base), name, [key], num_buckets=8, sort_cols=sort)
    o = spark.table(f"graft_buckets.orders_b_{tag}").filter(
        F.col("o_orderdate") < F.lit("1995-06-15").cast("timestamp")
    )
    li = spark.table(f"graft_buckets.lineitem_b_{tag}").filter(
        F.col("l_shipdate") > F.lit("1995-06-15").cast("timestamp")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def _layout_cache_path(
    sf_dir: str, name: str, src_tables: list[str], version: int = 1
) -> tuple[str, bool]:
    """Cache dir for a derived-layout copy, keyed by the sf tag AND a
    fingerprint (mtime_ns + size) of the source parquet files — so
    regenerated testdata can never silently reuse a stale copy (r3
    ADVICE: the _SUCCESS-only check survived a testdata regen). Other
    fingerprints of the same (name, tag) are garbage-collected.
    ``version`` salts the fingerprint with the BUILDER's revision:
    source-data fingerprints can't see a code change in the writer
    (hit live in r7 — the corrupt-CSV writer fix kept serving the old
    copy until a manual purge), so bump the caller's version whenever
    its build_fn changes what it writes.
    Returns (path, is_valid_cached_copy)."""
    import glob as _glob
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))), ".layout_cache"
    )
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1])
    h = _hashlib.md5(f"v{version};".encode())
    for t in src_tables:
        st = _os.stat(_os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_mtime_ns}:{st.st_size};".encode())
    fp = h.hexdigest()[:10]
    path = _os.path.join(root, f"{name}_{tag}_{fp}")
    for stale in _glob.glob(_os.path.join(root, f"{name}_{tag}_*")):
        if stale != path and not stale.startswith(path + ".tmp"):
            _shutil.rmtree(stale, ignore_errors=True)
    return path, _os.path.exists(_os.path.join(path, "_SUCCESS"))


def _publish_layout(build_fn, path: str) -> None:
    """Build into a pid-suffixed sibling and atomically rename into
    place: a concurrent session either wins the rename or discards its
    build — readers can never observe a half-written copy (r3 ADVICE
    first-call write race)."""
    import os as _os
    import shutil as _shutil

    tmp = f"{path}.tmp.{_os.getpid()}"
    _shutil.rmtree(tmp, ignore_errors=True)
    build_fn(tmp)
    try:
        _os.rename(tmp, path)
    except OSError:
        _shutil.rmtree(tmp, ignore_errors=True)  # lost the race; a valid copy exists


@_q(
    "layout_zorder_prune",
    """
SELECT l_partkey,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 7
GROUP BY l_partkey
""",
)
def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-aggregate over the Z-ORDERED copy of lineitem
    (sinks.zorder.write_zordered, clustered on l_partkey+l_suppkey)
    while the oracle reads the RAW table: a hash match proves the
    Morton-interleave → range-partition → sorted write is lossless,
    the same way tpch_q3_bucketed oracle-checks the bucketed layout.
    The scan itself is the payoff case — both filter columns are
    z-clustered, so parquet footer min/max stats prune most files for
    either predicate (selectivity asserted in tests/test_skew_and_tables.py).
    First call lays the copy down under the repo-local layout dir,
    keyed by a fingerprint of the source parquet (stale copies from
    regenerated testdata are collected) and published atomically."""
    from graphql_api_etl_spark.sinks.zorder import write_zordered

    path, cached = _layout_cache_path(sf_dir, "lineitem_z", ["lineitem"])
    if not cached:
        _publish_layout(
            lambda tmp: write_zordered(
                spark, _t(spark, sf_dir, "lineitem"), tmp,
                ["l_partkey", "l_suppkey"], bits=8, n_files=16,
            ),
            path,
        )
    z = spark.read.parquet(path)
    return (
        z.filter(F.col("l_partkey").between(50, 150) & F.col("l_suppkey").between(2, 7))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@_q(
    "layout_compacted_scan",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def layout_compacted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the COMPACTED rewrite of a deliberately
    fragmented orders copy (64 shards → sinks.maintenance.compact_parquet)
    while the oracle reads the raw table: hash match proves the
    small-file compaction pass is lossless. The fragmented copy
    simulates what streaming sinks / per-batch upserts leave behind;
    compaction is the maintenance op that keeps 100 TB scans at one
    task per ~128 MB instead of one task per micro-file."""
    import shutil as _shutil

    from graphql_api_etl_spark.sinks.maintenance import compact_parquet

    compacted, cached = _layout_cache_path(sf_dir, "orders_compact", ["orders"])
    if not cached:

        def _build(tmp: str) -> None:
            frag = f"{tmp}_frag"
            _t(spark, sf_dir, "orders").repartition(64).write.mode("overwrite").parquet(frag)
            compact_parquet(spark, frag, target_bytes=32 * 1024 * 1024, out_path=tmp)
            _shutil.rmtree(frag, ignore_errors=True)

        _publish_layout(_build, compacted)
    o = spark.read.parquet(compacted)
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@_q(
    "source_jsonl_roundtrip",
    """
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars, md5(text) AS text_md5
FROM documents
""",
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines source — THE interchange format of LLM corpora: the
    documents table is written once as JSONL (fingerprint-cached,
    atomically published like the layout entries), read back with a
    DECLARED schema (no inference scan — at 100 TB schema inference is
    a full extra pass), and hash-matched against the parquet oracle
    including an md5 of the text payload, so JSON string escaping must
    round-trip byte-exactly. Line-splittable → parallel scan."""
    from pyspark.sql import types as T

    path, cached = _layout_cache_path(sf_dir, "documents_jsonl", ["documents"])
    docs = _t(spark, sf_dir, "documents")
    if not cached:
        _publish_layout(lambda tmp: docs.write.mode("overwrite").json(tmp), path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    j = spark.read.schema(schema).json(path)
    return j.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@_q(
    "source_orc_roundtrip",
    """
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars, md5(text) AS text_md5
FROM documents
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink — the other columnar interchange format Spark
    ships natively (Hive-ecosystem corpora arrive as ORC). The
    documents table is written once as ORC (fingerprint-cached,
    atomically published), read back, and hash-matched against the
    parquet oracle including an md5 of the text payload — so type
    mapping and string encoding must round-trip byte-exactly. ORC is
    splittable with stripe-level predicate pushdown, so the scan
    parallelizes like parquet at 100 TB."""
    path, cached = _layout_cache_path(sf_dir, "documents_orc", ["documents"])
    docs = _t(spark, sf_dir, "documents")
    if not cached:
        _publish_layout(lambda tmp: docs.write.mode("overwrite").orc(tmp), path)
    o = spark.read.orc(path)
    return o.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@_q(
    "tpch_q5_local_volume",
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
""",
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with region pruning. Dim tables
    broadcast; the fact-fact orders⋈lineitem is the only real shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@_q(
    "tpch_q6_forecast_revenue",
    """
SELECT coalesce(round(sum(l_extendedprice * l_discount), 2), 0.0) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter→scalar-agg. Every predicate reaches
    the parquet scan (range + equality pushdown); zero shuffle beyond
    the single-row final reduce — at 100 TB this is I/O-bound and
    row-group statistics prune most of the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.coalesce(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2), F.lit(0.0)).alias(
            "revenue"
        )
    )


@_q(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join with a non-equi conjunct
    (l_shipdate > o_orderdate). Semi joins never duplicate the probe
    side, so the count is per-order regardless of lineitem fan-out."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-04-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "tpch_q18_large_orders",
    """
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS totalprice, round(sum_qty, 2) AS sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: agg-then-join with HAVING. The heavy groupBy
    runs FIRST and shrinks lineitem to qualifying orders before any
    join; the tiny survivor set then broadcasts against orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@_q(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue top-k. Top-k is
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_q(
    "tpch_q16_supplier_variety",
    """
SELECT p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
GROUP BY p_type
""",
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) per group — Spark expands to a
    two-phase partial-distinct aggregate (dedup before the final
    shuffle), no driver-side set building."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "tpch_q7_nation_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, l_year
""",
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume by year — the
    two-fact five-dim join. Dimension sides (supplier, customer,
    nation×2) broadcast; lineitem streams through once; the one
    exchange is the final (nation, nation, year) group-by."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")))
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@_q(
    "tpch_q13_order_distribution",
    """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer distribution — left outer
    preserving zero-order customers, then a second aggregation over the
    first's output (the re-aggregation reuses nothing and shuffles only
    |customers| pre-aggregated rows)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "tpch_q14_promo_share",
    """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue share — one broadcast join,
    two conditional sums in a single pass, shipdate pushed to the
    scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 2).alias("promo_revenue_pct"))
    )


@_q(
    "tpch_q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: derived revenue view consumed twice (rows +
    scalar max) — the view is computed once and reused; the max is a
    broadcast scalar, not a sort. Revenue rounded BEFORE the equality
    so the float comparison is engine-portable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_rev"))
    )
    best = rev.agg(F.max("total_rev").alias("best"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(best), rev.total_rev == best.best)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@_q(
    "tpch_q17_small_quantity",
    """
WITH pa AS (
  SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_floor
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qty_floor
""",
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) DE-CORRELATED into an aggregate + equi-join — the
    standard rewrite; the per-part averages shuffle once and join on
    the same key as the fact filter."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_floor")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("qty_floor"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_q(
    "tpch_q19_or_of_ands",
    """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_or_of_ands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across both join sides.
    Catalyst extracts the common single-side conjuncts (quantity range
    union on lineitem, brand/size union on part) and pushes them below
    the join, so both scans prune before pairing."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        clause("Brand#1", 5, 1, 11) | clause("Brand#2", 10, 10, 20) | clause("Brand#3", 15, 20, 30)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


@_q(
    "tpch_q22_idle_rich",
    """
WITH ab AS (SELECT avg(c_acctbal) AS bal_floor FROM customer WHERE c_acctbal > 0.0),
rich AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer, ab WHERE c_acctbal > bal_floor
)
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = rich.c_custkey)
GROUP BY c_nationkey
""",
)
def tpch_q22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar aggregate as a filter (broadcast
    scalar, no driver round trip) + NOT EXISTS as a left-anti join —
    customers above the positive-balance average who never ordered."""
    c = _t(spark, sf_dir, "customer")
    floor_ = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("bal_floor"))
    rich = c.join(F.broadcast(floor_), c.c_acctbal > floor_.bal_floor).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        anti(rich, o, on="c_custkey")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


@_q(
    "tpch_q2_min_cost_supplier",
    """
WITH cost AS (
  SELECT l_partkey AS pk, l_suppkey AS sk, min(l_extendedprice) AS unit_cost
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation   ON n_nationkey = s_nationkey
                JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, l_suppkey
), best AS (SELECT pk, min(unit_cost) AS best_cost FROM cost GROUP BY pk)
SELECT p_partkey, p_name, s_name, n_name, round(s_acctbal, 2) AS acctbal,
       round(unit_cost, 2) AS unit_cost
FROM cost JOIN best USING (pk)
     JOIN part ON p_partkey = pk
     JOIN supplier ON s_suppkey = sk
     JOIN nation ON n_nationkey = s_nationkey
WHERE unit_cost = best_cost AND p_type = 'PROMO'
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp in the driver schema, so unit cost
    derives from lineitem): per-part MIN-cost supplier within a region
    — the correlated scalar-min subquery, de-correlated into a
    per-part min aggregate joined back on the part key. min() is
    exact on doubles (no summation-order hazard), so the equality
    match is engine-portable. Dims broadcast; the cost table shuffles
    once on (part, supplier) and its per-part min reuses the same
    exchange prefix."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(euro_sup.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.min("l_extendedprice").alias("unit_cost"))
    )
    best = cost.groupBy("pk").agg(F.min("unit_cost").alias("best_cost"))
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    return (
        cost.join(best, "pk")
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .join(F.broadcast(p), F.col("pk") == p.p_partkey)
        .join(F.broadcast(euro_sup), F.col("sk") == euro_sup.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round("unit_cost", 2).alias("unit_cost"),
        )
    )


@_q(
    "tpch_q8_market_share",
    """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume), 4)
         AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
) t
GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): conditional-fraction
    aggregation over a 7-table star. Every dimension broadcasts; the
    two fact tables (lineitem⋈orders) are the only shuffle pair, and
    the supplier-nation vs customer-nation roles use two aliased
    broadcast copies of nation — the classic role-playing-dimension
    plan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nat.alias("n1")
    n2 = nat.alias("n2")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(reg), F.col("n1.n_regionkey") == reg.r_regionkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0)))
            / F.sum("volume"),
            4,
        ).alias("mkt_share")
    )


@_q(
    "tpch_q9_profit_by_nation",
    """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%red%'
) t
GROUP BY nation, o_year
""",
)
def tpch_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit; ps_supplycost stands in as
    10% of p_retailprice — no partsupp in the driver schema): LIKE
    filter on the part dimension pruned BEFORE the fact join, then a
    two-fact join and a (nation, year) rollup. Part/supplier/nation
    broadcast; lineitem⋈orders is the one real shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@_q(
    "tpch_q11_important_stock",
    """
WITH val AS (
  SELECT l_partkey AS p_partkey, sum(l_extendedprice * (1 - l_discount)) AS value
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT p_partkey, round(value, 2) AS value
FROM val
WHERE value > (SELECT 0.005 * sum(value) FROM val)
""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part value vs a FRACTION of
    the global total — the uncorrelated scalar subquery in a HAVING.
    The per-part aggregate computes once; the global total is a second
    aggregate over the SAME frame (Catalyst reuses the exchange) and
    reaches the filter as a broadcast 1-row cross join, never a
    re-scan."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_sup = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select("s_suppkey")
    val = (
        li.join(F.broadcast(nat_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"))
    )
    threshold = val.agg((0.005 * F.sum("value")).alias("__thr__"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("__thr__"))
        .select("p_partkey", F.round("value", 2).alias("value"))
    )


@_q(
    "tpch_q12_late_shipments",
    """
SELECT l_returnflag AS shipclass,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
""",
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode/receiptdate in the driver
    schema: 'late' = shipped >60 days after order date, classes from
    l_returnflag): the two-way CASE-sum pivot over a fact-fact join.
    The join-side date comparison can't push below the join, but both
    scans still prune to the three referenced columns each."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("shipclass"))
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(F.col("o_orderpriority") != "1-URGENT", 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@_q(
    "tpch_q20_excess_suppliers",
    """
WITH small_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
     qty AS (
       SELECT l_suppkey AS sk, sum(l_quantity) AS total_qty
       FROM lineitem
       WHERE l_partkey IN (SELECT p_partkey FROM small_parts)
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY l_suppkey
     )
SELECT s_name, round(s_acctbal, 2) AS acctbal
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (SELECT sk FROM qty WHERE total_qty > 50)
""",
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (partsupp availability folded into shipped
    quantity): nested IN subqueries lowered to left-semi joins — parts
    filter SEMI-joins the fact, the per-supplier quantity gate
    SEMI-joins the supplier dimension. No row ever duplicates through
    either membership test."""
    li = _t(spark, sf_dir, "lineitem")
    p_small = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small")).select("p_partkey")
    qty = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p_small), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 50)
        .select("sk")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(qty), sup.s_suppkey == F.col("sk"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@_q(
    "tpch_q21_waiting_suppliers",
    """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY AND o_orderstatus = 'F'
),
 all_sup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM all_sup a
              WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
""",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting; 'late' = shipped
    >90 days after an 'F'-status order's date): the EXISTS / NOT
    EXISTS pair lowered to a left-semi + left-anti join on the order
    key with a supplier-inequality condition — the one TPC-H query
    whose plan is two correlated existentials over the same derived
    table. `late` is computed once and reused on both sides."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_sup = li.select("l_orderkey", "l_suppkey").distinct()
    l1 = late.alias("l1")
    other = all_sup.alias("a")
    other_late = late.alias("l2")
    waiting = (
        l1.join(
            other,
            (F.col("l1.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("a.l_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_anti",
        )
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(sup), F.col("l1.l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@_q(
    "a_rollup_counts",
    """
SELECT coalesce(n_name, '<all>') AS nation,
       coalesce(c_mktsegment, '<all>') AS segment,
       count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
""",
)
def a_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (engine-native; the reference has
    no grouping sets — SURVEY §2.6). One shuffle computes all three
    grouping levels; NULL group markers coalesced for the comparison."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("segment"),
            "n",
            "total_bal",
        )
    )


@_q(
    "a_grouping_sets",
    """
SELECT coalesce(n_name, '<all>') AS nation,
       coalesce(c_mktsegment, '<all>') AS segment,
       count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
""",
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the slices ROLLUP/CUBE can't express
    (here: per-nation, per-segment, and grand total WITHOUT the
    (nation, segment) cross cells that CUBE would add). One shuffle
    computes all three groupings via the same Expand operator the
    rollup/cube entries use — the row stream is replicated once per
    grouping set map-side, then a single exchange aggregates, so at
    scale the cost is (#sets)× the map output of one GROUP BY, never
    one job per slice."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupingSets([["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("segment"),
            "n",
            "total_bal",
        )
    )
