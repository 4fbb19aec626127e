"""Sequence / interval / warehouse-history analytics: islands,
sessionized gaps, effective-dating, range joins, autocorrelation.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t
from graphql_api_etl_spark.queries.tpch import _layout_cache_path, _publish_layout

# ---------------------------------------------------------------------------
# R4c3: sequence / interval / warehouse-history analytics
# ---------------------------------------------------------------------------


@_q(
    "events_max_concurrency",
    """
WITH iv AS (
  SELECT event_type, ts AS s,
         ts + (event_id % 120 + 1) * INTERVAL 1 MINUTE AS e
  FROM events
),
b AS (
  SELECT event_type, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM iv
),
r AS (
  SELECT event_type,
         sum(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS conc
  FROM b
)
SELECT event_type,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals,
       CAST(max(conc) AS BIGINT) AS max_concurrency
FROM r GROUP BY event_type
""",
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-overlap maximum: how many synthetic
    sessions (event start, +1..120 min deterministic duration) are
    simultaneously open, per event_type. The classic O(n log n)
    pattern distributed: each interval becomes a +1 start / -1 end
    boundary, one shuffle partitions by type, and a running sum over
    the time-ordered boundaries is the live-concurrency curve whose
    max is taken per group. Half-open intervals: ends sort before
    starts at equal t (ORDER BY t, d with d=-1 first), so touching
    intervals never overlap. Among equal (t, d) rows the prefix sum
    is order-dependent row-to-row but its group max is not (all
    deltas in a tie group share a sign, so the extremum sits at the
    group boundary) — the output is deterministic without a unique
    tie-break column. Scale: one shuffle, no self-join; the window
    sort is the same per-partition sort a 1000-executor cluster does
    for any event-time window."""
    from graphql_api_etl_spark.operators.timeseries import max_concurrency

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, CAST(event_id % 120 + 1 AS INT), 0)"
        ).alias("e"),
    )
    return max_concurrency(iv, "event_type", "s", "e")


@_q(
    "x_scd2_history",
    """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, ts
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
versioned AS (
  SELECT user_id, event_type, ts,
         row_number() OVER w AS version,
         lead(ts) OVER w AS next_ts
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, event_type AS state, CAST(version AS BIGINT) AS version,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(next_ts, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
         AS valid_to,
       next_ts IS NULL AS is_current
FROM versioned
""",
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build from an append-only
    change stream: collapse consecutive duplicate states per user
    (lag ≠ current keeps only change points), then close each version
    with the next change's timestamp (lead) — open versions get the
    sentinel high date and is_current=true. This is the warehouse
    history-table pattern (Kimball SCD2) expressed as two windows
    over ONE shuffle: both windows partition by user_id, so Catalyst
    reuses the exchange and the change-point filter runs streaming in
    the sorted partition. At 100 TB the same plan incrementalizes:
    union yesterday's open versions with today's deltas and re-run.
    Ordering is total — (ts, event_id) — so versions are
    deterministic under ties. Complements events_latest_per_user
    (SCD1 keep-latest) in the CDC family."""
    from graphql_api_etl_spark.operators.timeseries import scd2_history

    ev = _t(spark, sf_dir, "events")
    v = scd2_history(ev, "user_id", "event_type", "ts", "event_id").withColumnRenamed(
        "state", "event_type"
    )
    return v.select(
        "user_id",
        F.col("event_type").alias("state"),
        "version",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("next_ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


@_q(
    "events_transition_matrix",
    """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type FROM ordered
  WHERE prev_type IS NOT NULL
),
c AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY prev_type, next_type
),
tot AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY prev_type
)
SELECT c.prev_type, c.next_type, c.n,
       round(c.n::DOUBLE / tot.n_from, 4) AS p
FROM c JOIN tot ON c.prev_type = tot.prev_type
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() forms (prev → next) bigrams inside one
    user-partitioned window, a groupBy counts each transition, and
    row-conditional probabilities normalize by the source state's
    outflow. Two shuffles total — the user window and the
    (prev, next) count whose cardinality is |types|² regardless of
    data size, so the normalizing join is driver-trivial at any
    scale. This is the sequence-mining primitive behind session-flow
    sankeys and next-event prediction baselines; determinism comes
    from the (ts, event_id) total order (bigrams are order-sensitive
    only through the window sort, which is pinned)."""
    from graphql_api_etl_spark.operators.timeseries import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return (
        transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])
        .withColumnRenamed("prev_state", "prev_type")
        .withColumnRenamed("next_state", "next_type")
    )


@_q(
    "a_rfm_scores",
    """
WITH base AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', max(o_orderdate), TIMESTAMP '2026-01-01 00:00:00')
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
         frequency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency_days ASC, c_custkey) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS BIGINT) AS m_score
  FROM base
)
SELECT c_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
         CAST(m_score AS VARCHAR) AS rfm_segment
FROM scored
""",
)
def a_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary), the
    standard marketing-analytics segmentation: one aggregate over
    orders per customer, then three DISTRIBUTED ntile(5) quintiles
    over the per-customer rollup (r11: operators/rank.global_ntile —
    exact floor-balanced arithmetic over a range-shuffled row_number,
    so the plan holds even when the customer dimension outgrows one
    partition). Recency anchors to a fixed literal
    date so the query is reproducible; every ordering carries a
    c_custkey tie-break, making quintile boundaries deterministic on
    both engines (ntile's equal-split semantics agree given a total
    order)."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.lit("2026-01-01").cast("timestamp"), F.max("o_orderdate"))
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    # r11 global-window sweep: all three quintiles run distributed
    # (operators/rank.global_ntile — one range shuffle each, exact
    # floor-balanced ntile arithmetic) instead of three
    # single-partition windows over the per-customer rollup.
    # INDEPENDENT branches joined back on the key, not a chain: each
    # global_ntile's offsets branch duplicates its input's plan, so
    # chaining three multiplied the whole upstream 2^3-fold (253
    # pre-AQE exchanges in the plan audit); the rollup is
    # localCheckpointed (the a_spearman_corr multi-consumer pattern)
    # and each branch reads it once.
    from graphql_api_etl_spark.operators.rank import global_ntile

    base = base.localCheckpoint(eager=True)
    scored = base
    for out, order in (
        ("r_score", [F.asc("recency_days"), F.asc("c_custkey")]),
        ("f_score", [F.desc("frequency"), F.asc("c_custkey")]),
        ("m_score", [F.desc("monetary"), F.asc("c_custkey")]),
    ):
        branch = global_ntile(base, order, 5, out_col=out).select(
            "c_custkey", F.col(out).cast("bigint").alias(out)
        )
        scored = scored.join(branch, "c_custkey")
    scored = scored.select(
        "c_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@_q(
    "a_profile_columns",
    """
WITH p AS (
  SELECT 'c_custkey' AS col_name, 'bigint' AS dtype,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(c_custkey) AS BIGINT) AS n_null,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
         CAST(min(c_custkey) AS VARCHAR) AS min_val,
         CAST(max(c_custkey) AS VARCHAR) AS max_val,
         CAST(NULL AS DOUBLE) AS avg_len
  FROM customer
  UNION ALL
  SELECT 'c_name', 'string', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(c_name) AS BIGINT),
         CAST(count(DISTINCT c_name) AS BIGINT),
         min(c_name), max(c_name), round(avg(length(c_name)), 2)
  FROM customer
  UNION ALL
  SELECT 'c_nationkey', 'int', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(c_nationkey) AS BIGINT),
         CAST(count(DISTINCT c_nationkey) AS BIGINT),
         CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR),
         CAST(NULL AS DOUBLE)
  FROM customer
  UNION ALL
  SELECT 'c_acctbal', 'double', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(c_acctbal) AS BIGINT),
         CAST(count(DISTINCT c_acctbal) AS BIGINT),
         CAST(CAST(min(c_acctbal) AS DECIMAL(12,2)) AS VARCHAR),
         CAST(CAST(max(c_acctbal) AS DECIMAL(12,2)) AS VARCHAR),
         CAST(NULL AS DOUBLE)
  FROM customer
  UNION ALL
  SELECT 'c_mktsegment', 'string', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(c_mktsegment) AS BIGINT),
         CAST(count(DISTINCT c_mktsegment) AS BIGINT),
         min(c_mktsegment), max(c_mktsegment),
         round(avg(length(c_mktsegment)), 2)
  FROM customer
)
SELECT * FROM p
""",
)
def a_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (the Deequ / Great-Expectations
    "profile" primitive): null count, distinct count, min/max, and
    string mean-length for every column of the customer dimension,
    unpivoted to one row per column. Spark computes ALL measures in a
    single aggregate over one scan — the five count-distincts expand
    to one shuffle (Expand operator, 5× the dimension's rows, still
    dim-sized) — then stack() reshapes the single wide row; the
    oracle writes the same measures as per-column passes for clarity.
    Numeric min/max are emitted through DECIMAL(12,2) so both engines
    render identical strings. At 100 TB this is the profile job you
    run per-partition-batch after ingest; count(DISTINCT) swaps for
    approx_count_distinct when exactness stops mattering (that
    variant is a_approx_count_distinct)."""
    c = _t(spark, sf_dir, "customer")
    n = F.count(F.lit(1))
    agg = c.agg(
        n.cast("bigint").alias("n_rows"),
        (n - F.count("c_custkey")).cast("bigint").alias("null_custkey"),
        F.count_distinct("c_custkey").cast("bigint").alias("nd_custkey"),
        F.min("c_custkey").cast("string").alias("min_custkey"),
        F.max("c_custkey").cast("string").alias("max_custkey"),
        (n - F.count("c_name")).cast("bigint").alias("null_name"),
        F.count_distinct("c_name").cast("bigint").alias("nd_name"),
        F.min("c_name").alias("min_name"),
        F.max("c_name").alias("max_name"),
        F.round(F.avg(F.length("c_name")), 2).alias("len_name"),
        (n - F.count("c_nationkey")).cast("bigint").alias("null_nationkey"),
        F.count_distinct("c_nationkey").cast("bigint").alias("nd_nationkey"),
        F.min("c_nationkey").cast("string").alias("min_nationkey"),
        F.max("c_nationkey").cast("string").alias("max_nationkey"),
        (n - F.count("c_acctbal")).cast("bigint").alias("null_acctbal"),
        F.count_distinct("c_acctbal").cast("bigint").alias("nd_acctbal"),
        F.min("c_acctbal").cast("decimal(12,2)").cast("string").alias("min_acctbal"),
        F.max("c_acctbal").cast("decimal(12,2)").cast("string").alias("max_acctbal"),
        (n - F.count("c_mktsegment")).cast("bigint").alias("null_seg"),
        F.count_distinct("c_mktsegment").cast("bigint").alias("nd_seg"),
        F.min("c_mktsegment").alias("min_seg"),
        F.max("c_mktsegment").alias("max_seg"),
        F.round(F.avg(F.length("c_mktsegment")), 2).alias("len_seg"),
    )
    return agg.selectExpr(
        "stack(5, "
        "'c_custkey', 'bigint', n_rows, null_custkey, nd_custkey, min_custkey, max_custkey, CAST(NULL AS DOUBLE), "
        "'c_name', 'string', n_rows, null_name, nd_name, min_name, max_name, len_name, "
        "'c_nationkey', 'int', n_rows, null_nationkey, nd_nationkey, min_nationkey, max_nationkey, CAST(NULL AS DOUBLE), "
        "'c_acctbal', 'double', n_rows, null_acctbal, nd_acctbal, min_acctbal, max_acctbal, CAST(NULL AS DOUBLE), "
        "'c_mktsegment', 'string', n_rows, null_seg, nd_seg, min_seg, max_seg, len_seg"
        ") AS (col_name, dtype, n_rows, n_null, n_distinct, min_val, max_val, avg_len)"
    )


@_q(
    "dq_expectations",
    """
WITH cust AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS dup_keys,
         CAST(count(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS neg_bal
  FROM customer
),
ord AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 1000000)
              AS BIGINT) AS bad_price,
         CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) AS null_date
  FROM orders
),
ord_ref AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
),
li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
              AS BIGINT) AS bad_qty
  FROM lineitem
),
li_ref AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
),
ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS null_ts
  FROM events
),
doc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE lang NOT IN ('en','de','fr','es'))
              AS BIGINT) AS bad_lang
  FROM documents
)
SELECT 'customer_custkey_unique' AS rule, n AS n_checked,
       dup_keys AS n_violations, dup_keys = 0 AS passed FROM cust
UNION ALL
SELECT 'customer_acctbal_non_negative', n, neg_bal, neg_bal = 0 FROM cust
UNION ALL
SELECT 'orders_totalprice_in_range', n, bad_price, bad_price = 0 FROM ord
UNION ALL
SELECT 'orders_orderdate_not_null', n, null_date, null_date = 0 FROM ord
UNION ALL
SELECT 'orders_custkey_in_customer', (SELECT n FROM ord), orphans,
       orphans = 0 FROM ord_ref
UNION ALL
SELECT 'lineitem_quantity_in_range', n, bad_qty, bad_qty = 0 FROM li
UNION ALL
SELECT 'lineitem_orderkey_in_orders', (SELECT n FROM li), orphans,
       orphans = 0 FROM li_ref
UNION ALL
SELECT 'events_ts_not_null', n, null_ts, null_ts = 0 FROM ev
UNION ALL
SELECT 'documents_lang_expected', n, bad_lang, bad_lang = 0 FROM doc
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ /
    Great-Expectations check primitive): nine rules across five
    tables — uniqueness, non-null, numeric range, referential
    integrity, and categorical domain — each yielding (rule,
    n_checked, n_violations, passed). Rules sharing a table fuse into
    ONE aggregate pass (count + conditional counts in the same agg),
    so the whole suite costs one scan per table plus two anti-join
    probes for referential integrity; nothing shuffles more than the
    key being checked. Two rules fail on this corpus by design
    (negative balances exist; 'zh' documents are outside the expected
    language set) so both branches of the verdict logic carry
    evidence. This is the validation-gate family (V1–V5, ETL:
    1020–1074) generalized from count gates to rule suites."""
    _sum = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    doc = _t(spark, sf_dir, "documents")

    cust = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("c_custkey")).cast("bigint").alias("dup_keys"),
        _sum(F.col("c_acctbal") < 0).alias("neg_bal"),
    )
    ordr = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _sum((F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 1000000)).alias("bad_price"),
        _sum(F.col("o_orderdate").isNull()).alias("null_date"),
    )
    ord_orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    )
    lin = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _sum((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("bad_qty"),
    )
    li_orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    )
    evt = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _sum(F.col("ts").isNull()).alias("null_ts"),
    )
    docs = doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _sum(~F.col("lang").isin("en", "de", "fr", "es")).alias("bad_lang"),
    )

    def rule(src: DataFrame, name: str, n_col: str, viol_col: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("rule"),
            F.col(n_col).alias("n_checked"),
            F.col(viol_col).alias("n_violations"),
            (F.col(viol_col) == 0).alias("passed"),
        )

    ord_ref = ordr.select("n").crossJoin(ord_orphans)
    li_ref = lin.select("n").crossJoin(li_orphans)
    frames = [
        rule(cust, "customer_custkey_unique", "n", "dup_keys"),
        rule(cust, "customer_acctbal_non_negative", "n", "neg_bal"),
        rule(ordr, "orders_totalprice_in_range", "n", "bad_price"),
        rule(ordr, "orders_orderdate_not_null", "n", "null_date"),
        rule(ord_ref, "orders_custkey_in_customer", "n", "orphans"),
        rule(lin, "lineitem_quantity_in_range", "n", "bad_qty"),
        rule(li_ref, "lineitem_orderkey_in_orders", "n", "orphans"),
        rule(evt, "events_ts_not_null", "n", "null_ts"),
        rule(docs, "documents_lang_expected", "n", "bad_lang"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_q(
    "text_sentence_split",
    """
WITH s AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+ ')) AS raw
  FROM documents
),
cleaned AS (
  SELECT doc_id,
         length(regexp_replace(trim(raw), '[.!?]+$', '')) AS slen
  FROM s
  WHERE length(regexp_replace(trim(raw), '[.!?]+$', '')) > 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       round(avg(slen), 2) AS avg_sentence_chars,
       CAST(max(slen) AS BIGINT) AS max_sentence_chars
FROM cleaned GROUP BY doc_id
""",
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + per-document sentence statistics: split
    on terminal-punctuation-plus-space runs, strip residual trailing
    punctuation, drop empties, and aggregate count / mean / max
    sentence length per document. The rule is deliberately
    regex-engine-portable (no lookbehind — Java regex has it, RE2
    does not), so Spark and DuckDB segment identically. Map-side
    explode then one shuffle on doc_id; at corpus scale the explode
    multiplies rows ~n_sentences× but stays pipeline-local (no
    materialization between split and aggregate), the same shape as
    the shingle/token entries. Sentence stats feed the quality-score
    family (mean sentence length is a standard fluency signal
    alongside text_quality_stats' ratios)."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", F.explode(F.split("text", r"[.!?]+ ")).alias("raw")
    )
    slen = F.length(F.regexp_replace(F.trim(F.col("raw")), r"[.!?]+$", ""))
    cleaned = s.select("doc_id", slen.alias("slen")).filter(F.col("slen") > 0)
    return cleaned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.round(F.avg("slen"), 2).alias("avg_sentence_chars"),
        F.max("slen").cast("bigint").alias("max_sentence_chars"),
    )


def _ewma_lag_sql() -> str:
    """Build the 20-term lag-weighted EWMA oracle (see events_ewma_trailing:
    the weights are powers of two so every product and partial sum is exact
    BIGINT arithmetic — summation order cannot perturb the result)."""
    num = " + ".join(
        f"coalesce(lag(v_cents, {d}) OVER w, 0) * {1 << (19 - d)}" for d in range(20)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v_cents, {d}) OVER w IS NOT NULL THEN {100 * (1 << (19 - d))} ELSE 0 END)"
        for d in range(20)
    )
    return f"""
WITH base AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
t AS (
  SELECT user_id, event_id, ts,
         {num} AS num,
         {den} AS den
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(num::DOUBLE / den::DOUBLE, 4) AS ewma
FROM t
"""


@_q("events_ewma_trailing", _ewma_lag_sql())
def events_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average (half-life = one
    event, window = last 20 events) per user — the standard smoothing
    feature for time-series feature stores. Expressed as ONE
    event-time window pass: the 20 decayed terms are lag(value, d)
    calls sharing a single (user_id, ts, event_id) window, so Spark
    computes all of them in one sort within one shuffle — no
    self-join, no row inflation. Determinism is engineered, not
    assumed: values quantize to integer cents and the weights are
    powers of two (2^(19-d)), making numerator and denominator exact
    BIGINT sums immune to FP summation order; the single final
    division is the only float op. At 100 TB this is the same
    plan shape as any sessionized rolling feature — partition by
    entity, sort by time, constant per-row work."""
    from graphql_api_etl_spark.operators.timeseries import ewma_trailing_cents

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    t, ewma = ewma_trailing_cents(base, "user_id", ["ts", "event_id"], "v_cents", depth=20)
    return t.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        ewma.alias("ewma"),
    )


@_q(
    "a_benford_first_digit",
    """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
SELECT digit, n,
       round(n::DOUBLE / tot.n_total, 4) AS observed_share,
       round(log10(1 + 1.0 / digit), 4) AS benford_share,
       round(abs(n::DOUBLE / tot.n_total - log10(1 + 1.0 / digit)), 4)
         AS abs_gap
FROM c, tot
""",
)
def a_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on order totals — the classic
    forensic-accounting / data-quality test for fabricated or
    truncated numeric columns. One map-side projection extracts the
    leading digit (integer floor → string head, no float log tricks
    on the extraction path), one 9-group aggregate, and the expected
    log10(1 + 1/d) shares plus absolute gaps are computed on the
    9-row result. Scale-free beyond the single fact scan; the
    aggregate is map-side-combined to 9 groups. Complements
    dq_expectations (rule-based) with a distributional screen."""
    o = _t(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = c.agg(F.sum("n").cast("bigint").alias("n_total"))
    benford = F.round(F.log10(F.lit(1) + F.lit(1.0) / F.col("digit")), 4)
    share = F.col("n").cast("double") / F.col("n_total")
    return c.crossJoin(tot).select(
        "digit",
        "n",
        F.round(share, 4).alias("observed_share"),
        benford.alias("benford_share"),
        F.round(F.abs(share - F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))), 4).alias("abs_gap"),
    )


@_q(
    "a_quantile_buckets",
    """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.1) AS b1,
         quantile_cont(o_totalprice, 0.2) AS b2,
         quantile_cont(o_totalprice, 0.3) AS b3,
         quantile_cont(o_totalprice, 0.4) AS b4,
         quantile_cont(o_totalprice, 0.5) AS b5,
         quantile_cont(o_totalprice, 0.6) AS b6,
         quantile_cont(o_totalprice, 0.7) AS b7,
         quantile_cont(o_totalprice, 0.8) AS b8,
         quantile_cont(o_totalprice, 0.9) AS b9
  FROM orders
),
assigned AS (
  SELECT 1 + (CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END) AS decile,
         o_totalprice
  FROM orders, b
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(avg(o_totalprice), 2) AS avg_price
FROM assigned GROUP BY decile
""",
)
def a_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-boundary bucketing — the SCALABLE alternative to a
    global ntile() window (which funnels every row through one sorted
    partition): ONE partial-aggregable percentile pass produces the 9
    decile boundaries, that single row is broadcast back over the
    fact scan, and bucket assignment is a map-side comparison chain —
    no global sort, no second shuffle beyond the 10-group rollup.
    This is the shape a_rfm_scores' docstring promises for
    fact-sized scoring tables. Strict-> comparisons pin boundary
    ties (a row equal to boundary k stays in bucket k) identically
    on both engines; at 100 TB the exact percentile swaps for
    approx_percentile with everything else unchanged."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q / 10})").alias(f"b{q}")
            for q in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for q in range(1, 10):
        decile = decile + F.when(F.col("o_totalprice") > F.col(f"b{q}"), 1).otherwise(0)
    assigned = o.crossJoin(F.broadcast(b)).select(
        decile.cast("bigint").alias("decile"), "o_totalprice"
    )
    return assigned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@_q(
    "a_entropy_per_group",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
tot AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT c.user_id, tot.n_events, tot.n_types,
       round(-sum((c.n::DOUBLE / tot.n_events) * ln(c.n::DOUBLE / tot.n_events)), 4)
         AS entropy
FROM c JOIN tot ON c.user_id = tot.user_id
GROUP BY c.user_id, tot.n_events, tot.n_types
""",
)
def a_entropy_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity / anomaly-profiling score (bots are
    low-entropy, organic users high). One shuffle to the
    (user, type) counts, whose cardinality is users × |types|; totals
    and the -Σ p·ln p fold both run over that aggregate, never the
    fact table. Probabilities derive from exact integer counts, so
    the only float work is ln over identical doubles (libm 1-ulp
    differences vanish under round 4)."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    p = F.col("n").cast("double") / F.col("n_events")
    return (
        c.join(tot, "user_id")
        .groupBy("user_id", "n_events", "n_types")
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("entropy"))
    )


@_q(
    "events_interarrival_stats",
    """
WITH g AS (
  SELECT event_type,
         epoch_ms(ts) - lag(epoch_ms(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_ms) AS BIGINT) AS min_ms,
       CAST(round(10.0 * sum(gap_ms) / count(*)) AS BIGINT) AS avg_ms_x10,
       CAST(round(10 * quantile_cont(gap_ms, 0.5)) AS BIGINT) AS p50_ms_x10,
       CAST(round(10 * quantile_cont(gap_ms, 0.9)) AS BIGINT) AS p90_ms_x10,
       CAST(max(gap_ms) AS BIGINT) AS max_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY event_type
""",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution: millisecond gaps between each
    user's consecutive events, aggregated per the arriving event's
    type (min / mean / exact p50 / p90 / max) — the latency-profile
    pass behind rate-limit tuning and burst detection. One
    user-partitioned window computes the gaps; the per-type rollup is
    a second small shuffle. Gaps are exact integers (epoch_ms), so
    the percentile interpolation is over identical values on both
    engines; the mean and percentiles are emitted INTEGER-SCALED
    (tenths of a ms, the a_percentiles/emb_quantize_int8 pattern,
    r12 knife-edge hardening): scale-then-round-to-integer avoids the
    round(x, 1) decimal-rendering asymmetry on inexact doubles — the
    exact hazard class that flipped two entries in the r12 off-gate
    sweep."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    g = ev.select(
        "event_type", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_ms").cast("bigint").alias("min_ms"),
        F.round(F.lit(10.0) * F.sum("gap_ms") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("avg_ms_x10"),
        F.round(F.lit(10) * F.expr("percentile(gap_ms, 0.5)"))
        .cast("bigint")
        .alias("p50_ms_x10"),
        F.round(F.lit(10) * F.expr("percentile(gap_ms, 0.9)"))
        .cast("bigint")
        .alias("p90_ms_x10"),
        F.max("gap_ms").cast("bigint").alias("max_ms"),
    )


@_q(
    "a_monthly_growth",
    """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         round(sum(o_totalprice), 2) AS revenue,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY month
),
g AS (
  SELECT month, revenue, n_orders,
         lag(revenue) OVER (ORDER BY month) AS prev_rev
  FROM m
)
SELECT month, revenue, n_orders,
       round((revenue - prev_rev) / prev_rev, 4) AS mom_pct
FROM g
""",
)
def a_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the canonical BI trend query:
    calendar-month rollup of the fact table (one partial-aggregated
    shuffle; the month key is a formatted string so both engines
    bucket identically), then a lag window over the ~80-row month
    table for the growth ratio. The global-order window runs over the
    AGGREGATE (bounded by the calendar, not the data), so the plan
    holds at any fact scale. Revenue is rounded BEFORE the ratio on
    both sides, making the division operands identical doubles."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    # global-window-ok: input is the month-grain aggregate — calendar-bounded
    w = W.orderBy("month")
    g = m.withColumn("prev_rev", F.lag("revenue").over(w))
    return g.select(
        "month", "revenue", "n_orders",
        F.round((F.col("revenue") - F.col("prev_rev")) / F.col("prev_rev"), 4).alias(
            "mom_pct"
        ),
    )


@_q(
    "events_range_frame_sum",
    """
WITH b AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_60s,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_60s
FROM b
WINDOW w AS (PARTITION BY user_id ORDER BY ms
             RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW)
""",
)
def events_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frames (RANGE BETWEEN, not ROWS): each
    event's trailing-60-second count and spend per user — the
    rate-limit / rolling-exposure primitive where the frame is
    defined by the ORDER VALUE, so simultaneous events (equal ms)
    are always in or out TOGETHER, making the result independent of
    tie order without any tie-break column (the reason this entry
    exists alongside the ROWS-frame suite). One shuffle on user_id;
    values quantize to integer cents so the frame sums are exact.
    Spark's rangeBetween needs a numeric sort key — epoch_ms — the
    same bridge the sessionize family uses."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ms").rangeBetween(-60000, 0)
    return b.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_60s"),
        F.sum("cents").over(w).cast("bigint").alias("cents_60s"),
    )


@_q(
    "events_path_analysis",
    """
WITH o AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS p1,
         lag(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path
  FROM o WHERE p2 IS NOT NULL
),
c AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths GROUP BY path
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
SELECT path, n, round(n::DOUBLE / tot.n_total, 4) AS share
FROM c, tot
ORDER BY n DESC, path LIMIT 5
""",
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 5 most-travelled 3-step event sequences across
    all user journeys (the sankey / user-flow primitive, one order up
    from events_transition_matrix's bigrams). Two stacked lags in ONE
    user-partitioned window form the trigrams; the path aggregate has
    at most |types|³ groups regardless of data size, and top-5 is
    TakeOrderedAndProject with a (n DESC, path) integer-first
    tie-break — no global sort, deterministic under count ties."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    paths = o.select(
        F.concat_ws(" > ", F.col("p2"), F.col("p1"), F.col("event_type")).alias("path")
    )
    c = paths.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = c.agg(F.sum("n").cast("bigint").alias("n_total"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select("path", "n", F.round(F.col("n").cast("double") / F.col("n_total"), 4).alias("share"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(5)
    )


@_q(
    "events_ohlc_bars",
    """
WITH b AS (
  SELECT event_type,
         epoch_ms(ts) // 300000 AS bar,
         value, ts, event_id,
         row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 300000
                            ORDER BY ts ASC, event_id ASC) AS rn_open,
         row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 300000
                            ORDER BY ts DESC, event_id DESC) AS rn_close
  FROM events
)
SELECT event_type, CAST(bar AS BIGINT) AS bar,
       CAST(count(*) AS BIGINT) AS n,
       round(max(CASE WHEN rn_open = 1 THEN value END), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(max(CASE WHEN rn_close = 1 THEN value END), 2) AS close
FROM b GROUP BY event_type, bar
""",
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: open / high / low / close of the value
    series per (event_type, 5-minute bar) — the financial/metrics
    downsampling primitive. Open and close are FIRST/LAST under the
    (ts, event_id) total order, computed as rank-1 rows of two
    opposite-direction windows over the SAME partitioning as the
    final aggregate — one shuffle serves both windows and the
    group-by (Catalyst reuses the exchange). High/low are plain
    min/max. first_value/last_value would need frame care and
    arg_min/max tie rules differ across engines; rank-1-then-agg is
    deterministic everywhere."""
    ev = _t(spark, sf_dir, "events")
    bar = (F.unix_millis("ts") / F.lit(300000)).cast("bigint")
    base = ev.select("event_type", bar.alias("bar"), "value", "ts", "event_id")
    wo = W.partitionBy("event_type", "bar").orderBy(F.asc("ts"), F.asc("event_id"))
    wc = W.partitionBy("event_type", "bar").orderBy(F.desc("ts"), F.desc("event_id"))
    b = base.select(
        "event_type", "bar", "value",
        F.row_number().over(wo).alias("rn_open"),
        F.row_number().over(wc).alias("rn_close"),
    )
    return b.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max(F.when(F.col("rn_open") == 1, F.col("value"))), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max(F.when(F.col("rn_close") == 1, F.col("value"))), 2).alias("close"),
    )


@_q(
    "events_active_users",
    """
WITH du AS (
  SELECT DISTINCT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day,
       CAST(count(DISTINCT CASE WHEN du.day = d.day THEN du.user_id END) AS BIGINT) AS dau,
       CAST(count(DISTINCT CASE WHEN du.day > d.day - 7 THEN du.user_id END) AS BIGINT) AS wau,
       CAST(count(DISTINCT du.user_id) AS BIGINT) AS mau
FROM days d
JOIN du ON du.day BETWEEN d.day - 29 AND d.day
GROUP BY d.day
""",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU engagement rollup — rolling DISTINCT users
    over 1/7/30-day windows, which no window frame can express
    (distinct isn't decomposable over sliding frames). The scalable
    shape: dedup the fact stream to (day, user) FIRST — one shuffle,
    after which cardinality is bounded by users × days — then a
    range join of that small table against the day spine with
    conditional distinct counts per window length. At 100 TB the
    dedup absorbs the data size; the windowed join never touches the
    raw stream. (The sketch alternative — per-day HLL merged across
    windows — is a_approx_count_distinct's territory; this entry is
    the exact path.)"""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        (F.unix_millis("ts") / F.lit(86400000)).cast("bigint").alias("day"),
        "user_id",
    ).distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "d")
    joined = days.join(
        du, (F.col("day") >= F.col("d") - 29) & (F.col("day") <= F.col("d")), "inner"
    )
    return (
        joined.groupBy("d")
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).cast("bigint").alias("dau"),
            F.count_distinct(
                F.when(F.col("day") > F.col("d") - 7, F.col("user_id"))
            ).cast("bigint").alias("wau"),
            F.count_distinct("user_id").cast("bigint").alias("mau"),
        )
        .withColumnRenamed("d", "day")
    )


@_q(
    "a_key_skew_report",
    """
WITH c AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey
),
r AS (
  SELECT n, row_number() OVER (ORDER BY n ASC, o_custkey ASC) AS rk FROM c
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_n,
         sum(rk * n) AS srk
  FROM r
)
SELECT n_keys, n_rows, max_n,
       round(max_n::DOUBLE * n_keys / n_rows, 4) AS skew_ratio,
       round((2.0 * srk) / (n_keys * n_rows) - (n_keys + 1.0) / n_keys, 4) AS gini
FROM s
""",
)
def a_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per-key row counts for orders'
    customer key, summarized as max/avg skew ratio and the Gini
    coefficient (rank formula G = 2Σ(rank·n)/(K·N) − (K+1)/K over
    counts sorted ascending with an integer tie-break) — the report
    you run BEFORE choosing between a plain shuffle join, AQE skew
    splitting, or the salted join (j_salted_skew_join implements the
    cure; this measures the disease). The fact table collapses to
    per-key counts in one partial-aggregated shuffle; ranking runs
    over keys, not rows. All inputs to the final two divisions are
    exact integers."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # r11 global-window sweep: the Gini rank runs distributed
    # (operators/rank.global_row_number) — per-key counts grow with
    # the key domain, so the bare-orderBy row_number funneled them
    # through one partition.
    from graphql_api_etl_spark.operators.rank import global_row_number

    r = global_row_number(
        c, [F.asc("n"), F.asc("o_custkey")], out_col="rk"
    ).select("n", "rk")
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
        F.sum(F.col("rk") * F.col("n")).alias("srk"),
    )
    return s.select(
        "n_keys", "n_rows", "max_n",
        F.round(F.col("max_n").cast("double") * F.col("n_keys") / F.col("n_rows"), 4).alias("skew_ratio"),
        F.round(
            (F.lit(2.0) * F.col("srk")) / (F.col("n_keys") * F.col("n_rows"))
            - (F.col("n_keys") + F.lit(1.0)) / F.col("n_keys"),
            4,
        ).alias("gini"),
    )


@_q(
    "source_fixed_width",
    """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
""",
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width-record source — the mainframe/EDI layout every ETL
    tool supports: records are written once as 20-byte lines
    (doc_id: 10, right-aligned · lang: 2 · n_chars: 8, right-aligned),
    read back as raw text, and sliced by POSITION with native
    substring/trim/cast — no delimiter logic at all. The differential
    compares the parsed fields against the parquet originals, so any
    off-by-one in the column offsets breaks the match. Newline-framed
    → parallel scan like the text-lines source; parsing is map-only
    codegen."""
    path, cached = _layout_cache_path(sf_dir, "documents_fixedwidth", ["documents"])
    docs = _t(spark, sf_dir, "documents")
    if not cached:
        _publish_layout(
            lambda tmp: docs.select(
                F.concat(
                    F.lpad(F.col("doc_id").cast("string"), 10, " "),
                    F.rpad(F.col("lang"), 2, " "),
                    F.lpad(F.col("n_chars").cast("string"), 8, " "),
                ).alias("value")
            ).write.mode("overwrite").text(tmp),
            path,
        )
    lines = spark.read.text(path)
    return lines.select(
        F.trim(F.substring("value", 1, 10)).cast("bigint").alias("doc_id"),
        F.trim(F.substring("value", 11, 2)).alias("lang"),
        F.trim(F.substring("value", 13, 8)).cast("bigint").alias("n_chars"),
    )


@_q(
    "a_audience_overlap",
    """
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f_click,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f_view,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f_purchase
  FROM events GROUP BY user_id
)
SELECT f_click = 1 AS did_click, f_view = 1 AS did_view,
       f_purchase = 1 AS did_purchase,
       CAST(count(*) AS BIGINT) AS n_users
FROM flags GROUP BY did_click, did_view, did_purchase
""",
)
def a_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap segmentation (the Venn-diagram / audience-
    builder primitive): exact user counts for every observed
    combination of click/view/purchase activity. The stream collapses
    to one boolean flag row per user in a single partial-aggregated
    shuffle (conditional max — no distinct explosion); the 2³-group
    rollup over that dim-sized table is free. At 100 TB the flag
    aggregate is the same one pass; adding segments adds columns, not
    shuffles (contrast with N self-joins of per-segment user lists,
    the naive shape)."""
    ev = _t(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("f_click"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("f_view"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("f_purchase"),
    )
    return (
        flags.select(
            (F.col("f_click") == 1).alias("did_click"),
            (F.col("f_view") == 1).alias("did_view"),
            (F.col("f_purchase") == 1).alias("did_purchase"),
        )
        .groupBy("did_click", "did_view", "did_purchase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@_q(
    "a_market_basket",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
),
item_n AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
  FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
)
SELECT part_a, part_b, n_ab,
       round(n_ab::DOUBLE / n_orders.n, 6) AS support,
       round(n_ab::DOUBLE * n_orders.n / (ia.n_item * ib.n_item), 4) AS lift
FROM pairs, n_orders
JOIN item_n ia ON ia.l_partkey = pairs.part_a
JOIN item_n ib ON ib.l_partkey = pairs.part_b
ORDER BY n_ab DESC, part_a, part_b LIMIT 20
""",
)
def a_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top co-purchased part pairs
    with support and lift — the classic retail affinity analysis. The
    basket self-join is keyed on the ORDER (equi-join, pairs bounded
    by Σ k_o² over per-order item counts k_o ≈ a few — never a
    cartesian over parts), the pair aggregate is one shuffle on the
    (a, b) key, and both marginal-count joins broadcast the dim-sized
    item-frequency table. Lift's inputs are exact integers; top-20 is
    TakeOrderedAndProject with integer-first tie-breaks. At 100 TB
    the same plan holds because pair cardinality scales with orders,
    not parts² (a pathological mega-basket would need the per-order
    item cap any production basket job applies)."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n")
    )
    item_n = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    ia = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .select(
            "part_a", "part_b", "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(
                F.col("n_ab").cast("double") * F.col("n") / (F.col("na") * F.col("nb")), 4
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@_q(
    "x_try_cast_tolerant",
    """
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'x' || CAST(n_chars AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN ' ' || CAST(n_chars AS VARCHAR) || ' '
              ELSE CAST(n_chars AS VARCHAR) END AS n_str,
         CASE WHEN doc_id % 4 = 0 THEN '1970-13-45'
              ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END
           AS d_str
  FROM documents
)
SELECT doc_id,
       TRY_CAST(n_str AS BIGINT) AS n_parsed,
       TRY_CAST(n_str AS BIGINT) IS NULL AS n_bad,
       strftime(TRY_CAST(d_str AS DATE), '%Y-%m-%d') AS d_parsed,
       TRY_CAST(d_str AS DATE) IS NULL AS d_bad
FROM raw
""",
)
def x_try_cast_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant ingestion casts (try_cast): malformed numerics
    and impossible dates become NULL instead of failing the job — the
    difference between a 100 TB backfill that finishes with a
    quarantine column and one that dies at hour nine on a single bad
    record. The entry manufactures three numeric shapes (corrupt,
    whitespace-padded — which BOTH engines' try_cast accept after
    trim — and clean) plus invalid calendar dates, and emits value +
    validity flag for each; the flags drive the dead-letter split in
    a real pipeline. Map-only codegen; ANSI-safe on both engines."""
    docs = _t(spark, sf_dir, "documents")
    n_str = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("x"), F.col("n_chars").cast("string")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit(" "), F.col("n_chars").cast("string"), F.lit(" ")))
        .otherwise(F.col("n_chars").cast("string"))
    )
    d_str = F.when(F.col("doc_id") % 4 == 0, F.lit("1970-13-45")).otherwise(
        F.concat(F.lit("2024-01-"), F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"))
    )
    raw = docs.select("doc_id", n_str.alias("n_str"), d_str.alias("d_str"))
    n_parsed = F.expr("try_cast(n_str AS BIGINT)")
    d_parsed = F.expr("try_cast(d_str AS DATE)")
    return raw.select(
        "doc_id",
        n_parsed.alias("n_parsed"),
        n_parsed.isNull().alias("n_bad"),
        F.date_format(d_parsed, "yyyy-MM-dd").alias("d_parsed"),
        d_parsed.isNull().alias("d_bad"),
    )


@_q(
    "a_group_ols",
    """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         sum(l_quantity) AS sx,
         sum(l_extendedprice) AS sy,
         sum(l_quantity * l_extendedprice) AS sxy,
         sum(l_quantity * l_quantity) AS sxx,
         sum(l_extendedprice * l_extendedprice) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS slope,
       round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n, 2)
         AS intercept,
       round(pow(sxy - sx * sy / n, 2) / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
         AS r2
FROM s
""",
)
def a_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit with R²: price-vs-quantity
    regression per return flag, from the five classic moment sums —
    ONE partial-aggregable pass over the fact table, closed-form
    normal equations on the 3-row result (no iterative optimizer, no
    second scan). This is the grouped-ML-lite pattern (trend per
    segment at warehouse scale); the moment sums shuffle as 5 doubles
    per group regardless of data size. Both engines accumulate
    doubles in their own order, so outputs are rounded at ratio level
    (slope 4dp, R² 6dp) — the sums agree to ~1e-12 relative at this
    scale, far inside the rounding margin."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    slope = cov / varx
    return s.select(
        "l_returnflag", "n",
        F.round(slope, 4).alias("slope"),
        F.round(F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 2).alias("intercept"),
        F.round(F.pow(cov, 2) / (varx * vary), 6).alias("r2"),
    )


@_q(
    "layout_dpp_prune",
    """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey   = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)
def layout_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a hive-partitioned fact copy —
    the third layout lever next to bucketing (tpch_q3_bucketed) and
    Z-order (layout_zorder_prune): lineitem denormalized with its
    supplier nation and written ``partitionBy(s_nationkey)`` (25
    directories), then queried through a dim filter that is NOT on
    the partition column (region name → nation). Static pruning can't
    touch the scan; at runtime Spark builds the pruning set from the
    broadcast dim subtree and reads only the ~5 matching partitions —
    at 100 TB that is the difference between scanning everything and
    scanning one region. The executed plan carries
    ``dynamicpruning`` in the scan's PartitionFilters
    (plan-asserted in tests/test_skew_and_tables.py); the oracle
    reads the RAW tables, so the hash match also proves the
    partitioned rewrite is lossless."""
    path, cached = _layout_cache_path(sf_dir, "lineitem_bynation", ["lineitem", "supplier"])
    if not cached:

        def _build(tmp: str) -> None:
            fact = (
                _t(spark, sf_dir, "lineitem")
                .join(
                    F.broadcast(_t(spark, sf_dir, "supplier")),
                    F.col("l_suppkey") == F.col("s_suppkey"),
                )
                .select("l_extendedprice", "l_discount", "s_nationkey")
            )
            # one file per partition dir: repartition on the partition
            # column so 25 writers each own one directory
            fact.repartition("s_nationkey").write.partitionBy("s_nationkey").parquet(tmp)

        _publish_layout(_build, path)
    fact = spark.read.parquet(path)
    dim = _t(spark, sf_dir, "nation").join(
        F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        fact.join(F.broadcast(dim), fact.s_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@_q(
    "a_autocorr_lag",
    """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS idx,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1
)
SELECT CAST(lag_days AS BIGINT) AS lag_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(a.n, b.n), 6) AS autocorr
FROM (SELECT unnest(range(1, 8)) AS lag_days) lags
CROSS JOIN daily a
JOIN daily b ON b.idx = a.idx + lags.lag_days
GROUP BY lag_days
""",
)
def a_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1–7 —
    the seasonality screen (weekly cycle shows as a lag-7 peak) a
    metrics pipeline runs before forecasting. Shape: one
    partial-aggregable rollup of the fact table to |days| rows, then
    all lag pairs via a self-equi-join on shifted day index — a
    deliberate alternative to a 7×LAG window, which would need a
    single-partition sort; the join formulation stays key-partitioned
    no matter how long the series grows (years × metrics). corr() is
    Pearson on both engines over day-count pairs; rounded 6dp, far
    above the ~1e-12 accumulation-order noise on a 30-point series."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .select(
            F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")).alias("idx"),
            "n",
        )
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag_days"))
    a = daily.select(F.col("idx").alias("a_idx"), F.col("n").alias("a_n"))
    b = daily.select(F.col("idx").alias("b_idx"), F.col("n").alias("b_n"))
    pairs = lags.crossJoin(a).join(
        b, F.col("b_idx") == F.col("a_idx") + F.col("lag_days")
    )
    return pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.corr("a_n", "b_n"), 6).alias("autocorr"),
    )
