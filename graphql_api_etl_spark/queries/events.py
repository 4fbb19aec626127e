"""Event-stream analytics: tumbling/sliding/session windows, as-of
joins, JSON property flattening, funnels and retention.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# E. Event streams: windows, sessions, JSON props
# ---------------------------------------------------------------------------


@_q(
    "events_tumbling_window",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (engine-native extension;
    the reference has no temporal operators — SURVEY §2.10). Batch shape
    of the Structured Streaming windowed agg in streaming/windows.py."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@_q(
    "events_sessionize",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 30 * 60 * 1000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms
FROM numbered
GROUP BY user_id, session_idx
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via lag + running
    sum (engine-native; streaming variant uses session_window). One
    shuffle on user_id serves both window functions and the final agg
    (same partitioning — Catalyst reuses the exchange)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    flagged = ev.withColumn(
        "new_sess",
        F.when(ms - F.lag(ms).over(w) > 30 * 60 * 1000, F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_idx",
        # BIGINT pinned on both sides: DuckDB's sum() OVER returns
        # HUGEINT, which the driver canon renders differently (r01
        # hash mismatch with matching rows+schema).
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("bigint"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).cast("bigint").alias("duration_ms"),
    )


@_q(
    "events_interval_join",
    """
WITH c AS (SELECT user_id, event_id AS click_id, epoch_ms(ts) AS t
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS s,
                  epoch_ms(ts) + 1800000 AS e
           FROM events WHERE event_type = 'purchase')
SELECT c.user_id, click_id, purchase_id, CAST(c.t - p.s AS BIGINT) AS lag_ms
FROM c JOIN p ON c.user_id = p.user_id AND c.t BETWEEN p.s AND p.e
""",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join (engine-native; SURVEY §2.10): clicks
    within 30 min AFTER each purchase, per user. Spark's naive plan for
    a range predicate is nested-loop; operators/rangejoin.interval_join
    buckets time into chunks and equi-joins on (user, chunk) — cost
    Σ_c |L_c|·|R_c| with plain shuffle machinery. The oracle is the
    direct BETWEEN join, so the chunking trick is hash-checked."""
    from graphql_api_etl_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.unix_millis("ts").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + 1800000).alias("e"),
    )
    joined = interval_join(
        clicks, purchases, ts_col="t", start_col="s", end_col="e", by="user_id", chunk=1800000.0
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", (F.col("t") - F.col("s")).cast("bigint").alias("lag_ms")
    )


@_q(
    "events_range_join_left",
    """
WITH c AS (SELECT user_id, event_id AS click_id, epoch_ms(ts) AS t
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS s,
                  epoch_ms(ts) + 1800000 AS e
           FROM events WHERE event_type = 'purchase')
SELECT c.user_id, click_id, purchase_id, CAST(c.t - p.s AS BIGINT) AS lag_ms
FROM c LEFT JOIN p ON c.user_id = p.user_id AND c.t BETWEEN p.s AND p.e
""",
)
def events_range_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-mode interval join: every click row survives, matched or
    not (unmatched → null purchase columns), with duplicate-left
    multiplicity preserved via a per-row id through the miss branch
    (operators/rangejoin.py:70-112 — the r2 ADVICE fix, now
    oracle-checked against DuckDB's direct LEFT JOIN ... BETWEEN)."""
    from graphql_api_etl_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.unix_millis("ts").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + 1800000).alias("e"),
    )
    joined = interval_join(
        clicks, purchases, ts_col="t", start_col="s", end_col="e",
        by="user_id", chunk=1800000.0, how="left",
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", (F.col("t") - F.col("s")).cast("bigint").alias("lag_ms")
    )


@_q(
    "x_hierarchy_deep_levels",
    """
SELECT 'r' || CAST(n_regionkey AS VARCHAR) AS group_name,
       CAST(NULL AS VARCHAR) AS parent_name,
       CAST(1 AS BIGINT) AS level, true AS is_top
FROM (SELECT DISTINCT n_regionkey FROM nation)
UNION ALL
SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR),
       CAST(2 AS BIGINT), false
FROM nation
UNION ALL
SELECT 'c' || CAST(c_custkey AS VARCHAR), 'n' || CAST(c_nationkey AS VARCHAR),
       CAST(3 AS BIGINT), false
FROM customer
UNION ALL
SELECT 'o' || CAST(o_orderkey AS VARCHAR), 'c' || CAST(o_custkey AS VARCHAR),
       CAST(4 AS BIGINT), false
FROM orders
""",
)
def x_hierarchy_deep_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-depth hierarchy leveling from a parent-pointer edge
    list (orders→customer→nation→region, a 4-level tree): the >2-level
    generalization of the reference's hard-coded Region→District DDL
    (A4/K5, ETL:145–166, 283–308). The Spark side derives each node's
    level with operators/graph.hierarchy_from_edges (closure_roots
    pointer doubling — nothing in the plan knows the depth); the
    oracle reconstructs the same rows schema-aware, so a hash match
    proves the generic edge-driven leveling reproduces the known-depth
    answer. Feeds write_level_phased for parent-before-child writes at
    any depth."""
    from graphql_api_etl_spark.operators.graph import hierarchy_from_edges

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = (
        orders.select(
            F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("child"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("parent"),
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("child"),
                F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("parent"),
            )
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child"),
                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent"),
            )
        )
    )
    return hierarchy_from_edges(edges)


@_q(
    "w_window_suite",
    """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total,
       round(max(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_max
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def w_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one ordered pass: row_number, ntile,
    lag, running sum, and an unordered per-partition max — ONE shuffle
    on o_custkey feeds every frame (Catalyst reuses the exchange; the
    unordered max adds a second window node, not a second exchange).
    Deterministic via the (o_orderdate, o_orderkey) tie-break."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_total"),
        F.round(F.max("o_totalprice").over(W.partitionBy("o_custkey")), 2).alias("cust_max"),
    )


@_q(
    "a_cube_counts",
    """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def a_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one
    pass with partial aggregation (the Expand operator multiplies rows
    by grouping-set count BEFORE the shuffle, so the exchange carries
    |groups|·4, not |input|·4). Subtotal NULLs are labeled so the hash
    canon can't confuse them with real null values."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "n",
        )
    )


@_q(
    "a_unpivot_measures",
    """
SELECT l_returnflag, measure, round(val, 2) AS val
FROM (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS qty,
         round(sum(l_extendedprice), 2) AS price,
         round(sum(l_discount), 2) AS discount
  FROM lineitem GROUP BY l_returnflag
) UNPIVOT (val FOR measure IN (qty, price, discount))
""",
)
def a_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long, the inverse of a_pivot): three aggregate
    measures melted into (measure, val) rows — Spark's ``unpivot`` is
    a zero-shuffle Expand over the already-aggregated frame."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 2).alias("discount"),
    )
    return wide.unpivot("l_returnflag", ["qty", "price", "discount"], "measure", "v").select(
        "l_returnflag", "measure", F.round("v", 2).alias("val")
    )


@_q(
    "x_posexplode_tokens",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents WHERE doc_id < 20
)
SELECT doc_id, CAST(unnest(range(len(t))) AS BIGINT) AS pos, unnest(t) AS tok
FROM toks
""",
)
def x_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal explode (posexplode ≡ UNNEST WITH ORDINALITY): token
    stream with positions — the lateral-view shape every sequence
    model's data prep needs. Generate node, no shuffle."""
    from graphql_api_etl_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")


@_q(
    "events_gapfill",
    """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS h, round(sum(value), 2) AS v
  FROM events WHERE user_id < 20 GROUP BY user_id, date_trunc('hour', ts)
),
spans AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM spans
),
joined AS (
  SELECT g.user_id, g.h, b.v,
         count(b.v) OVER (PARTITION BY g.user_id ORDER BY g.h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h
)
SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       coalesce(v, max(v) OVER (PARTITION BY user_id, grp)) AS value_ffill,
       CAST(v IS NULL AS BOOLEAN) AS was_gap
FROM joined
""",
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: dense hourly grid per user (sequence
    between each user's min/max hour) left-joined to actual buckets,
    missing hours forward-filled with the last observation
    (last(ignorenulls) over the grid order). The grid explode is
    |users|·span rows but never wider than the final result; the fill
    is one window over the same partitioning as the join."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    b = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    spans = b.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(b, ["user_id", "h"], "left_outer")
    w = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce(F.col("v"), F.last("v", ignorenulls=True).over(w)).alias("value_ffill"),
        F.col("v").isNull().alias("was_gap"),
    )


@_q(
    "events_funnel",
    """
WITH steps AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS step_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS step_click,
       count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS step_purchase
FROM steps
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, strictly
    in sequence by FIRST occurrence): the sequential-pattern workload,
    computed as conditional-min aggregates + ordering comparisons —
    one shuffle on user_id, no self-joins, no pattern-automaton state."""
    ev = _t(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    steps = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("step_click"),
        F.count(
            F.when((F.col("t_purchase") > F.col("t_click")) & (F.col("t_click") > F.col("t_view")), 1)
        ).alias("step_purchase"),
    )


@_q(
    "events_cohort_retention",
    """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
       CAST(day_offset AS BIGINT) AS day_offset,
       count(*) AS active_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    activity counted per day offset for the first week. The firsts
    aggregate and the activity join share the user_id partitioning
    (one exchange reused); DISTINCT dedups (user, offset) before the
    small final group-by."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@_q(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT from_type, sum(n) AS row_total FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type, p.n,
       round(p.n / t.row_total, 4) AS p_transition
FROM pairs p JOIN tot t USING (from_type)
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioural-modelling primitive under churn
    prediction, next-action recommendation, and anomaly scoring
    (improbable transition chains). One window pass builds the
    (state, next-state) pair stream (lead over the per-user ordering,
    ties broken by event_id so pairing is engine-exact), then two
    integer aggregates; the row-normalized probability divides two
    exact integers once at output, so the only float op is shared and
    identical across engines. Scales as one shuffle on user_id plus
    one on the (25-ish)-cell state-pair key."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = (
        seq.select(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("row_total"), 4).alias("p_transition"),
    )


@_q(
    "events_json_props",
    """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)), 2) AS avg_k
FROM events
GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured prop extraction (S4's JSON flattening applied to
    a payload column): regexp path keeps it engine-portable; the engine
    also exposes get_json_object/from_json for real JSON."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 2).alias("avg_k"),
    )


@_q(
    "events_json_variant",
    """
SELECT event_type,
       CAST(count(CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 1 END) AS BIGINT) AS n_with_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
""",
)
def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type —
    parse_json once into the binary-encoded open type, then typed
    path extraction with try_variant_get. At 100 TB this is the
    modern plan for ragged payloads: VARIANT parses the JSON text
    ONCE at ingest into a shreddable binary encoding, and every
    downstream path access is a cheap binary probe instead of a
    per-query string parse (get_json_object re-parses the full text
    per call; three extractions = three parses). Aggregates are
    integer-exact so the differential is ulp-free; DuckDB replays via
    its native JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


@_q(
    "events_asof_join",
    """
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
SELECT l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       l.event_id AS click_id,
       r.event_id AS purchase_id,
       round(r.value, 2) AS purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine-native; Spark has no ASOF JOIN): for each
    click, the user's latest purchase at-or-before it. Implemented via
    operators/asof.py's union+ordered-window technique — one shuffle of
    |L|+|R| on user_id, no range-join pair explosion. The oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from graphql_api_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id", right_cols=["event_id", "value"])
    return joined.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("purchase_id"),
        F.round("value_right", 2).alias("purchase_value"),
    )


@_q(
    "a_percentiles",
    """
SELECT l_returnflag,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)) / 100 AS p50,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9)) / 100 AS p90,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.99)) / 100 AS p99
FROM lineitem GROUP BY l_returnflag
""",
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (engine-native;
    ``percentile`` is sort-based within groups — for sketch-sized
    state at scale, swap in approx_percentile at a declared error
    bound, which this exact form is the oracle for).

    Cross-engine stability (r12, found by an off-gate sf0.001 sweep):
    interpolating over the raw DOUBLE prices let the two engines'
    interpolation formulas differ by one ulp, which flipped a
    round(x, 2) exactly at a .xx5 boundary (52724.245 → .24 vs .25).
    Both sides now interpolate over EXACT integer cents — at p50 the
    interpolation fraction is dyadic so the result is bit-exact by
    construction — and round to a whole cent before dividing back."""
    li = _t(spark, sf_dir, "lineitem")
    cents = "cast(round(l_extendedprice * 100) as bigint)"
    return li.groupBy("l_returnflag").agg(
        (F.round(F.expr(f"percentile({cents}, 0.5)")) / 100).alias("p50"),
        (F.round(F.expr(f"percentile({cents}, 0.9)")) / 100).alias("p90"),
        (F.round(F.expr(f"percentile({cents}, 0.99)")) / 100).alias("p99"),
    )


@_q(
    "a_approx_count_distinct",
    """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_custkeys,
       count(*) AS n_orders,
       CAST(1 AS BIGINT) AS approx_ok
FROM orders GROUP BY o_orderpriority
""",
)
def a_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per group (rsd 2%): the 100 TB
    form of ``tpch_q16``'s exact count-distinct — sketch state is
    O(kB) per group and merges associatively across partitions, vs the
    exact form's shuffle of every distinct value.

    HLL estimates are engine-specific, so the oracle-checked output is
    engine-independent: the exact count (both engines compute it) plus
    ``approx_ok`` — whether the sketch landed within 5× its declared
    rsd of the exact value (the estimator's 3σ is ~3×rsd; 5× leaves
    slack for small-group bias). The oracle asserts the same columns
    with ``approx_ok`` literally true, so a drifting sketch breaks the
    hash match. Tighter per-group error stats live in
    tests/test_operators.py."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.countDistinct("o_custkey")
            )
            <= F.greatest(F.countDistinct("o_custkey") * 0.10, F.lit(5.0))
        )
        .cast("bigint")
        .alias("approx_ok"),
    )


@_q(
    "a_approx_percentiles",
    """
SELECT l_returnflag,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)) / 100 AS p50,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9)) / 100 AS p90,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.99)) / 100 AS p99,
       CAST(1 AS BIGINT) AS ap50_ok,
       CAST(1 AS BIGINT) AS ap90_ok,
       CAST(1 AS BIGINT) AS ap99_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def a_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile per group (accuracy 10000): the sketch-sized
    companion to ``a_percentiles`` — per-group state is a bounded
    histogram instead of the exact form's full sort, so groups of any
    cardinality aggregate in one pass.

    Sketch split points are engine-specific, so the oracle-checked
    output is engine-independent: the exact interpolated percentiles
    (both engines) plus ``apXX_ok`` — whether each approx value lies
    between the exact percentiles at p±0.01. approx_percentile's
    guarantee is rank error ≤ n/accuracy = 0.01% of rows, so the ±1pp
    window is a 100× margin; the oracle pins the booleans to 1, making
    an out-of-band sketch a hash mismatch.

    The three OUTPUT percentiles interpolate over exact integer cents
    (the a_percentiles r12 stability fix); the band checks keep the
    raw-double probes — they compare Spark values to Spark values, so
    cross-engine ulp cannot flip them."""
    li = _t(spark, sf_dir, "lineitem")
    probes = "array(0.49, 0.5, 0.51, 0.89, 0.9, 0.91, 0.98, 0.99, 1.0)"
    cents = "cast(round(l_extendedprice * 100) as bigint)"
    agg = li.groupBy("l_returnflag").agg(
        F.expr(f"percentile(l_extendedprice, {probes})").alias("ex"),
        F.expr(f"percentile({cents}, array(0.5, 0.9, 0.99))").alias("exc"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").alias("ap"),
    )
    ok = lambda lo, ap, hi: (  # noqa: E731
        (F.col("ex")[lo] <= F.col("ap")[ap]) & (F.col("ap")[ap] <= F.col("ex")[hi])
    ).cast("bigint")
    return agg.select(
        "l_returnflag",
        (F.round(F.col("exc")[0]) / 100).alias("p50"),
        (F.round(F.col("exc")[1]) / 100).alias("p90"),
        (F.round(F.col("exc")[2]) / 100).alias("p99"),
        ok(0, 0, 2).alias("ap50_ok"),
        ok(3, 1, 5).alias("ap90_ok"),
        ok(6, 2, 8).alias("ap99_ok"),
    )


@_q(
    "a_pivot_status_priority",
    """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders GROUP BY o_orderpriority
""",
)
def a_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine-native): one pass, conditional-count columns per
    pivot value. Explicit value list keeps it single-stage (Spark's
    value-discovering pivot adds a distinct pre-pass)."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@_q(
    "events_json_typed",
    """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k,
       count(DISTINCT json_extract_string(props, '$.tag')) AS n_tags
FROM events GROUP BY event_type
""",
)
def events_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON path extraction (S4's flattening applied to a payload
    column): ``from_json`` with a declared schema — parsed once, both
    fields from the same parse, columnar downstream."""
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("tag", T.StringType())]
    )
    parsed = ev.withColumn("p", F.from_json("props", schema))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("p.k")), 2).alias("avg_k"),
        F.countDistinct(F.col("p.tag")).alias("n_tags"),
    )
