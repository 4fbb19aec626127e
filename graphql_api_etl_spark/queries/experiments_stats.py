"""Experiment and statistics analytics: functional deps, bootstrap CIs,
PSI/KS drift, CUPED, power, attribution, rank statistics, DiD,
concentration and distribution tests.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t

@_q(
    "dq_functional_deps",
    """
WITH cands AS (
  SELECT 'customer.c_custkey->c_mktsegment' AS fd, c_custkey AS x,
         c_mktsegment AS y FROM customer
  UNION ALL
  SELECT 'orders.o_custkey->o_orderpriority', CAST(o_custkey AS BIGINT),
         o_orderpriority FROM orders
  UNION ALL
  SELECT 'lineitem.l_orderkey->l_returnflag', CAST(l_orderkey AS BIGINT),
         l_returnflag FROM lineitem
  UNION ALL
  SELECT 'events.user_id->event_type', CAST(user_id AS BIGINT),
         event_type FROM events
),
per_key AS (
  SELECT fd, x, CAST(count(DISTINCT y) AS BIGINT) AS d
  FROM cands GROUP BY fd, x
)
SELECT fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(max(d) AS BIGINT) AS max_rhs,
       sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds,
       CAST((1000000 * sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS violation_micro
FROM per_key GROUP BY fd
""",
)
def dq_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (X → Y candidate checks) — the
    schema-discovery companion to dq_expectations: for each declared
    candidate it reports how many left-hand keys exist, how many
    VIOLATE the dependency (more than one distinct Y), the worst
    fan-out, and the violation rate as a ×1e6 integer. One candidate
    is a true key dependency (customer), the rest quantify real
    fan-outs — exactly the report a pipeline uses to pick join keys,
    validate dimensional conformance, and catch silent grain drift
    after an upstream change.

    Shape: all candidates stack into ONE tall (fd, x, y) relation so
    a single groupBy pipeline profiles them together — adding a
    candidate is a row constructor, not a new plan; per-candidate
    scans stay column-pruned (each SELECT reads two columns). Two
    partial-aggregated shuffles: (fd, x) distinct-Y counts, then the
    per-fd rollup. Exact integers throughout."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    cands = (
        c.select(
            F.lit("customer.c_custkey->c_mktsegment").alias("fd"),
            F.col("c_custkey").cast("bigint").alias("x"),
            F.col("c_mktsegment").alias("y"),
        )
        .unionByName(
            o.select(
                F.lit("orders.o_custkey->o_orderpriority").alias("fd"),
                F.col("o_custkey").cast("bigint").alias("x"),
                F.col("o_orderpriority").alias("y"),
            )
        )
        .unionByName(
            li.select(
                F.lit("lineitem.l_orderkey->l_returnflag").alias("fd"),
                F.col("l_orderkey").cast("bigint").alias("x"),
                F.col("l_returnflag").alias("y"),
            )
        )
        .unionByName(
            ev.select(
                F.lit("events.user_id->event_type").alias("fd"),
                F.col("user_id").cast("bigint").alias("x"),
                F.col("event_type").alias("y"),
            )
        )
    )
    per_key = cands.groupBy("fd", "x").agg(
        F.countDistinct("y").cast("bigint").alias("d")
    )
    viol = F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
    return per_key.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        viol.cast("bigint").alias("n_violating"),
        F.max("d").cast("bigint").alias("max_rhs"),
        (viol == 0).alias("holds"),
        F.expr(
            "(1000000 * sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)) div count(*)"
        )
        .cast("bigint")
        .alias("violation_micro"),
    )


@_q(
    "a_poisson_bootstrap_ci",
    """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS okey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
drawn AS (
  SELECT b, cents,
         CAST('0x' || substr(md5(CAST(okey AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 7)
              AS BIGINT) AS u
  FROM base CROSS JOIN (SELECT unnest(range(40)) AS b)
),
w AS (
  SELECT b, cents,
         CASE WHEN u < 98751885 THEN 0 WHEN u < 197503771 THEN 1
              WHEN u < 246879713 THEN 2 WHEN u < 263338361 THEN 3
              WHEN u < 267453023 THEN 4 WHEN u < 268275955 THEN 5
              WHEN u < 268413111 THEN 6 ELSE 7 END AS k
  FROM drawn
),
rep AS (
  SELECT b, CAST(sum(k) AS BIGINT) AS n_b, CAST(sum(k * cents) AS BIGINT) AS s_b
  FROM w GROUP BY b
),
rr AS (
  SELECT CAST(s_b AS DOUBLE) / n_b AS mean_b,
         row_number() OVER (ORDER BY CAST(s_b AS DOUBLE) / n_b) AS rk
  FROM rep
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS s FROM base
)
SELECT 40 AS n_replicates, n_rows,
       CAST(floor(CAST(s AS DOUBLE) / n_rows) AS BIGINT) AS mean_cents,
       CAST(floor(max(CASE WHEN rk = 2 THEN mean_b END)) AS BIGINT) AS ci_lo_cents,
       CAST(floor(max(CASE WHEN rk = 39 THEN mean_b END)) AS BIGINT) AS ci_hi_cents
FROM rr CROSS JOIN pt
GROUP BY n_rows, s
""",
)
def a_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value
    — THE bootstrap that works on a cluster: classical resampling
    needs n draws from a dataset no worker holds, but Poisson(1)
    draw-counts per (row, replicate) are independent, so each row
    computes its own 40 replicate weights in a single streaming pass
    (no global state, no sampling shuffle) and the replicate means
    drop out of one partial-aggregated groupBy. Draw counts come from
    the md5 uniform pushed through the Poisson(1) inverse CDF as
    PRECOMPUTED integer thresholds on the 28-bit hash — the CDF is
    frozen into the query text, so both engines make the IDENTICAL
    draws (no rand(), no seed drift) and every weighted sum is an
    exact BIGINT. The 95% interval takes the 2nd/39th ordered
    replicate means; doubles appear only in that final per-replicate
    division, identical expression tree both engines.

    Plan: map-only weight expansion (40× rows, but k·cents folds into
    the partial aggregate immediately — no materialized blowup), one
    40-row shuffle, a 40-row window, a scalar point estimate."""
    from graphql_api_etl_spark.operators.text import repartition_for_cpu

    o = _t(spark, sf_dir, "orders")
    # r14-opt: 40 replicates × one md5 per (row, b) is the catalog's
    # densest hash stage, and a one-row-group source ran it all on ONE
    # task (measured 5.6 s → ~0.5 s at sf0.1; guide §2.5). The shuffle
    # moves 16 bytes/row; every downstream sum is exact BIGINT, so
    # partitioning cannot move the result.
    base = repartition_for_cpu(
        o.select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    drawn = base.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(39))).alias("b"),
        F.col("okey"),
    ).select(
        "b",
        "cents",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("okey"), F.col("b"))), 1, 7
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    k = (
        F.when(F.col("u") < 98751885, 0)
        .when(F.col("u") < 197503771, 1)
        .when(F.col("u") < 246879713, 2)
        .when(F.col("u") < 263338361, 3)
        .when(F.col("u") < 267453023, 4)
        .when(F.col("u") < 268275955, 5)
        .when(F.col("u") < 268413111, 6)
        .otherwise(7)
    )
    rep = (
        drawn.select("b", "cents", k.alias("k"))
        .groupBy("b")
        .agg(
            F.sum("k").cast("bigint").alias("n_b"),
            F.sum(F.col("k") * F.col("cents")).cast("bigint").alias("s_b"),
        )
    )
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    rr = rep.select(mean_b.alias("mean_b")).withColumn(
        # global-window-ok: input is the bootstrap replicate means — fixed B replicates
        "rk", F.row_number().over(W.orderBy("mean_b"))
    )
    pt = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    return (
        rr.crossJoin(pt)
        .groupBy("n_rows", "s")
        .agg(
            F.floor(F.max(F.when(F.col("rk") == 2, F.col("mean_b"))))
            .cast("bigint")
            .alias("ci_lo_cents"),
            F.floor(F.max(F.when(F.col("rk") == 39, F.col("mean_b"))))
            .cast("bigint")
            .alias("ci_hi_cents"),
        )
        .select(
            F.lit(40).alias("n_replicates"),
            "n_rows",
            F.floor(F.col("s").cast("double") / F.col("n_rows"))
            .cast("bigint")
            .alias("mean_cents"),
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


@_q(
    "dq_psi_drift",
    """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT min(es) AS mn_es, max(es) AS mx_es,
         min(cents) AS mn_c, max(cents) AS mx_c
  FROM e
),
b AS (
  SELECT event_type,
         CASE WHEN 2 * es < mn_es + mx_es THEN 'ref' ELSE 'cur' END AS half,
         CAST(least(9, ((cents - mn_c) * 10) // (mx_c - mn_c + 1)) AS BIGINT) AS bin
  FROM e CROSS JOIN g
),
cnt AS (
  SELECT event_type, bin,
         CAST(count(*) FILTER (WHERE half = 'ref') AS BIGINT) AS r_n,
         CAST(count(*) FILTER (WHERE half = 'cur') AS BIGINT) AS c_n
  FROM b GROUP BY event_type, bin
),
tot AS (
  SELECT event_type,
         CAST(sum(r_n) AS BIGINT) AS r_tot, CAST(sum(c_n) AS BIGINT) AS c_tot
  FROM cnt GROUP BY event_type
),
term AS (
  SELECT cnt.event_type, r_tot, c_tot,
         CAST(floor(1000000.0
           * ((CAST(r_n + 1 AS DOUBLE) / (r_tot + 10))
              - (CAST(c_n + 1 AS DOUBLE) / (c_tot + 10)))
           * ln((CAST(r_n + 1 AS DOUBLE) / (r_tot + 10))
                / (CAST(c_n + 1 AS DOUBLE) / (c_tot + 10)))) AS BIGINT) AS psi_term
  FROM cnt JOIN tot ON cnt.event_type = tot.event_type
)
SELECT event_type, r_tot AS n_reference, c_tot AS n_current,
       CAST(sum(psi_term) AS BIGINT) AS psi_micro,
       sum(psi_term) >= 100000 AS drifted
FROM term GROUP BY event_type, r_tot, c_tot
""",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the earlier
    and later half of the event stream — the standard production
    drift monitor for a feature/metric distribution (PSI ≥ 0.1 =
    "investigate", frozen here as the ×1e6 integer gate ≥ 100000).
    Values bin into ten equal-width buckets over the GLOBAL range
    (integer arithmetic, so bin edges are identical on any engine and
    any partitioning — reference-decile edges would drag percentile
    interpolation differences in), halves split on the integer epoch
    midpoint, and bins are Laplace-smoothed (+1/+10) so empty cells
    can't produce ln(0). Following the BM25 convention, each BIN's
    PSI term is fixed-pointed to micro units BEFORE the per-type sum
    — the reported PSI is an exact BIGINT sum, immune to float
    summation order; ln() ulps would need a term within ~1e-9 of an
    integer boundary to flip a floor.

    Plan: one scan, a broadcast 1-row stats frame, one
    partial-aggregated shuffle to (type, bin) with FILTER pivots for
    the two halves, then bin-grain arithmetic. At 100 TB this is the
    shape you run hourly over every (metric, segment) pair at once —
    the tall-relation trick dq_functional_deps uses composes here."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = e.agg(
        F.min("es").alias("mn_es"), F.max("es").alias("mx_es"),
        F.min("cents").alias("mn_c"), F.max("cents").alias("mx_c"),
    )
    b = e.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.when(2 * F.col("es") < F.col("mn_es") + F.col("mx_es"), "ref")
        .otherwise("cur")
        .alias("half"),
        F.least(
            F.lit(9),
            F.expr("((cents - mn_c) * 10) div (mx_c - mn_c + 1)"),
        )
        .cast("bigint")
        .alias("bin"),
    )
    cnt = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
        .cast("bigint")
        .alias("r_n"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
        .cast("bigint")
        .alias("c_n"),
    )
    tot = cnt.groupBy(F.col("event_type").alias("et2")).agg(
        F.sum("r_n").cast("bigint").alias("r_tot"),
        F.sum("c_n").cast("bigint").alias("c_tot"),
    )
    p = (F.col("r_n") + 1).cast("double") / (F.col("r_tot") + 10)
    q = (F.col("c_n") + 1).cast("double") / (F.col("c_tot") + 10)
    term = (
        cnt.join(F.broadcast(tot), F.col("event_type") == F.col("et2"))
        .select(
            "event_type", "r_tot", "c_tot",
            F.floor(1000000.0 * (p - q) * F.log(p / q))
            .cast("bigint")
            .alias("psi_term"),
        )
    )
    return term.groupBy("event_type", "r_tot", "c_tot").agg(
        F.sum("psi_term").cast("bigint").alias("psi_micro"),
        (F.sum("psi_term") >= 100000).alias("drifted"),
    ).select(
        "event_type",
        F.col("r_tot").alias("n_reference"),
        F.col("c_tot").alias("n_current"),
        "psi_micro",
        "drifted",
    )


@_q(
    "a_ks_two_sample",
    """
WITH v AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS arm,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
g AS (
  SELECT cents,
         CAST(count(*) FILTER (WHERE arm = 'a') AS BIGINT) AS a_n,
         CAST(count(*) FILTER (WHERE arm = 'b') AS BIGINT) AS b_n
  FROM v GROUP BY cents
),
c AS (
  SELECT CAST(sum(a_n) OVER w AS BIGINT) AS cum_a,
         CAST(sum(b_n) OVER w AS BIGINT) AS cum_b,
         CAST(sum(a_n) OVER () AS BIGINT) AS n_a,
         CAST(sum(b_n) OVER () AS BIGINT) AS n_b
  FROM g
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT n_a, n_b,
         CAST(max(abs(n_b * cum_a - n_a * cum_b)) AS BIGINT) AS d_num
  FROM c GROUP BY n_a, n_b
)
SELECT n_a, n_b, d_num,
       CAST((1000000 * d_num) // (n_a * n_b) AS BIGINT) AS d_micro,
       CAST(d_num AS DOUBLE)
         > 1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) * n_a * n_b) AS significant
FROM s
""",
)
def a_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on order value between
    urgent and low-priority orders — the distribution-SHAPE test that
    completes the stats family (a_ab_test_ztest: means;
    a_mannwhitney_u: stochastic dominance; KS: any difference
    anywhere in the CDF). The statistic is EXACT, no approximation at
    all: on the merged value grain, sup|F̂_a − F̂_b| cross-multiplies
    to max|n_b·cumA − n_a·cumB| — a BIGINT over value-grain running
    sums, so d_micro is engine-identical by construction. The only
    double is the α=0.05 threshold c·√((n_a+n_b)·n_a·n_b) (c=1.358),
    computed from exact integers < 2⁵³ by one identical expression.

    Plan: one partial-aggregated shuffle to cents grain with FILTER
    pivots, one running window over the value-grain frame
    (range-partitionable at scale), then a scalar max — the same
    value-grain discipline as a_weighted_median: the fact table is
    never windowed."""
    o = _t(spark, sf_dir, "orders")
    v = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias("arm"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = v.groupBy("cents").agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0)).cast("bigint").alias("a_n"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0)).cast("bigint").alias("b_n"),
    )
    # r11 global-window sweep: both running sums share ONE range
    # shuffle (operators/rank.global_running_sums) instead of a
    # single-partition window over the value-grain frame, and the
    # totals are a 1-row aggregate broadcast (the x_null_semantics
    # pattern) instead of an all-rows window.
    from graphql_api_etl_spark.operators.rank import global_running_sums

    cums = global_running_sums(
        g, [F.asc("cents")], {"cum_a_raw": "a_n", "cum_b_raw": "b_n"}
    )
    tot = g.agg(
        F.sum("a_n").cast("bigint").alias("n_a"),
        F.sum("b_n").cast("bigint").alias("n_b"),
    )
    c = cums.crossJoin(F.broadcast(tot)).select(
        F.col("cum_a_raw").cast("bigint").alias("cum_a"),
        F.col("cum_b_raw").cast("bigint").alias("cum_b"),
        "n_a",
        "n_b",
    )
    s = c.groupBy("n_a", "n_b").agg(
        F.max(
            F.abs(F.col("n_b") * F.col("cum_a") - F.col("n_a") * F.col("cum_b"))
        )
        .cast("bigint")
        .alias("d_num")
    )
    return s.select(
        "n_a", "n_b", "d_num",
        F.expr("(1000000 * d_num) div (n_a * n_b)").cast("bigint").alias("d_micro"),
        (
            F.col("d_num").cast("double")
            > 1.358
            * F.sqrt((F.col("n_a") + F.col("n_b")).cast("double") * F.col("n_a") * F.col("n_b"))
        ).alias("significant"),
    )


@_q(
    "events_theilsen_trend",
    """
WITH d AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT CAST(floor(1000000.0 * (b.y - a.y) / (b.x - a.x)) AS BIGINT) AS slope_micro,
         a.x AS xi, b.x AS xj
  FROM d a JOIN d b ON a.x < b.x
),
r AS (
  SELECT slope_micro,
         row_number() OVER (ORDER BY slope_micro, xi, xj) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS np
  FROM p
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
       CAST(max(np) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN rk = (np + 1) // 2 THEN slope_micro END) AS BIGINT)
         AS ts_slope_micro
FROM r
""",
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the median of
    all pairwise day-to-day slopes — the trend estimator that
    tolerates up to ~29% arbitrarily corrupted days, where the OLS
    slope (a_group_ols) is dragged by a single outage or backfill
    spike. Day gaps use true epoch-day distance, not row index.

    Slopes are fixed-pointed by flooring an exactly-representable
    double ratio (1e6·Δy < 2⁵³) — deliberately NOT integer division,
    whose semantics diverge between engines on NEGATIVE numerators
    (DuckDB // floors, Spark div truncates toward zero); floor() is
    the one form both agree on for either sign. The median picks the
    lower-median rank under a pinned total order (slope, xi, xj).

    Plan: one partial-aggregated shuffle to DAY grain (the O(n²)
    pair join runs over ~730 day rows, never events — ~266 k pairs
    at any corpus size, constant in event volume), one sort-rank
    window over the pair frame, one scalar reduce."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) div 86400").alias("x")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a, b = d.alias("a"), d.alias("b")
    p = a.join(b, F.col("a.x") < F.col("b.x")).select(
        F.floor(
            1000000.0
            * (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        )
        .cast("bigint")
        .alias("slope_micro"),
        F.col("a.x").alias("xi"),
        F.col("b.x").alias("xj"),
    )
    # global-window-ok: input is day-pair slopes — calendar²-bounded
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = p.select(
        "slope_micro",
        F.row_number().over(W.orderBy("slope_micro", "xi", "xj")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("np"),
    )
    n_days = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    med = r.agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.col("rk") == F.expr("(np + 1) div 2"), F.col("slope_micro")))
        .cast("bigint")
        .alias("ts_slope_micro"),
    )
    return n_days.crossJoin(med).select("n_days", "n_pairs", "ts_slope_micro")


@_q(
    "events_attribution_credit",
    """
WITH conv AS (
  SELECT event_id AS cid, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS cts
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS tid, user_id, event_type AS channel,
         CAST(floor(epoch(ts)) AS BIGINT) AS tts
  FROM events WHERE event_type IN ('view', 'click')
),
pair AS (
  SELECT c.cid, t.channel, t.tts, t.tid
  FROM conv c JOIN touch t
    ON c.user_id = t.user_id
   AND c.cts - t.tts BETWEEN 0 AND 604800
),
ranked AS (
  SELECT cid, channel,
         row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn_first,
         row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC) AS rn_last,
         CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n
  FROM pair
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touch_events,
       CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_touch,
       CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_touch,
       CAST(sum(1000000 // n) AS BIGINT) AS linear_credit_micro
FROM ranked GROUP BY channel
""",
)
def events_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution over the event stream:
    view/click touches within a 7-day lookback of each purchase earn
    credit under the three standard models at once — first-touch,
    last-touch, and linear — per channel. Position models are window
    ranks under pinned total orders ((ts, id) asc / desc, so
    same-second touches break ties identically on any engine or
    partitioning); linear credit is 10⁶ // n_touches per pair —
    integer division of positives, summed as exact BIGINTs, which is
    how the three models stay hash-identical while a float 1/n would
    drift with summation order. Conversions with no touch in the
    window simply contribute no pairs (orphan conversions are
    events_funnel's concern).

    Plan: both filtered scans prune to three columns; the user-key
    join carries the 7-day predicate in the join condition so the
    pair stream is lookback-bounded (per-user fan-out is
    touches×conversions WITHIN A WEEK, not all history); windows run
    per-conversion (small frames); one partial-aggregated rollup to
    channel grain. Per-user skew is the one watch item at 100 TB —
    the j_salted_skew_join treatment applies unchanged if a bot user
    dominates."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("cts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.unix_timestamp("ts").cast("bigint").alias("tts"),
    )
    pair = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("cts") - F.col("tts") >= 0)
        & (F.col("cts") - F.col("tts") <= 604800),
    ).select("cid", "channel", "tts", "tid")
    wc = W.partitionBy("cid")
    ranked = pair.select(
        "cid", "channel",
        F.row_number().over(wc.orderBy(F.asc("tts"), F.asc("tid"))).alias("rn_first"),
        F.row_number().over(wc.orderBy(F.desc("tts"), F.desc("tid"))).alias("rn_last"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n"),
    )
    return ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touch_events"),
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_touch"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_last_touch"),
        F.sum(F.expr("1000000 div n")).cast("bigint").alias("linear_credit_micro"),
    )


@_q(
    "a_ab_cuped_adjust",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
g AS (SELECT min(es) AS mn_es, max(es) AS mx_es FROM e),
u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN 2 * es < mn_es + mx_es THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN 2 * es >= mn_es + mx_es THEN cents ELSE 0 END) AS BIGINT) AS y,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM e CROSS JOIN g
  GROUP BY user_id, mn_es, mx_es
),
m AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY arm
),
w AS (
  SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
         max(CASE WHEN arm = 'A' THEN sx END) AS sx_a,
         max(CASE WHEN arm = 'A' THEN sy END) AS sy_a,
         max(CASE WHEN arm = 'B' THEN n END) AS n_b,
         max(CASE WHEN arm = 'B' THEN sx END) AS sx_b,
         max(CASE WHEN arm = 'B' THEN sy END) AS sy_b,
         CAST(sum(n) AS BIGINT) AS n_t,
         CAST(sum(sx) AS BIGINT) AS sx_t, CAST(sum(sy) AS BIGINT) AS sy_t,
         CAST(sum(sxx) AS BIGINT) AS sxx_t, CAST(sum(syy) AS BIGINT) AS syy_t,
         CAST(sum(sxy) AS BIGINT) AS sxy_t
  FROM m
),
d AS (
  SELECT n_a, n_b,
         CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a AS diff_raw,
         CAST(sx_b AS DOUBLE) / n_b - CAST(sx_a AS DOUBLE) / n_a AS dx,
         (CAST(sxy_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * sy_t / n_t)
           / (CAST(sxx_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * sx_t / n_t) AS theta,
         (CAST(sxy_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * sy_t / n_t)
           * (CAST(sxy_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * sy_t / n_t)
           / ((CAST(sxx_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * sx_t / n_t)
              * (CAST(syy_t AS DOUBLE) - CAST(sy_t AS DOUBLE) * sy_t / n_t)) AS rho2
  FROM w
)
SELECT n_a, n_b,
       CAST(floor(diff_raw * 100) AS BIGINT) AS diff_raw_centicents,
       CAST(floor((diff_raw - theta * dx) * 100) AS BIGINT) AS diff_cuped_centicents,
       CAST(floor(theta * 1000000) AS BIGINT) AS theta_micro,
       CAST(floor(rho2 * 1000000) AS BIGINT) AS var_reduction_micro
FROM d
""",
)
def a_ab_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B read-out — the modern
    experimentation workhorse a_ab_test_ztest feeds into: the
    pre-period covariate X (each user's first-half spend) absorbs
    between-user variance from the post-period metric Y via
    Y − θ(X − X̄), θ = cov(X,Y)/var(X) POOLED across arms, cutting
    required sample size by ρ² (reported as var_reduction_micro).
    Assignment is the deterministic md5(user) % 2 arm split; halves
    split on the integer epoch midpoint (the dq_psi_drift
    convention), and users reduce to ONE (x, y) row each before any
    moment is taken, so the six pooled moments (n, ΣX, ΣY, ΣX²,
    ΣY², ΣXY) are exact BIGINTs on any partitioning. θ, the adjusted
    diff, and ρ² are identical double expression trees over those
    integers, fixed-pointed on output.

    Plan: one scan with a broadcast scalar epoch frame, one
    partial-aggregated shuffle to user grain, one to the 2-row arm
    frame, the usual max-CASE pivot — constant-size tail. At 100 TB
    the same plan scores every (metric, experiment) pair from one
    user-grain pass, which is the entire point of CUPED."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = e.agg(F.min("es").alias("mn_es"), F.max("es").alias("mx_es"))
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    u = (
        e.crossJoin(F.broadcast(g))
        .groupBy("user_id", "mn_es", "mx_es")
        .agg(
            F.sum(
                F.when(2 * F.col("es") < F.col("mn_es") + F.col("mx_es"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(2 * F.col("es") >= F.col("mn_es") + F.col("mx_es"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
        .select("user_id", "x", "y", arm.alias("arm"))
    )
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    w = m.agg(
        pick("A", "n").alias("n_a"), pick("A", "sx").alias("sx_a"), pick("A", "sy").alias("sy_a"),
        pick("B", "n").alias("n_b"), pick("B", "sx").alias("sx_b"), pick("B", "sy").alias("sy_b"),
        F.sum("n").cast("bigint").alias("n_t"),
        F.sum("sx").cast("bigint").alias("sx_t"),
        F.sum("sy").cast("bigint").alias("sy_t"),
        F.sum("sxx").cast("bigint").alias("sxx_t"),
        F.sum("syy").cast("bigint").alias("syy_t"),
        F.sum("sxy").cast("bigint").alias("sxy_t"),
    )
    diff_raw = F.col("sy_b").cast("double") / F.col("n_b") - F.col("sy_a").cast("double") / F.col("n_a")
    dx = F.col("sx_b").cast("double") / F.col("n_b") - F.col("sx_a").cast("double") / F.col("n_a")
    cov = F.col("sxy_t").cast("double") - F.col("sx_t").cast("double") * F.col("sy_t") / F.col("n_t")
    varx = F.col("sxx_t").cast("double") - F.col("sx_t").cast("double") * F.col("sx_t") / F.col("n_t")
    vary = F.col("syy_t").cast("double") - F.col("sy_t").cast("double") * F.col("sy_t") / F.col("n_t")
    theta = cov / varx
    rho2 = cov * cov / (varx * vary)
    return w.select(
        "n_a", "n_b",
        F.floor(diff_raw * 100).cast("bigint").alias("diff_raw_centicents"),
        F.floor((diff_raw - theta * dx) * 100).cast("bigint").alias("diff_cuped_centicents"),
        F.floor(theta * 1000000).cast("bigint").alias("theta_micro"),
        F.floor(rho2 * 1000000).cast("bigint").alias("var_reduction_micro"),
    )


@_q(
    "a_ab_power_analysis",
    """
WITH u AS (
  SELECT user_id, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS s2
  FROM u
),
d AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS mean,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var
  FROM m
)
SELECT n AS n_users,
       CAST(floor(mean) AS BIGINT) AS mean_cents,
       CAST(floor(var) AS BIGINT) AS var_cents2,
       CAST(ceil(15.6800 * var / (mean * 0.01 * (mean * 0.01))) AS BIGINT) AS n_per_arm_mde1,
       CAST(ceil(15.6800 * var / (mean * 0.02 * (mean * 0.02))) AS BIGINT) AS n_per_arm_mde2,
       CAST(ceil(15.6800 * var / (mean * 0.05 * (mean * 0.05))) AS BIGINT) AS n_per_arm_mde5
FROM d
""",
)
def a_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from measured variance — the
    question asked BEFORE a_ab_test_ztest is run: how many users per
    arm detect a 1%/2%/5% lift at α=0.05, power=0.80? The two-sample
    formula n = 2(z_{α/2}+z_β)²·σ²/δ² with the z constants FROZEN
    into the query text as 2·(1.96+0.84)² = 15.68 (no normal-inverse
    between engines), σ² from the exact per-user (n, Σx, Σx²)
    BIGINT moments, δ as the given fraction of the measured mean.
    ceil() of an identical double tree both engines share; the three
    MDE columns show the quadratic cost of precision directly.

    Plan: one partial-aggregated shuffle to user grain, one to a
    scalar moment row — the same two-shuffle stack as the metric
    pipeline it gates, so it runs at metric cost on any corpus."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    def n_req(frac: float):
        delta = mean * frac
        return F.ceil(15.6800 * var / (delta * delta)).cast("bigint")
    return m.select(
        F.col("n").alias("n_users"),
        F.floor(mean).cast("bigint").alias("mean_cents"),
        F.floor(var).cast("bigint").alias("var_cents2"),
        n_req(0.01).alias("n_per_arm_mde1"),
        n_req(0.02).alias("n_per_arm_mde2"),
        n_req(0.05).alias("n_per_arm_mde5"),
    )


@_q(
    "a_order_to_ship_latency",
    """
WITH lat AS (
  SELECT o_orderpriority AS priority,
         (CAST(epoch(min(l_shipdate)) AS BIGINT)
          - CAST(epoch(o_orderdate) AS BIGINT)) // 86400 AS days
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderpriority, o_orderdate
),
g AS (
  SELECT priority, days, CAST(count(*) AS BIGINT) AS n
  FROM lat GROUP BY priority, days
),
c AS (
  SELECT priority, days, n,
         CAST(sum(n) OVER (PARTITION BY priority ORDER BY days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT) AS total
  FROM g
)
SELECT priority, total AS n_orders,
       CAST(min(CASE WHEN 2 * cum >= total THEN days END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN 10 * cum >= 9 * total THEN days END) AS BIGINT) AS p90_days,
       CAST(min(CASE WHEN 100 * cum >= 99 * total THEN days END) AS BIGINT) AS p99_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM c GROUP BY priority, total
""",
)
def a_order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency SLA report per order priority:
    p50/p90/p99/max of the integer day gap between order placement
    and the order's EARLIEST line shipment — the fulfilment KPI that
    checks whether '1-URGENT' actually ships faster. Percentiles are
    EXACT (type-7 lower-crossing), found by integer cross-
    multiplication (k·cum ≥ p·total) over the DAY-VALUE GRAIN, the
    a_weighted_median discipline: after the per-order min, rows
    collapse to (priority, days) counts — a few hundred cells — so
    the windows never see the fact table and no percentile
    interpolation (the thing engines disagree on) ever runs.

    Plan: one shuffle for the order-grain min (partial-aggregated),
    one to day-value grain, dim-sized windows, one rollup."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lat = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("priority"), "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "priority",
            F.expr(
                "(CAST(unix_timestamp(first_ship) AS BIGINT)"
                " - CAST(unix_timestamp(o_orderdate) AS BIGINT)) div 86400"
            ).alias("days"),
        )
    )
    g = lat.groupBy("priority", "days").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wc = W.partitionBy("priority").orderBy("days").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = g.select(
        "priority", "days", "n",
        F.sum("n").over(wc).cast("bigint").alias("cum"),
        F.sum("n").over(W.partitionBy("priority")).cast("bigint").alias("total"),
    )
    return c.groupBy("priority", F.col("total").alias("n_orders")).agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("days")))
        .cast("bigint")
        .alias("p50_days"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("days")))
        .cast("bigint")
        .alias("p90_days"),
        F.min(F.when(100 * F.col("cum") >= 99 * F.col("total"), F.col("days")))
        .cast("bigint")
        .alias("p99_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


@_q(
    "sink_snapshot_diff",
    """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM orders
),
v1 AS (SELECT k, cents FROM base WHERE h % 10 != 9),
v2 AS (
  SELECT k, cents + CASE WHEN h % 7 = 0 THEN 1000 ELSE 0 END AS cents
  FROM base WHERE h % 7 != 3
),
d AS (
  SELECT coalesce(v1.k, v2.k) AS k,
         CASE WHEN v1.k IS NULL THEN 'added'
              WHEN v2.k IS NULL THEN 'removed'
              WHEN v1.cents != v2.cents THEN 'changed'
              ELSE 'unchanged' END AS status,
         CASE WHEN v1.k IS NOT NULL AND v2.k IS NOT NULL
              THEN abs(v2.cents - v1.cents) ELSE 0 END AS delta
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(delta) AS BIGINT) AS sum_abs_delta_cents,
       CAST(min(k) AS BIGINT) AS sample_key
FROM d GROUP BY status
""",
)
def sink_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation diff — the audit that runs after every
    sink_merge_upsert / sink_scd2_history load: a full-outer join of
    two table versions on the business key classifying every row
    added / removed / changed / unchanged, with the absolute value
    drift summed per class and a deterministic sample key (min) for
    drill-down. The two versions are SYNTHESIZED deterministically
    from one scan (md5-keyed drops and +1000-cent bumps), so the
    expected class counts are reproducible on any engine — the same
    presence-flag full-outer machinery as flagship_reconcile
    (ETL:391–425's J1/J2), pointed at the change-data-capture
    question instead of the file-vs-API one.

    Plan: one scan feeds both version frames (Catalyst collapses the
    shared subtree into one parquet read), a key-partitioned
    SortMergeJoin — at 100 TB this is THE bucketed-join candidate:
    bucket both snapshots by key and the diff is shuffle-free — and
    a 4-row rollup."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    v1 = base.filter(F.col("h") % 10 != 9).select("k", "cents")
    v2 = base.filter(F.col("h") % 7 != 3).select(
        "k",
        (
            F.col("cents")
            + F.when(F.col("h") % 7 == 0, 1000).otherwise(0)
        ).alias("cents"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    d = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer").select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.when(
            F.col("a.k").isNotNull() & F.col("b.k").isNotNull(),
            F.abs(F.col("b.cents") - F.col("a.cents")),
        )
        .otherwise(0)
        .alias("delta"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("delta").cast("bigint").alias("sum_abs_delta_cents"),
        F.min("k").cast("bigint").alias("sample_key"),
    )


@_q(
    "x_largest_remainder_alloc",
    """
WITH rev AS (
  SELECT c_mktsegment AS segment,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
),
q AS (
  SELECT segment, cents,
         CAST(sum(cents) OVER () AS BIGINT) AS total,
         CAST((10000 * cents) // sum(cents) OVER () AS BIGINT) AS floor_bp,
         CAST((10000 * cents) % sum(cents) OVER () AS BIGINT) AS rem
  FROM rev
),
r AS (
  SELECT segment, cents, floor_bp, rem,
         CAST(10000 - sum(floor_bp) OVER () AS BIGINT) AS leftover,
         CAST(row_number() OVER (ORDER BY rem DESC, segment) AS BIGINT) AS rk
  FROM q
)
SELECT segment, cents AS revenue_cents, floor_bp, rem AS remainder,
       CAST(floor_bp + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_bp
FROM r
""",
)
def x_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) integer allocation: distribute
    10,000 basis points across market segments proportional to
    revenue so the shares SUM EXACTLY to 100.00% — the finance-ETL
    rounding problem naive round() gets wrong (rounded shares sum to
    9,999 or 10,001 bp and the books don't close). Floor quotas and
    remainders are pure positive-integer div/mod (identical
    semantics both engines — negatives never arise from revenue
    sums); the Σfloor shortfall goes +1 each to the largest
    remainders under the pinned (remainder DESC, segment) order, so
    the allocation is deterministic even on remainder ties.
    Σ alloc_bp = 10000 by construction.

    Plan: one partial-aggregated shuffle to segment grain with a
    broadcast dim join, then windows over the segment-dim frame —
    allocation is O(|segments|) after the rollup at any fact
    scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # global-window-ok: input is the segment-grain aggregate — ≤5 rows
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    q = rev.select(
        "segment", "cents",
        F.sum("cents").over(wall).cast("bigint").alias("total"),
    ).select(
        "segment", "cents",
        F.expr("(10000 * cents) div total").cast("bigint").alias("floor_bp"),
        ((10000 * F.col("cents")) % F.col("total")).cast("bigint").alias("rem"),
    )
    r = q.select(
        "segment", "cents", "floor_bp", "rem",
        (10000 - F.sum("floor_bp").over(wall)).cast("bigint").alias("leftover"),
        # global-window-ok: rank over the segment-grain frame — ≤5 rows
        F.row_number().over(W.orderBy(F.desc("rem"), F.asc("segment"))).cast("bigint").alias("rk"),
    )
    return r.select(
        "segment",
        F.col("cents").alias("revenue_cents"),
        "floor_bp",
        F.col("rem").alias("remainder"),
        (
            F.col("floor_bp")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_bp"),
    )


@_q(
    "a_spearman_corr",
    """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price,
         CAST(cnt AS BIGINT) AS nli
  FROM orders JOIN (
    SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
  ) li ON o_orderkey = l_orderkey
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
gx AS (
  SELECT price, CAST(count(*) AS BIGINT) AS t,
         CAST(coalesce(sum(count(*)) OVER (ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
  FROM base GROUP BY price
),
gy AS (
  SELECT nli, CAST(count(*) AS BIGINT) AS t,
         CAST(coalesce(sum(count(*)) OVER (ORDER BY nli
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
  FROM base GROUP BY nli
),
cr AS (
  SELECT b.k,
         CAST(2 * gx.cumb + gx.t + 1 - (n.n + 1) AS BIGINT) AS cx,
         CAST(2 * gy.cumb + gy.t + 1 - (n.n + 1) AS BIGINT) AS cy
  FROM base b JOIN gx ON b.price = gx.price
              JOIN gy ON b.nli = gy.nli
              CROSS JOIN n
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cx * cy) AS BIGINT) AS sxy,
         CAST(sum(cx * cx) AS BIGINT) AS sxx,
         CAST(sum(cy * cy) AS BIGINT) AS syy
  FROM cr
)
SELECT n, sxy, sxx, syy,
       CAST(floor(1000000.0 * sxy / sqrt(CAST(sxx AS DOUBLE) * syy)) AS BIGINT)
         AS spearman_micro
FROM m
""",
)
def a_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and line-item
    count — the monotone-association measure that completes
    a_corr_covar's Pearson: outlier-proof and invariant to any
    monotone transform of either metric. Tied ranks use the exact
    2·rank̄ = 2·cum_before + t + 1 identity (a_mannwhitney_u), then
    ranks are CENTERED by the integer 2·rank̄ − (n+1): centered
    doubled ranks live in [−n, n], the moments (Σcx·cy, Σcx², Σcy²)
    grow as n³/3 — exact BIGINTs to n ≈ 3M rows and ~8× later than
    the uncentered form — and the means vanish identically (Σcx = 0),
    leaving ρ = Σcxcy/√(Σcx²Σcy²) as one double expression over
    exact integers. Past that n, bucket values to a coarser rank
    grid (ρ on quantile-bucketed data is still Spearman) or lift the
    three moments to DECIMAL(38,0); the identical-trees contract is
    unchanged either way.

    Plan: rank maps are built at VALUE GRAIN (two windowed frames
    over distinct prices / distinct counts), then joined back onto
    the order-grain stream — the fact table is never windowed — and
    one partial-aggregated reduce yields the moments."""
    o = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nli"))
    )
    base = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderkey").alias("k"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("price"),
            "nli",
        )
        # consumed 4× (count, both rank maps, the centered-rank join):
        # materialize the order-grain frame once instead of re-scanning
        # orders⋈lineitem per consumer (13 scans → 2 without this)
        .localCheckpoint(eager=True)
    )
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # r11 global-window sweep: both rank maps' exclusive cumsums run
    # distributed (operators/rank.global_running_sums — one range
    # shuffle each) instead of single-partition value-grain windows.
    from graphql_api_etl_spark.operators.rank import global_running_sums

    gx = (
        global_running_sums(
            base.groupBy("price").agg(F.count(F.lit(1)).cast("bigint").alias("t")),
            [F.asc("price")],
            {"cumb_raw": "t"},
            inclusive=False,
        )
        .select("price", "t", F.col("cumb_raw").cast("bigint").alias("cumb"))
    )
    gy = (
        global_running_sums(
            base.groupBy("nli").agg(F.count(F.lit(1)).cast("bigint").alias("t")),
            [F.asc("nli")],
            {"cumb_raw": "t"},
            inclusive=False,
        )
        .select("nli", "t", F.col("cumb_raw").cast("bigint").alias("cumb"))
    )
    gx2 = gx.select("price", F.col("t").alias("tx"), F.col("cumb").alias("cbx"))
    gy2 = gy.select("nli", F.col("t").alias("ty"), F.col("cumb").alias("cby"))
    cr = (
        base.join(gx2, "price")
        .join(F.broadcast(gy2), "nli")
        .crossJoin(F.broadcast(n))
        .select(
            (2 * F.col("cbx") + F.col("tx") + 1 - (F.col("n") + 1))
            .cast("bigint")
            .alias("cx"),
            (2 * F.col("cby") + F.col("ty") + 1 - (F.col("n") + 1))
            .cast("bigint")
            .alias("cy"),
        )
    )
    m = cr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cx") * F.col("cy")).cast("bigint").alias("sxy"),
        F.sum(F.col("cx") * F.col("cx")).cast("bigint").alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).cast("bigint").alias("syy"),
    )
    return m.select(
        "n", "sxy", "sxx", "syy",
        F.floor(
            1000000.0
            * F.col("sxy")
            / F.sqrt(F.col("sxx").cast("double") * F.col("syy"))
        )
        .cast("bigint")
        .alias("spearman_micro"),
    )


@_q(
    "a_runs_test",
    """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
s AS (
  SELECT day, n,
         CASE WHEN n > lag(n) OVER (ORDER BY day) THEN 1
              WHEN n < lag(n) OVER (ORDER BY day) THEN -1
              ELSE 0 END AS sgn
  FROM d
),
nz AS (SELECT day, sgn FROM s WHERE sgn != 0),
r AS (
  SELECT sgn,
         CASE WHEN sgn != lag(sgn) OVER (ORDER BY day) OR
                   lag(sgn) OVER (ORDER BY day) IS NULL THEN 1 ELSE 0 END AS is_new_run
  FROM nz
),
m AS (
  SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         CAST(sum(is_new_run) AS BIGINT) AS n_runs
  FROM r
)
SELECT n_up, n_down, n_runs,
       CAST(floor((CAST(n_runs AS DOUBLE)
              - (2.0 * n_up * n_down / (n_up + n_down) + 1))
            / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
                   / ((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down)
                      * (n_up + n_down - 1)))
            * 10000) AS BIGINT) AS z_tenthousandths
FROM m
""",
)
def a_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily volume's up/down moves —
    the randomness check that closes the time-series diagnostics:
    a_autocorr_lag measures LINEAR serial dependence, CUSUM finds a
    LEVEL shift; the runs test catches any sign-pattern structure
    (momentum: too few runs; oscillation: too many) with no
    distributional assumption at all. Flat days drop out (the
    standard two-valued reduction), runs are counted by the
    lag-inequality flag, and n_up/n_down/n_runs are exact integers;
    only the closing normal approximation touches doubles — one
    identical expression tree, fixed-pointed (the a_ab_test_ztest
    convention).

    Plan: one partial-aggregated shuffle to day grain; every window
    runs over the day-grain frame (range-partition at scale); the
    moment row is scalar."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # global-window-ok: input is the day-grain aggregate — calendar-bounded
    wd = W.orderBy("day")
    s = d.select(
        "day", "n",
        F.when(F.col("n") > F.lag("n").over(wd), 1)
        .when(F.col("n") < F.lag("n").over(wd), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    nz = s.filter(F.col("sgn") != 0)
    r = nz.select(
        "sgn",
        F.when(
            (F.col("sgn") != F.lag("sgn").over(wd))
            | F.lag("sgn").over(wd).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new_run"),
    )
    m = r.agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("bigint").alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).cast("bigint").alias("n_down"),
        F.sum("is_new_run").cast("bigint").alias("n_runs"),
    )
    nu, nd, nr = F.col("n_up"), F.col("n_down"), F.col("n_runs")
    mu = 2.0 * nu * nd / (nu + nd) + 1
    var = (
        2.0 * nu * nd * (2.0 * nu * nd - nu - nd)
        / ((nu + nd).cast("double") * (nu + nd) * (nu + nd - 1))
    )
    return m.select(
        "n_up", "n_down", "n_runs",
        F.floor((nr.cast("double") - mu) / F.sqrt(var) * 10000)
        .cast("bigint")
        .alias("z_tenthousandths"),
    )


@_q(
    "events_haar_energy",
    """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
x0 AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, n
  FROM d ORDER BY day LIMIT 16
),
l1 AS (
  SELECT (i + 1) // 2 AS i,
         CAST(sum(n) AS BIGINT) AS a,
         CAST(sum(CASE WHEN i % 2 = 1 THEN n ELSE -n END) AS BIGINT) AS dd
  FROM x0 GROUP BY (i + 1) // 2
),
l2 AS (
  SELECT (i + 1) // 2 AS i,
         CAST(sum(a) AS BIGINT) AS a,
         CAST(sum(CASE WHEN i % 2 = 1 THEN a ELSE -a END) AS BIGINT) AS dd
  FROM l1 GROUP BY (i + 1) // 2
),
l3 AS (
  SELECT (i + 1) // 2 AS i,
         CAST(sum(a) AS BIGINT) AS a,
         CAST(sum(CASE WHEN i % 2 = 1 THEN a ELSE -a END) AS BIGINT) AS dd
  FROM l2 GROUP BY (i + 1) // 2
),
l4 AS (
  SELECT (i + 1) // 2 AS i,
         CAST(sum(a) AS BIGINT) AS a,
         CAST(sum(CASE WHEN i % 2 = 1 THEN a ELSE -a END) AS BIGINT) AS dd
  FROM l3 GROUP BY (i + 1) // 2
)
SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
       CAST(sum(dd * dd) AS BIGINT) AS detail_energy,
       CAST(NULL AS BIGINT) AS approx_energy FROM l1
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(dd * dd) AS BIGINT),
       CAST(NULL AS BIGINT) FROM l2
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(dd * dd) AS BIGINT),
       CAST(NULL AS BIGINT) FROM l3
UNION ALL
SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(dd * dd) AS BIGINT),
       CAST(sum(a * a) AS BIGINT) FROM l4
""",
)
def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the daily volume (first
    16 days): per-level detail energies separate fast jitter
    (level 1: day-to-day), weekly-ish structure (level 3: 8-day
    blocks), and the DC trend (level-4 approximation) — the
    multi-resolution "where does the variance live" question that
    single-lag autocorrelation can't answer, and the front-end of
    wavelet-compressed series storage. UNNORMALIZED integer Haar
    (a = x₁+x₂, d = x₁−x₂, no √2) keeps every coefficient and every
    energy an exact BIGINT — normalization only rescales each level
    by a known 2^l, so the diagnostic content is identical and the
    cross-engine hash is trivially stable.

    Plan: one partial-aggregated shuffle to day grain, one tiny
    window for the day index, then four cascaded 2:1 groupBys over
    8/4/2/1-row frames. Per entity (add user_id to every key) this
    is the same plan at any fan-out — the transform never sees the
    fact table."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    x = (
        d.select(
            # global-window-ok: input is the day-grain aggregate — calendar-bounded (and i ≤ 16 consumed)
            F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"), "n"
        )
        .filter(F.col("i") <= 16)
        .select("i", F.col("n").alias("a"))
    )
    levels = []
    cur = x
    for lvl in range(1, 5):
        nxt = cur.groupBy(F.expr("(i + 1) div 2").alias("i")).agg(
            F.sum("a").cast("bigint").alias("a"),
            F.sum(
                F.when(F.col("i") % 2 == 1, F.col("a")).otherwise(-F.col("a"))
            )
            .cast("bigint")
            .alias("dd"),
        )
        levels.append((lvl, nxt))
        cur = nxt.select("i", "a")
    outs = []
    for lvl, frame in levels:
        agg = frame.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
            F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias("detail_energy"),
            F.sum(F.col("a") * F.col("a")).cast("bigint").alias("a_energy"),
        )
        outs.append(
            agg.select(
                F.lit(lvl).alias("level"),
                "n_coeffs",
                "detail_energy",
                (F.col("a_energy") if lvl == 4 else F.lit(None).cast("bigint")).alias(
                    "approx_energy"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@_q(
    "a_laspeyres_price_index",
    """
WITH pm AS (
  SELECT l_partkey AS part, date_trunc('month', l_shipdate) AS m,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
b AS (SELECT min(m) AS base_m FROM pm),
base AS (
  SELECT part, cents AS cents_b, qty AS qty_b
  FROM pm CROSS JOIN b WHERE m = base_m
),
t AS (
  SELECT pm.m, pm.part,
         CAST(floor(1000000.0 * pm.cents * base.qty_b / pm.qty) AS BIGINT) AS num_term,
         base.cents_b
  FROM pm JOIN base ON pm.part = base.part
)
SELECT strftime(m, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_common_parts,
       CAST(sum(num_term) // sum(cents_b) AS BIGINT) AS laspeyres_micro
FROM t GROUP BY m
""",
)
def a_laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per ship month: what this month's unit
    prices would cost applied to the BASE month's basket,
    Σp_t·q₀ / Σp₀·q₀ over parts traded in both — the fixed-basket
    inflation measure that isolates PRICE movement from mix shift
    (raw revenue-per-unit confounds the two). Unit prices come from
    (part, month) cents/qty rollups; the denominator collapses
    exactly (p₀·q₀ = that month's cents — no division at all), and
    each numerator term is fixed-pointed to micro units BEFORE the
    per-month sum (the BM25 convention), so the index is a BIGINT
    division of exact sums on both engines.

    Plan: one partial-aggregated shuffle to (part, month) grain, the
    base-month basket broadcast back (dim-sized: one row per traded
    part), one rollup to month grain."""
    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
    )
    b = pm.agg(F.min("m").alias("base_m"))
    base = (
        pm.crossJoin(F.broadcast(b))
        .filter(F.col("m") == F.col("base_m"))
        .select(
            F.col("part").alias("bpart"),
            F.col("cents").alias("cents_b"),
            F.col("qty").alias("qty_b"),
        )
    )
    t = pm.join(F.broadcast(base), F.col("part") == F.col("bpart")).select(
        "m",
        F.floor(
            1000000.0 * F.col("cents") * F.col("qty_b") / F.col("qty")
        )
        .cast("bigint")
        .alias("num_term"),
        "cents_b",
    )
    return t.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_parts"),
        F.expr("sum(num_term) div sum(cents_b)").cast("bigint").alias("laspeyres_micro"),
    ).select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "n_common_parts",
        "laspeyres_micro",
    )


@_q(
    "a_skyline_pareto_2d",
    """
WITH pts AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price,
         CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
  FROM orders
),
pg AS (
  SELECT price, CAST(min(day) AS BIGINT) AS md
  FROM pts GROUP BY price
),
m AS (
  SELECT price, md,
         CAST(min(md) OVER (ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS m_lower
  FROM pg
)
SELECT p.k AS o_orderkey, p.price AS price_cents, p.day AS order_day
FROM pts p JOIN m ON p.price = m.price
WHERE p.day = m.md AND (m.m_lower IS NULL OR p.day < m.m_lower)
""",
)
def a_skyline_pareto_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over orders minimizing (price,
    order day): every order no other order beats on BOTH axes — the
    classic preference-query operator (Börzsönyi et al.'s SKYLINE OF)
    neither engine ships natively. The naive formulation is an O(n²)
    NOT EXISTS self-join; this is the sort-scan identity at VALUE
    GRAIN: collapse to per-price min-day md(p) (one shuffle), take
    the running min M(p) over strictly-lower prices (one window over
    the price-grain frame), and a point survives iff it attains its
    price's min day AND beats every cheaper point's best day
    (day < M(p) — strict, so an equal-day-cheaper point correctly
    dominates). Equal (price, day) duplicates co-survive, the
    standard skyline semantics. Everything is integer (cents, epoch
    days); no float ever orders anything.

    Plan: shuffle to price grain, value-grain window
    (range-partitionable), hash join back — n log n work where the
    textbook nested-exists does n². The same decomposition extends
    per-group (add a partition key to all three steps)."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("price"),
        F.expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400").alias("day"),
    )
    pg = pts.groupBy("price").agg(F.min("day").cast("bigint").alias("md"))
    # r11 global-window sweep: the strictly-lower running min runs
    # distributed (operators/rank.global_running_min — one range
    # shuffle), removing the single-partition window over the
    # price-grain frame.
    from graphql_api_etl_spark.operators.rank import global_running_min

    m = global_running_min(
        pg, [F.asc("price")], "md", out_col="m_lower_raw", inclusive=False
    ).select(
        F.col("price").alias("mprice"), "md",
        F.col("m_lower_raw").cast("bigint").alias("m_lower"),
    )
    return (
        pts.join(m, F.col("price") == F.col("mprice"))
        .filter(
            (F.col("day") == F.col("md"))
            & (F.col("m_lower").isNull() | (F.col("day") < F.col("m_lower")))
        )
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("price").alias("price_cents"),
            F.col("day").alias("order_day"),
        )
    )


@_q(
    "dq_referential_integrity",
    """
WITH checks AS (
  SELECT 'orders.o_custkey->customer' AS fk,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT) AS n_orphans,
         CAST(min(CASE WHEN c_custkey IS NULL THEN o_custkey END) AS BIGINT)
           AS sample_orphan_key
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT),
         CAST(min(CASE WHEN o_orderkey IS NULL THEN l_orderkey END) AS BIGINT)
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT),
         CAST(min(CASE WHEN p_partkey IS NULL THEN l_partkey END) AS BIGINT)
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  UNION ALL
  SELECT 'customer.c_nationkey->nation',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT),
         CAST(min(CASE WHEN n_nationkey IS NULL THEN c_nationkey END) AS BIGINT)
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
)
SELECT fk, n_child, n_orphans, sample_orphan_key, n_orphans = 0 AS intact
FROM checks
""",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's four FK
    edges: child row counts, ORPHAN counts (child keys with no
    parent), a deterministic sample orphan key for drill-down, and
    the pass flag — the load-gate run after every ingest, and the
    complement of dq_functional_deps (FDs check key DETERMINISM,
    this checks key EXISTENCE; sinks/gates.py raises on row-count
    gates, this localizes which edge broke). Spark has no FK
    constraints — this query IS the constraint, as code.

    Plan: each check is a LEFT join probing only the parent's key
    column (column-pruned to one side); dim parents broadcast,
    fact-fact (lineitem→orders) goes sort-merge on the join key.
    Counts partial-aggregate; the report is four rows."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")

    def check(fk, child, ckey, parent, pkey, broadcast_parent=True):
        par = parent.select(pkey)
        if broadcast_parent:
            par = F.broadcast(par)
        j = child.select(ckey).join(par, F.col(ckey) == F.col(pkey), "left")
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
            F.min(F.when(F.col(pkey).isNull(), F.col(ckey)))
            .cast("bigint")
            .alias("sample_orphan_key"),
        )
    checks = (
        check("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey")
        .unionByName(
            check("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey",
                  broadcast_parent=False)
        )
        .unionByName(check("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(
            check("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )
    return checks.select(
        "fk", "n_child", "n_orphans", "sample_orphan_key",
        (F.col("n_orphans") == 0).alias("intact"),
    )


@_q(
    "a_wasserstein_1d",
    """
WITH v AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS arm,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
g AS (
  SELECT cents,
         CAST(count(*) FILTER (WHERE arm = 'a') AS BIGINT) AS a_n,
         CAST(count(*) FILTER (WHERE arm = 'b') AS BIGINT) AS b_n
  FROM v GROUP BY cents
),
c AS (
  SELECT cents,
         CAST(sum(a_n) OVER w AS BIGINT) AS cum_a,
         CAST(sum(b_n) OVER w AS BIGINT) AS cum_b,
         CAST(sum(a_n) OVER () AS BIGINT) AS n_a,
         CAST(sum(b_n) OVER () AS BIGINT) AS n_b,
         CAST(lead(cents) OVER (ORDER BY cents) AS BIGINT) AS next_cents
  FROM g
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT n_a, n_b,
         CAST(sum(abs(n_b * cum_a - n_a * cum_b) * (next_cents - cents)) AS BIGINT)
           AS transport
  FROM c WHERE next_cents IS NOT NULL
  GROUP BY n_a, n_b
)
SELECT n_a, n_b, transport,
       CAST(floor(CAST(transport AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT)
         AS w1_cents
FROM s
""",
)
def a_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the urgent
    and low-priority order-value distributions — the TRANSPORT
    complement of a_ks_two_sample: KS reports the worst single CDF
    gap, W₁ = ∫|F̂_a − F̂_b|dx integrates every gap weighted by how
    far value must move, in the metric's own units (cents), which is
    what makes it the standard distribution-shift COST measure for
    monitoring (dq_psi_drift tells you IF; this tells you HOW MUCH,
    in money). On the merged value grain the integral is a closed
    sum: |n_b·cumA − n_a·cumB|·Δx per consecutive value pair — every
    term an exact BIGINT (the KS cross-multiplication plus a lead()
    gap), so `transport` is engine-identical by construction and the
    one double division at the end normalizes to cents.

    Plan: identical shape to a_ks_two_sample — one value-grain
    shuffle, one running window plus a lead over the same frame, one
    scalar reduce; nothing fact-sized is ever windowed."""
    o = _t(spark, sf_dir, "orders")
    v = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias("arm"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = v.groupBy("cents").agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0)).cast("bigint").alias("a_n"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0)).cast("bigint").alias("b_n"),
    )
    # r11 global-window sweep: running sums via ONE range shuffle,
    # totals via a 1-row broadcast aggregate, and the global lead()
    # via a distributed row_number + rn↔rn+1 self-join — nothing
    # value-grain ever funnels through a single partition.
    from graphql_api_etl_spark.operators.rank import (
        global_row_number,
        global_running_sums,
    )

    cums = global_running_sums(
        g, [F.asc("cents")], {"cum_a_raw": "a_n", "cum_b_raw": "b_n"}
    )
    rn = global_row_number(cums, [F.asc("cents")], out_col="__rn")
    nxt = rn.select(
        (F.col("__rn") - 1).alias("__rn"),
        F.col("cents").cast("bigint").alias("next_cents"),
    )
    tot = g.agg(
        F.sum("a_n").cast("bigint").alias("n_a"),
        F.sum("b_n").cast("bigint").alias("n_b"),
    )
    c = (
        rn.join(nxt, "__rn", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cents",
            F.col("cum_a_raw").cast("bigint").alias("cum_a"),
            F.col("cum_b_raw").cast("bigint").alias("cum_b"),
            "n_a",
            "n_b",
            "next_cents",
        )
    )
    s = (
        c.filter(F.col("next_cents").isNotNull())
        .groupBy("n_a", "n_b")
        .agg(
            F.sum(
                F.abs(F.col("n_b") * F.col("cum_a") - F.col("n_a") * F.col("cum_b"))
                * (F.col("next_cents") - F.col("cents"))
            )
            .cast("bigint")
            .alias("transport")
        )
    )
    return s.select(
        "n_a", "n_b", "transport",
        F.floor(
            F.col("transport").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        .cast("bigint")
        .alias("w1_cents"),
    )


@_q(
    "a_did_estimate",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
g AS (SELECT min(es) AS mn_es, max(es) AS mx_es FROM e),
cells AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN 2 * es < mn_es + mx_es THEN 'pre' ELSE 'post' END AS period,
         cents
  FROM e CROSS JOIN g
),
m AS (
  SELECT arm, period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS s2
  FROM cells GROUP BY arm, period
),
w AS (
  SELECT max(CASE WHEN arm = 'A' AND period = 'pre' THEN CAST(s1 AS DOUBLE) / n END) AS m_a0,
         max(CASE WHEN arm = 'A' AND period = 'post' THEN CAST(s1 AS DOUBLE) / n END) AS m_a1,
         max(CASE WHEN arm = 'B' AND period = 'pre' THEN CAST(s1 AS DOUBLE) / n END) AS m_b0,
         max(CASE WHEN arm = 'B' AND period = 'post' THEN CAST(s1 AS DOUBLE) / n END) AS m_b1,
         max(CASE WHEN arm = 'A' AND period = 'pre'
                  THEN ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / n END) AS v_a0,
         max(CASE WHEN arm = 'A' AND period = 'post'
                  THEN ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / n END) AS v_a1,
         max(CASE WHEN arm = 'B' AND period = 'pre'
                  THEN ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / n END) AS v_b0,
         max(CASE WHEN arm = 'B' AND period = 'post'
                  THEN ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / n END) AS v_b1,
         CAST(sum(n) AS BIGINT) AS n_total
  FROM m
)
SELECT n_total,
       CAST(floor((m_b1 - m_b0) - (m_a1 - m_a0)) AS BIGINT) AS did_cents,
       CAST(floor(((m_b1 - m_b0) - (m_a1 - m_a0))
            / sqrt(v_a0 + v_a1 + v_b0 + v_b1) * 10000) AS BIGINT) AS z_tenthousandths,
       abs(((m_b1 - m_b0) - (m_a1 - m_a0)) / sqrt(v_a0 + v_a1 + v_b0 + v_b1)) > 1.96
         AS significant
FROM w
""",
)
def a_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the treated arm's pre→post change
    minus the control arm's — the quasi-experimental estimator that
    nets out the secular time trend a naive before/after read-out
    absorbs as fake lift, and the last panel of the experimentation
    family (power → assign → z-test → CUPED → DiD). Cells are the
    deterministic md5 arm × integer-epoch-midpoint period split (the
    a_ab_cuped_adjust conventions); each cell reduces to exact
    BIGINT moments (n, Σx, Σx²); the estimate, its SE (√Σ of the
    four cell mean-variances), and the z are one identical double
    tree over those integers, fixed-pointed on output.

    Plan: one scan with the broadcast epoch frame, one
    partial-aggregated shuffle to FOUR cell rows, the max-CASE
    pivot, constant tail — DiD at any scale costs one metric pass."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = e.agg(F.min("es").alias("mn_es"), F.max("es").alias("mx_es"))
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    period = F.when(
        2 * F.col("es") < F.col("mn_es") + F.col("mx_es"), "pre"
    ).otherwise("post")
    m = (
        e.crossJoin(F.broadcast(g))
        .select(arm.alias("arm"), period.alias("period"), "cents")
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n")
    mvar = (
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    ) / F.col("n")
    def pick(a, p, expr):
        return F.max(F.when((F.col("arm") == a) & (F.col("period") == p), expr))
    w = m.agg(
        pick("A", "pre", mean).alias("m_a0"), pick("A", "post", mean).alias("m_a1"),
        pick("B", "pre", mean).alias("m_b0"), pick("B", "post", mean).alias("m_b1"),
        pick("A", "pre", mvar).alias("v_a0"), pick("A", "post", mvar).alias("v_a1"),
        pick("B", "pre", mvar).alias("v_b0"), pick("B", "post", mvar).alias("v_b1"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("m_b1") - F.col("m_b0")) - (F.col("m_a1") - F.col("m_a0"))
    se = F.sqrt(F.col("v_a0") + F.col("v_a1") + F.col("v_b0") + F.col("v_b1"))
    return w.select(
        "n_total",
        F.floor(did).cast("bigint").alias("did_cents"),
        F.floor(did / se * 10000).cast("bigint").alias("z_tenthousandths"),
        (F.abs(did / se) > 1.96).alias("significant"),
    )


@_q(
    "events_circular_hour_stats",
    """
WITH e AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60 AS minute_bin
  FROM events
),
g AS (
  SELECT event_type, minute_bin, CAST(count(*) AS BIGINT) AS w
  FROM e GROUP BY event_type, minute_bin
),
t AS (
  SELECT event_type, w,
         CAST(floor(1000000.0 * cos(2 * pi() * minute_bin / 1440.0)) AS BIGINT) AS c_t,
         CAST(floor(1000000.0 * sin(2 * pi() * minute_bin / 1440.0)) AS BIGINT) AS s_t
  FROM g
),
m AS (
  SELECT event_type,
         CAST(sum(w) AS BIGINT) AS n,
         CAST(sum(w * c_t) AS BIGINT) AS sc,
         CAST(sum(w * s_t) AS BIGINT) AS ss
  FROM t GROUP BY event_type
)
SELECT event_type, n,
       CAST(floor((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
              + CASE WHEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) < 0
                     THEN 2 * pi() ELSE 0 END)
            * 24.0 / (2 * pi()) * 1000) AS BIGINT) AS mean_hour_milli,
       CAST(floor(1000.0 * sqrt(CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
            / (CAST(n AS DOUBLE) * 1000000.0)) AS BIGINT) AS resultant_milli
FROM m
""",
)
def events_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event time-of-day per
    type: the mean DIRECTION on the 24 h clock and the resultant
    length R ∈ [0,1] — the correct "peak hour" answer where the
    arithmetic mean is wrong by construction (23:00 and 01:00
    average to noon linearly, midnight circularly; R says whether a
    peak exists at all: R→0 uniform traffic, R→1 a sharp spike).
    a_dow_seasonality's χ² says timing is non-uniform; this says
    WHERE it points.

    Determinism lessons encoded here (this entry found both):
    (1) DuckDB's epoch(ts) is FRACTIONAL and CAST-to-BIGINT ROUNDS
    while Spark's unix_timestamp truncates — on sub-second
    timestamps half the rows land one second apart, so every oracle
    that seconds-izes a raw ts must floor(epoch(ts)) (this audit
    hardened four earlier entries whose coarse comparisons had
    passed by luck). (2) Per-row fixed-pointed trig leaves
    |rows|-many libm floor-flip opportunities; QUANTIZING
    time-of-day to 1440 minute bins first (exact integer counts,
    one shuffle) runs trig once per BIN on identical inputs —
    verified bit-equal across engines for all 1440 — and keeps
    Σ count·term an exact BIGINT. atan2/sqrt run once per type
    over exact integers.

    Plan: one partial-aggregated shuffle to (type, minute) grain
    (≤ 1440·|types| rows), bin-grain trig, one rollup."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr("(CAST(unix_timestamp(ts) AS BIGINT) % 86400) div 60").alias(
            "minute_bin"
        ),
    )
    g = e.groupBy("event_type", "minute_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    ang = 2 * 3.141592653589793 * F.col("minute_bin") / 1440.0
    t = g.select(
        "event_type", "w",
        F.floor(1000000.0 * F.cos(ang)).cast("bigint").alias("c_t"),
        F.floor(1000000.0 * F.sin(ang)).cast("bigint").alias("s_t"),
    )
    m = t.groupBy("event_type").agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.col("w") * F.col("c_t")).cast("bigint").alias("sc"),
        F.sum(F.col("w") * F.col("s_t")).cast("bigint").alias("ss"),
    )
    a = F.atan2(F.col("ss").cast("double"), F.col("sc").cast("double"))
    ang_pos = a + F.when(a < 0, 2 * 3.141592653589793).otherwise(0.0)
    return m.select(
        "event_type", "n",
        F.floor(ang_pos * 24.0 / (2 * 3.141592653589793) * 1000)
        .cast("bigint")
        .alias("mean_hour_milli"),
        F.floor(
            1000.0
            * F.sqrt(
                F.col("sc").cast("double") * F.col("sc")
                + F.col("ss").cast("double") * F.col("ss")
            )
            / (F.col("n").cast("double") * 1000000.0)
        )
        .cast("bigint")
        .alias("resultant_milli"),
    )


@_q(
    "a_simpsons_detector",
    """
WITH base AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
cell AS (
  SELECT segment, grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM base GROUP BY segment, grp
),
strata AS (
  SELECT segment,
         max(CASE WHEN grp = 1 THEN n END) AS n1, max(CASE WHEN grp = 1 THEN s END) AS s1,
         max(CASE WHEN grp = 0 THEN n END) AS n0, max(CASE WHEN grp = 0 THEN s END) AS s0
  FROM cell GROUP BY segment
),
o AS (
  SELECT CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(s1) AS BIGINT) AS s1,
         CAST(sum(n0) AS BIGINT) AS n0, CAST(sum(s0) AS BIGINT) AS s0
  FROM strata
)
SELECT segment,
       CAST(n1 AS BIGINT) AS n_urgent, CAST(n0 AS BIGINT) AS n_low,
       s1 * n0 > s0 * n1 AS urgent_higher,
       (SELECT s1 * n0 > s0 * n1 FROM o) AS overall_urgent_higher,
       (s1 * n0 > s0 * n1) != (SELECT s1 * n0 > s0 * n1 FROM o) AS sign_flip
FROM strata
""",
)
def a_simpsons_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: does "urgent orders are pricier
    than low-priority" hold in EVERY market segment, or only in the
    pooled aggregate (or vice versa)? Each stratum's mean comparison
    is the exact integer cross-multiplication s₁·n₀ > s₀·n₁ — no
    mean is ever divided — and the per-stratum direction is compared
    against the pooled direction computed from the SAME cell sums,
    flagging sign flips. This is the aggregation-bias audit that
    belongs next to every segment-level KPI rollup
    (a_repeat_purchase_rate, a_gini_concentration): a flipped
    stratum means the pooled number is answering a different
    question than the per-segment ones.

    Plan: broadcast dim join, ONE partial-aggregated shuffle to the
    2·|segments| cell grid; strata pivot and the pooled row are both
    derived from those cells — the fact table is read once."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    cell = base.groupBy("segment", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    pick = lambda g, col: F.max(F.when(F.col("grp") == g, F.col(col)))  # noqa: E731
    strata = cell.groupBy("segment").agg(
        pick(1, "n").alias("n1"), pick(1, "s").alias("s1"),
        pick(0, "n").alias("n0"), pick(0, "s").alias("s0"),
    )
    overall = strata.agg(
        F.sum("n1").cast("bigint").alias("on1"), F.sum("s1").cast("bigint").alias("os1"),
        F.sum("n0").cast("bigint").alias("on0"), F.sum("s0").cast("bigint").alias("os0"),
    )
    stratum_dir = F.col("s1") * F.col("n0") > F.col("s0") * F.col("n1")
    overall_dir = F.col("os1") * F.col("on0") > F.col("os0") * F.col("on1")
    return strata.crossJoin(F.broadcast(overall)).select(
        "segment",
        F.col("n1").alias("n_urgent"),
        F.col("n0").alias("n_low"),
        stratum_dir.alias("urgent_higher"),
        overall_dir.alias("overall_urgent_higher"),
        (stratum_dir != overall_dir).alias("sign_flip"),
    )


@_q(
    "events_entropy_rate",
    """
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
p AS (
  SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE nxt IS NOT NULL GROUP BY event_type, nxt
),
r AS (SELECT cur, CAST(sum(n) AS BIGINT) AS rn FROM p GROUP BY cur),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM p),
term AS (
  SELECT p.cur, p.nxt,
         CAST(floor(-1000000000.0 * p.n * ln(CAST(p.n AS DOUBLE) / r.rn)
              / tot.nt) AS BIGINT) AS h_nano
  FROM p JOIN r ON p.cur = r.cur CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(h_nano) AS BIGINT) AS entropy_rate_nano
FROM term
""",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of the per-user event stream,
    H(Xₜ₊₁|Xₜ) = −Σ p(i,j)·ln p(j|i) in nats — the single number
    that says how PREDICTABLE user behaviour is from one step of
    history (0 = deterministic paths, ln|types| ≈ 1.609 = pure
    noise), the information-theoretic summary sitting on top of
    events_markov_transitions' matrix: recommendation and prefetch
    value lives exactly in the gap below the noise ceiling. Cell
    terms −n·ln(n/row)/N are fixed-pointed to NANO units per
    transition cell (the BM25 convention; ≤ |types|² cells) so the
    reported rate is an exact BIGINT sum.

    Plan: per-user lead over user-partitioned frames, one
    partial-aggregated shuffle to the |types|² cell grid, dim-grain
    arithmetic."""
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    p = s.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    r = p.groupBy(F.col("cur").alias("rcur")).agg(
        F.sum("n").cast("bigint").alias("rn")
    )
    tot = p.agg(F.sum("n").cast("bigint").alias("nt"))
    term = (
        p.join(F.broadcast(r), F.col("cur") == F.col("rcur"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                -1000000000.0
                * F.col("n")
                * F.log(F.col("n").cast("double") / F.col("rn"))
                / F.col("nt")
            )
            .cast("bigint")
            .alias("h_nano")
        )
    )
    return term.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("h_nano").cast("bigint").alias("entropy_rate_nano"),
    )


@_q(
    "events_user_streaks",
    """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
  FROM events
),
isl AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM ud
),
runs AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS streak
  FROM isl GROUP BY user_id, grp
),
per_user AS (
  SELECT user_id, CAST(max(streak) AS BIGINT) AS best_streak
  FROM runs GROUP BY user_id
)
SELECT best_streak,
       CAST(count(*) AS BIGINT) AS n_users
FROM per_user GROUP BY best_streak
""",
)
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, reported as
    the streak-length distribution — the engagement metric product
    teams actually ship ("7-day streak!") and the retention signal
    a_growth_accounting's week-grain lag classes are too coarse to
    see. Classic gaps-and-islands at USER-DAY grain: distinct
    (user, epoch-day) first (one shuffle collapses event volume to
    at most users×days rows), then day − row_number() is constant
    exactly within a consecutive run, and two rollups give each
    user's best streak and the population histogram. Every value is
    an exact integer; date_trunc before epoch keeps the day index
    immune to the fractional-seconds cast hazard this module's
    oracles document.

    Plan: one distinct shuffle to user-day grain, per-user windows
    over that grain (never raw events), two partial-aggregated
    rollups — the event table is read once."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr(
            "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) div 86400"
        ).alias("day"),
    ).distinct()
    isl = ud.select(
        "user_id", "day",
        (
            F.col("day")
            - F.row_number().over(W.partitionBy("user_id").orderBy("day"))
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("streak").cast("bigint").alias("best_streak")
    )
    return per_user.groupBy("best_streak").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@_q(
    "a_hhi_concentration",
    """
WITH rev AS (
  SELECT n_name AS nation, l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice / 1000 + 0.5) AS BIGINT)) AS BIGINT) AS kd
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
),
s AS (
  SELECT nation,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(kd) AS BIGINT) AS total,
         CAST(sum(kd * kd) AS BIGINT) AS sumsq
  FROM rev GROUP BY nation
)
SELECT nation, n_suppliers, total AS total_kdollars,
       CAST(((1000000 * sumsq) // total) // total AS BIGINT) AS hhi_micro,
       CAST((1000 * total * total) // sumsq AS BIGINT) AS effective_n_milli
FROM s
""",
)
def a_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation:
    HHI = Σ shareᵢ² of supplier revenue, plus its inverse — the
    EFFECTIVE number of suppliers (1/HHI, the inverse-Simpson
    diversity) — the concentration KPI procurement and antitrust
    actually use, and the supply-risk complement to
    a_gini_concentration's inequality view (Gini asks "how unequal",
    HHI asks "how few firms effectively exist"). Share squares never
    materialize — HHI = Σcᵢ²/(Σc)² from two exact BIGINT moments of
    the (nation, supplier) revenue rollup — and NO float ever runs:
    revenue is k$-granular (cents-squared overflows int64, and a
    float ratio rounds 10⁶·s/s² to 999999.999… on single-supplier
    nations — observed), 10⁶·Σc² fits comfortably, and the nested
    integer division ((10⁶·Σc²)//Σc)//Σc equals
    floor(10⁶·Σc²/(Σc)²) exactly (the positive-integer
    floor-composition identity), so a one-supplier nation reports
    precisely 1000000.

    Plan: one partial-aggregated shuffle to (nation, supplier) grain
    with broadcast dim joins, one rollup to |nations| rows."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") / 1000 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("kd")
        )
    )
    s = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("kd").cast("bigint").alias("total"),
        F.sum(F.col("kd") * F.col("kd")).cast("bigint").alias("sumsq"),
    )
    return s.select(
        "nation", "n_suppliers",
        F.col("total").alias("total_kdollars"),
        F.expr("((1000000 * sumsq) div total) div total")
        .cast("bigint")
        .alias("hhi_micro"),
        F.expr("(1000 * total * total) div sumsq")
        .cast("bigint")
        .alias("effective_n_milli"),
    )


def _parquet_meta_oracle() -> str:
    """Row-group inventory oracle via DuckDB's parquet_metadata()
    against the SAME sf dir the Spark side reads
    ($SPARK_GRAFT_ORACLE_SF_DIR, default the driver's sf0.01)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    parts = []
    for t in ("lineitem", "orders", "events"):
        parts.append(
            f"""SELECT '{t}' AS table_name, CAST(row_group_id AS BIGINT) AS row_group,
       CAST(row_group_num_rows AS BIGINT) AS num_rows,
       CAST(count(*) AS BIGINT) AS n_columns,
       CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes
FROM parquet_metadata('{sf_dir}/{t}.parquet')
GROUP BY row_group_id, row_group_num_rows"""
        )
    return " UNION ALL ".join(parts)


@_q("source_parquet_metadata", _parquet_meta_oracle)
def source_parquet_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet ROW-GROUP inventory for the three fact tables — the
    storage-introspection pass behind every layout decision this
    repo's layout_* entries then act on: row-group row counts decide
    whether maxPartitionBytes splits do anything, compressed bytes
    per group expose compaction debt (layout_compacted_scan), and a
    skewed group is a straggler foretold. Footers are harvested
    DISTRIBUTED: the file manifest becomes a DataFrame and each
    executor opens only footer bytes via pyarrow inside
    ``mapInPandas`` — at 100 TB the manifest is millions of files
    and THIS is the only shape that works (a driver loop over
    footers is the classic metadata bottleneck). DuckDB's
    parquet_metadata() replays the same numbers, so the differential
    pins byte-exact agreement between two independent footer
    parsers.

    Plan: manifest-sized input, Arrow map stage, no shuffle; output
    is row-group grain."""
    import pandas as pd

    files = [(t, f"{sf_dir}/{t}.parquet") for t in ("lineitem", "orders", "events")]
    manifest = spark.createDataFrame(files, "table_name string, path string")

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = {"table_name": [], "row_group": [], "num_rows": [],
                   "n_columns": [], "compressed_bytes": []}
            for t, path in zip(pdf["table_name"], pdf["path"]):
                meta = pq.ParquetFile(path).metadata
                for i in range(meta.num_row_groups):
                    rg = meta.row_group(i)
                    out["table_name"].append(t)
                    out["row_group"].append(i)
                    out["num_rows"].append(rg.num_rows)
                    out["n_columns"].append(rg.num_columns)
                    out["compressed_bytes"].append(
                        sum(rg.column(j).total_compressed_size
                            for j in range(rg.num_columns))
                    )
            yield pd.DataFrame(out)

    return manifest.mapInPandas(
        read_footers,
        "table_name string, row_group bigint, num_rows bigint, "
        "n_columns bigint, compressed_bytes bigint",
    )


@_q(
    "x_fiscal_445_calendar",
    """
WITH wk AS (
  SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS fy,
         CAST(weekofyear(o_orderdate) AS BIGINT) AS w,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
p AS (
  SELECT fy,
         CAST(least(4, (w - 1) // 13 + 1) AS BIGINT) AS quarter,
         CAST(CASE WHEN w >= 53 THEN 12
                   ELSE least(4, (w - 1) // 13 + 1) * 3 - 3
                        + CASE WHEN (w - 1) % 13 < 4 THEN 1
                               WHEN (w - 1) % 13 < 8 THEN 2
                               ELSE 3 END
              END AS BIGINT) AS period,
         cents
  FROM wk
)
SELECT fy AS fiscal_year, quarter, period,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM p GROUP BY fy, quarter, period
""",
)
def x_fiscal_445_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendar rollup: orders mapped onto the
    retail-standard week-based calendar (four 13-week quarters of
    4+4+5-week periods on the ISO week grid; ISO week 53 folds into
    period 12, the leap-week convention) — the calendar ops entry
    the month-grain rollups (a_monthly_growth, adoption) can't
    substitute for, because 4-4-5 periods contain the SAME number of
    weekdays every year, which is the whole point retailers use them
    (month-over-month comps stop lying about weekend counts). ISO
    week/year come from both engines' native functions — verified
    identical across year boundaries (the Dec 29–Jan 3 rows that
    belong to the neighbouring ISO year are where naive
    year(month()) calendars silently misfile revenue); everything
    after is integer div/mod on the week number.

    Plan: map-only calendar math, one partial-aggregated shuffle to
    (fy, period) grain."""
    o = _t(spark, sf_dir, "orders")
    wk = o.select(
        F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("bigint").alias("fy"),
        F.weekofyear("o_orderdate").cast("bigint").alias("w"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    quarter = F.least(F.lit(4), F.expr("(w - 1) div 13 + 1")).cast("bigint")
    in_q = (F.col("w") - 1) % 13
    period = (
        F.when(F.col("w") >= 53, 12)
        .otherwise(
            quarter * 3 - 3
            + F.when(in_q < 4, 1).when(in_q < 8, 2).otherwise(3)
        )
        .cast("bigint")
    )
    p = wk.select("fy", quarter.alias("quarter"), period.alias("period"), "cents")
    return p.groupBy(
        F.col("fy").alias("fiscal_year"), "quarter", "period"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


@_q(
    "a_abc_xyz_matrix",
    """
WITH pm AS (
  SELECT l_partkey AS part, date_trunc('month', l_shipdate) AS m,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(floor(l_extendedprice + 0.5) AS BIGINT)) AS BIGINT) AS dollars
  FROM lineitem GROUP BY 1, 2
),
per AS (
  SELECT part,
         CAST(sum(dollars) AS BIGINT) AS rev,
         CAST(count(*) AS BIGINT) AS n_m,
         CAST(sum(qty) AS BIGINT) AS s1,
         CAST(sum(qty * qty) AS BIGINT) AS s2
  FROM pm GROUP BY part
),
abc AS (
  SELECT part, rev, n_m, s1, s2,
         CAST(sum(rev) OVER (ORDER BY rev DESC, part
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(rev) OVER () AS BIGINT) AS total
  FROM per
),
cls AS (
  SELECT CASE WHEN 10 * cum <= 8 * total THEN 'A'
              WHEN 100 * cum <= 95 * total THEN 'B' ELSE 'C' END AS abc_class,
         CASE WHEN n_m < 2 THEN 'Z'
              WHEN 4 * n_m * (n_m * s2 - s1 * s1) <= s1 * s1 * (n_m - 1) THEN 'X'
              WHEN n_m * (n_m * s2 - s1 * s1) <= s1 * s1 * (n_m - 1) THEN 'Y'
              ELSE 'Z' END AS xyz_class,
         rev
  FROM abc
)
SELECT abc_class, xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS revenue_dollars
FROM cls GROUP BY abc_class, xyz_class
""",
)
def a_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: revenue importance (A ≤ 80% cumulative
    share, B ≤ 95%, C rest — a_abc_pareto's classes) CROSSED with
    demand variability (X: monthly-demand CV ≤ ½, Y: CV ≤ 1, Z:
    erratic or too short to tell) — the nine-cell planning grid that
    decides stocking policy (AX: automate replenishment; CZ: make to
    order). The CV thresholds are exact integer cross-multiplications
    of the per-part monthly moments — CV² = n(nΣq² − (Σq)²)/((n−1)(Σq)²)
    compared against ¼ and 1 by clearing denominators (4n(nΣq²−(Σq)²)
    ≤ (Σq)²(n−1), etc.) — so no variance, mean, or ratio is ever a
    float; the ABC cut reuses the integer cumulative-share
    comparisons.

    Plan: one shuffle to (part, month) grain, one to part grain, a
    DISTRIBUTED running share (operators/rank.global_running_sums,
    r11) for the cumulative cut, one rollup to ≤9 cells."""
    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("dollars"),
    )
    per = pm.groupBy("part").agg(
        F.sum("dollars").cast("bigint").alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        F.sum("qty").cast("bigint").alias("s1"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("s2"),
    )
    # r11 global-window sweep: distributed running share + 1-row
    # broadcast total (was a single-partition window over |parts|).
    from graphql_api_etl_spark.operators.rank import global_running_sums

    tot = per.agg(F.sum("rev").cast("bigint").alias("total"))
    abc = (
        global_running_sums(
            per, [F.desc("rev"), F.asc("part")], {"cum_raw": "rev"}
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part", "rev", "n_m", "s1", "s2",
            F.col("cum_raw").cast("bigint").alias("cum"),
            "total",
        )
    )
    var_num = F.col("n_m") * (F.col("n_m") * F.col("s2") - F.col("s1") * F.col("s1"))
    cv_den = F.col("s1") * F.col("s1") * (F.col("n_m") - 1)
    cls = abc.select(
        F.when(10 * F.col("cum") <= 8 * F.col("total"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(F.col("n_m") < 2, "Z")
        .when(4 * var_num <= cv_den, "X")
        .when(var_num <= cv_den, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "rev",
    )
    return cls.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev").cast("bigint").alias("revenue_dollars"),
    )


@_q(
    "events_lead_lag_xcorr",
    """
WITH d AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS v,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(range(-7, 8)) AS lag),
pair AS (
  SELECT l.lag, a.v AS x, b.p AS y
  FROM lags l JOIN d a ON TRUE JOIN d b ON b.day = a.day + l.lag
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pair GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_days, n AS n_days,
       CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
            AS BIGINT) AS xcorr_micro
FROM m
""",
)
def events_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily 'view' and
    'purchase' series at lags −7..+7 days: the peak lag answers "how
    long after browsing does buying happen?" — the cross-series
    companion to a_autocorr_lag's self-correlation, and the cheap
    screen run before any causal read of funnel timing (a peak at
    lag 0 with flat tails on this corpus is itself the honest
    finding: the synthetic streams co-move within a day). Per lag,
    the aligned-day pairing comes from a day-key equi-join (never a
    row-shifted window, so day gaps align correctly), and the five
    Pearson moments are exact BIGINTs; one double expression per lag
    row, floored.

    Plan: one partial-aggregated shuffle to day grain with FILTER
    pivots, a 15-lag × day-grain join (broadcast the 15-row lag
    frame), one rollup to 15 rows."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) div 86400").alias(
            "day"
        )
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("p"),
    ).localCheckpoint(eager=True)
    lags = spark.range(-7, 8).select(F.col("id").alias("lag"))
    a = d.select(F.col("day").alias("aday"), F.col("v").alias("x"))
    b = d.select(F.col("day").alias("bday"), F.col("p").alias("y"))
    pair = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("bday") == F.col("aday") + F.col("lag"))
        .select("lag", "x", "y")
    )
    m = pair.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    r = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(
        (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag_days"),
        F.col("n").alias("n_days"),
        F.floor(1000000.0 * r).cast("bigint").alias("xcorr_micro"),
    )
