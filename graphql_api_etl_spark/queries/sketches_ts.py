"""Sketches (CMS heavy hitters, KMV, HLL registers), fuzzy blocking,
hypertable rollups, time-series ops (SAX, resample, SMA, CUSUM) and
data-quality checks.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.queries._registry import _q, _t
from graphql_api_etl_spark.queries.tpch import _layout_cache_path, _publish_layout


@_q(
    "a_heavy_hitters_cms",
    r"""
WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS k FROM events),
hb AS (
  SELECT user_id, d,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || k), 1, 7) AS BIGINT) % 256 AS bucket
  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
),
counters AS (SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt FROM hb GROUP BY d, bucket),
exact AS (SELECT user_id, k, CAST(count(*) AS BIGINT) AS exact_n FROM ev GROUP BY user_id, k),
cand AS (SELECT user_id, k, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT 15),
cb AS (
  SELECT user_id, exact_n, d,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || k), 1, 7) AS BIGINT) % 256 AS bucket
  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
)
SELECT user_id, exact_n,
       CAST(min(cnt) AS BIGINT) AS cms_n,
       min(cnt) >= exact_n AS never_under
FROM cb JOIN counters USING (d, bucket)
GROUP BY user_id, exact_n
""",
)
def a_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters (Cormode–Muthukrishnan) over the
    event stream: a d=4 × w=256 counter sketch built in ONE shuffled
    aggregation (the 4-row hash fan-out happens map-side and the
    partial aggregate collapses it to ≤ d·w rows per task), then the
    top-15 exact keys re-estimated from the sketch. The output pins the
    CMS one-sided-error invariant — `never_under` must be true for
    every key on both engines, and `cms_n` itself must match because
    the md5 hash family is engine-portable (the 28-bit house hash,
    seeded per row d).

    Why it matters at 100 TB: the sketch is a FIXED 1024-cell
    mergeable summary regardless of key cardinality — the distributed
    pattern for frequency estimation when the key space (urls, ngrams,
    user ids) no longer fits a hash aggregate. The exact side here
    exists to adjudicate estimate quality in the differential; a real
    pipeline ships only the counters.

    Cites ETL:563–569 (the reference's only frequency surface is exact
    value_counts — this is its sketch-sized scale path)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("user_id").cast("string").alias("k")
    )

    def bucket(d: int) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{d}:"), F.col("k")))
        return F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint") % 256

    fan = F.array(
        *[F.struct(F.lit(d).alias("d"), bucket(d).alias("bucket")) for d in range(4)]
    )
    rows = ev.select(F.explode(fan).alias("hb"))
    counters = rows.groupBy(
        F.col("hb.d").alias("d"), F.col("hb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    exact = ev.groupBy("user_id", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    cand = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(15)
    cb = cand.select("user_id", "exact_n", "k").select(
        "user_id", "exact_n", F.explode(fan).alias("hb")
    )
    return (
        cb.select("user_id", "exact_n", F.col("hb.d").alias("d"), F.col("hb.bucket").alias("bucket"))
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_n"))
        .select(
            "user_id", "exact_n", "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("never_under"),
        )
    )


@_q(
    "j_fuzzy_blocked",
    r"""
WITH clean AS (
  SELECT c_custkey AS clean_id, c_name AS clean_name,
         substr(c_name, 16, 3) AS blk
  FROM customer
),
dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, pos - 1) || 'x' || substr(c_name, pos + 1, 100) AS dirty_name
  FROM (SELECT c_custkey, c_name, 10 + c_custkey % 9 AS pos FROM customer)
),
db AS (SELECT dirty_id, dirty_name, substr(dirty_name, 16, 3) AS blk FROM dirty)
SELECT dirty_id, clean_id,
       CAST(levenshtein(dirty_name, clean_name) AS BIGINT) AS dist,
       dirty_id = clean_id AS is_self
FROM db JOIN clean USING (blk)
WHERE levenshtein(dirty_name, clean_name) <= 2
""",
)
def j_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (record linkage): match a deterministically
    corrupted name register (one digit substituted with 'x' at
    position 10 + key%9) back to the clean register with
    levenshtein ≤ 2, candidates generated by EQUI-JOIN blocking on a
    3-char suffix key — never all-pairs. This is the standard
    blocking-then-verify linkage shape (F4/F5's exact membership
    generalized to approximate identity, ETL:426–447).

    The differential also pins the honest failure modes: corruptions
    landing INSIDE the block key (pos ≥ 16) produce unmatchable
    blocks (documented recall loss — real blocking schemes use
    multiple redundant keys), and distinct customers sharing a block
    within distance 2 surface as non-self matches (is_self = false),
    so both match classes carry evidence.

    Scale: cost is Σ per-block |dirty|·|clean| with near-unique block
    keys, and levenshtein runs only on candidates. The blocking join
    routes through operators/skew.skew_aware_join (the measured r11
    strategy table): at test scale the clean register fits the
    broadcast budget (no shuffle at all); at crawl scale the same call
    degrades to SMJ with AQE's skew split absorbing hot blocks —
    blocking keys are exactly where real registers skew (common name
    suffixes). Both engines implement unit-cost Wagner–Fischer, so
    `dist` is engine-exact."""
    from graphql_api_etl_spark.operators.skew import skew_aware_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    clean = cust.select(
        F.col("c_custkey").alias("clean_id"),
        F.col("c_name").alias("clean_name"),
        F.substring("c_name", 16, 3).alias("blk"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(
            "concat(substr(c_name, 1, 10 + c_custkey % 9 - 1), 'x', "
            "substr(c_name, 10 + c_custkey % 9 + 1, 100))"
        ).alias("dirty_name"),
    ).select(
        "dirty_id", "dirty_name", F.substring("dirty_name", 16, 3).alias("blk")
    )
    dist = F.levenshtein("dirty_name", "clean_name")
    return (
        skew_aware_join(dirty, clean, on="blk")
        .filter(dist <= 2)
        .select(
            "dirty_id", "clean_id",
            dist.cast("bigint").alias("dist"),
            (F.col("dirty_id") == F.col("clean_id")).alias("is_self"),
        )
    )


@_q(
    "events_hypertable_rollup",
    """
WITH base AS (
  SELECT date_trunc('hour', ts) AS h,
         date_trunc('day', ts) AS d,
         date_trunc('week', ts) AS wk,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT CASE WHEN h IS NOT NULL THEN 'hour'
            WHEN d IS NOT NULL THEN 'day'
            ELSE 'week' END AS grain,
       strftime(coalesce(h, d, wk), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM base
GROUP BY GROUPING SETS ((h), (d), (wk))
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-grain rollup (the TimescaleDB
    continuous-aggregate shape): hour, day, AND week buckets of the
    event stream in ONE pass via GROUPING SETS over pre-computed
    truncs — Spark's Expand fans each row to its three grains BEFORE
    the partial aggregation, so the exchange carries |buckets|·3 rows
    (combiner-collapsed map-side), not |events|·3, and the scan runs
    once instead of three times. Values are fixed-pointed to cents
    per ROW (round-half-up) before the BIGINT sum, so bucket totals
    are exact integers regardless of engine summation order — the
    difference from round(sum(double)) that matters as buckets widen
    to weeks. Both engines week-truncate to Monday.

    At 100 TB this is the continuous-aggregate maintenance job: the
    same plan over an incremental time slice, merged into per-grain
    materializations (cf. layout_* entries for the storage side)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__events_ht")
    return spark.sql(
        """
        WITH base AS (
          SELECT date_trunc('hour', ts) AS h,
                 date_trunc('day', ts) AS d,
                 date_trunc('week', ts) AS wk,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM __events_ht
        )
        SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                    WHEN d IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               date_format(coalesce(h, d, wk), 'yyyy-MM-dd HH:mm:ss') AS bucket_start,
               count(*) AS n_events,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM base
        GROUP BY GROUPING SETS ((h), (d), (wk))
        """
    )


@_q(
    "a_ab_test_ztest",
    """
WITH assigned AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
m AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS s2
  FROM assigned GROUP BY arm
),
w AS (
  SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
         max(CASE WHEN arm = 'A' THEN s1 END) AS s1_a,
         max(CASE WHEN arm = 'A' THEN s2 END) AS s2_a,
         max(CASE WHEN arm = 'B' THEN n END) AS n_b,
         max(CASE WHEN arm = 'B' THEN s1 END) AS s1_b,
         max(CASE WHEN arm = 'B' THEN s2 END) AS s2_b
  FROM m
),
z AS (
  SELECT n_a, n_b,
         CAST(s1_a AS DOUBLE) / n_a AS mean_a,
         CAST(s1_b AS DOUBLE) / n_b AS mean_b,
         (CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1) AS var_a,
         (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1) AS var_b
  FROM w
)
SELECT n_a, n_b,
       CAST(floor((mean_b - mean_a) * 10000) AS BIGINT) AS mean_diff_centimilli,
       CAST(floor((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b) * 10000) AS BIGINT) AS z_tenthousandths,
       abs((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b)) > 1.96 AS significant
FROM z
""",
)
def a_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test on mean event value between
    deterministically assigned experiment arms (md5(user_id) % 2 —
    the same engine-portable uniform every sampler entry uses, so
    assignment is stable across runs/engines and consistent PER USER,
    the property a real experiment needs). The experimentation-
    analytics primitive: at 100 TB this exact plan scores thousands
    of metric×experiment pairs from one pass of per-arm moment sums.

    Determinism: values are fixed-pointed to cents per ROW, so the
    per-arm moment sums (n, Σx, Σx²) are exact BIGINTs regardless of
    partitioning/summation order (Σx² ≈ 1e14 at sf0.1 — comfortably
    in range); mean/variance/z are then computed from those exact
    integers by an identical expression tree, and outputs are
    fixed-pointed. The moments pivot to one row via the max-CASE
    conditional-aggregation idiom (a_filtered_agg), not a join.

    Plan: one partial-aggregable shuffle to 2 rows, then constant
    work. Welch (unequal-variance) form; n≫30 makes the z reference
    valid, and the gate |z| > 1.96 is pinned by both engines."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    m = (
        ev.select(arm.alias("arm"), cents.alias("cents"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
        )
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    w = m.agg(
        pick("A", "n").alias("n_a"), pick("A", "s1").alias("s1_a"), pick("A", "s2").alias("s2_a"),
        pick("B", "n").alias("n_b"), pick("B", "s1").alias("s1_b"), pick("B", "s2").alias("s2_b"),
    )
    mean_a = F.col("s1_a").cast("double") / F.col("n_a")
    mean_b = F.col("s1_b").cast("double") / F.col("n_b")
    var_a = (
        F.col("s2_a").cast("double") - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("s2_b").cast("double") - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    zval = (mean_b - mean_a) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return w.select(
        "n_a", "n_b",
        F.floor((mean_b - mean_a) * 10000).cast("bigint").alias("mean_diff_centimilli"),
        F.floor(zval * 10000).cast("bigint").alias("z_tenthousandths"),
        (F.abs(zval) > 1.96).alias("significant"),
    )


@_q(
    "a_mad_outliers",
    """
WITH c AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
),
med AS (
  SELECT event_type, CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
  FROM c GROUP BY event_type
),
dev AS (
  SELECT c.event_type, cents, med2, abs(2 * cents - med2) AS dev2
  FROM c JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n,
       med2, mad4,
       CAST(count(*) FILTER (WHERE 2 * dev2 > 3 * mad4) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type, med2, mad4
""",
)
def a_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen via median absolute deviation: per event
    type, the median and MAD of event value with a count of points
    beyond the 3×MAD fence — the data-cleaning staple that, unlike
    the z-score entries, is immune to the outliers it hunts.

    Exactness trick: medians of integers are integers or exact
    halves, so doubling makes EVERY quantity a BIGINT — cents → med2
    (half-cents), deviations → dev2 (half-cents), MAD → mad4
    (quarter-cents) — and the fence test 2·dev2 > 3·mad4 compares
    exact integers. No float survives past each percentile's exact
    interpolation, so engines cannot disagree.

    Plan: two percentile aggregations per group (sort-based within
    group; swap approx_percentile at scale — a_approx_percentiles is
    the house pattern) with dim-sized results broadcast back onto the
    map-side deviation/fence computation."""
    ev = _t(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents")
    )
    med = c.groupBy("event_type").agg(
        (2 * F.expr("percentile(cents, 0.5)")).cast("bigint").alias("med2")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type", "med2", F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2")
    )
    mad = dev.groupBy("event_type").agg(
        (2 * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((2 * F.col("dev2") > 3 * F.col("mad4")).cast("bigint"))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("event_type", "n", "med2", "mad4", "n_outliers")
    )


@_q(
    "a_abc_pareto",
    """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
ranked AS (
  SELECT cents, total,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM rev CROSS JOIN tot
)
SELECT CASE WHEN 100 * cum <= 80 * total THEN 'A'
            WHEN 100 * cum <= 95 * total THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS class_cents
FROM ranked GROUP BY 1
""",
)
def a_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto concentration analysis: parts ranked by revenue,
    classified by cumulative share (A ≤ 80%, B ≤ 95%, C the tail) —
    the assortment/inventory 80-20 report. Class boundaries compare
    100·cum ≤ k·total as exact BIGINTs (revenue fixed-pointed to
    cents per row before aggregation), so no float share ever exists
    to disagree about, and the running sum's (cents DESC, partkey)
    order is total.

    Plan: one key-balanced shuffle to per-part revenue, then the
    running share is computed DISTRIBUTED (r11:
    operators/rank.global_running_sums — range-repartition +
    per-partition running sum + broadcast offsets), so the plan holds
    even when |parts| outgrows a single partition."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    # r11 global-window sweep: the running share runs distributed
    # (operators/rank.global_running_sums — one range shuffle) so the
    # plan no longer degrades to a single partition when |parts|
    # outgrows one executor (the caveat the old docstring carried).
    from graphql_api_etl_spark.operators.rank import global_running_sums

    ranked = (
        global_running_sums(
            rev, [F.desc("cents"), F.asc("l_partkey")], {"cum_raw": "cents"}
        )
        .crossJoin(F.broadcast(tot))
        .select("cents", "total", F.col("cum_raw").cast("bigint").alias("cum"))
    )
    cls = F.when(100 * F.col("cum") <= 80 * F.col("total"), "A").when(
        100 * F.col("cum") <= 95 * F.col("total"), "B"
    ).otherwise("C")
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
    )


@_q(
    "events_resample_interpolate",
    """
WITH p AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
pe AS (SELECT event_type, epoch_ms(h) AS t, cents FROM p),
spans AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM p GROUP BY event_type),
grid AS (
  SELECT event_type,
         epoch_ms(unnest(generate_series(lo, hi, INTERVAL 15 MINUTE))) AS t
  FROM spans
),
u AS (
  SELECT event_type, t, 0 AS ord, cents, t AS pt FROM pe
  UNION ALL
  SELECT event_type, t, 1 AS ord, NULL AS cents, NULL AS pt FROM grid
),
f AS (
  SELECT event_type, t, ord,
         last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY t, ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(pt IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY t, ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY t, ord
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(pt IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY t, ord
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM u
)
SELECT event_type, t AS grid_ms,
       CAST(CASE WHEN prev_t = t THEN prev_v
                 ELSE (prev_v * (next_t - t) + next_v * (t - prev_t)) // (next_t - prev_t)
            END AS BIGINT) AS interp_cents,
       prev_t = t AS is_observed
FROM f WHERE ord = 1
""",
)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation (the
    InfluxDB/Timescale `interpolate(linear)` shape, complementing
    events_gapfill's carry-forward): per event type, hourly
    observations re-sampled onto a 15-minute grid, each grid point
    linearly interpolated between its straddling observations.

    Neighbor search is ONE sorted pass per series: grid points are
    unioned with observations (observations sort first at equal
    timestamps via the ord column), then two ignore-nulls window
    scans — last_value backward, first_value forward — give the
    straddling (t, value) pairs; no self-join, no per-row search. The
    interpolation weight formula (prev·(tn−g) + next·(g−tp)) ÷
    (tn−tp) runs ENTIRELY in BIGINTs (cents × ms offsets ≈ 1e12,
    well in range; both engines' integer division agrees on the
    positive numerator), with grid-coincident points short-circuited
    to the exact observation, so no float exists anywhere.

    Scale: the heavy input collapses to per-(type, hour) rows in one
    partial-aggregated shuffle BEFORE any window; the windows
    partition by series key, so state is per-series and
    span-bounded."""
    ev = _t(spark, sf_dir, "events")
    p = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    pe = p.select("event_type", F.unix_millis("h").alias("t"), "cents").select(
        "event_type", "t", F.lit(0).alias("ord"), "cents", F.col("t").alias("pt")
    )
    spans = p.groupBy("event_type").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = spans.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 15 MINUTE"))).alias("g"),
    ).select(
        "event_type",
        F.unix_millis("g").alias("t"),
        F.lit(1).alias("ord"),
        F.lit(None).cast("bigint").alias("cents"),
        F.lit(None).cast("bigint").alias("pt"),
    )
    u = pe.unionByName(grid)
    back = (
        W.partitionBy("event_type")
        .orderBy("t", "ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("event_type")
        .orderBy("t", "ord")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    f = u.select(
        "event_type", "t", "ord",
        F.last("cents", ignorenulls=True).over(back).alias("prev_v"),
        F.last("pt", ignorenulls=True).over(back).alias("prev_t"),
        F.first("cents", ignorenulls=True).over(fwd).alias("next_v"),
        F.first("pt", ignorenulls=True).over(fwd).alias("next_t"),
    ).filter(F.col("ord") == 1)
    interp = F.when(F.col("prev_t") == F.col("t"), F.col("prev_v")).otherwise(
        F.expr(
            "(prev_v * (next_t - t) + next_v * (t - prev_t)) div (next_t - prev_t)"
        )
    )
    return f.select(
        "event_type",
        F.col("t").alias("grid_ms"),
        interp.cast("bigint").alias("interp_cents"),
        (F.col("prev_t") == F.col("t")).alias("is_observed"),
    )


@_q(
    "ts_sax_symbols",
    """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, n,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn
  FROM d
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(n) AS BIGINT) AS s1,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM d GROUP BY event_type
),
paa AS (
  SELECT r.event_type, (rn - 1) // 4 AS window_idx,
         CAST(sum(n) AS BIGINT) AS wsum, CAST(count(*) AS BIGINT) AS wn,
         max(s1) AS s1, max(s2) AS s2, max(nd) AS nd
  FROM r JOIN m ON r.event_type = m.event_type
  GROUP BY r.event_type, (rn - 1) // 4
),
z AS (
  SELECT event_type, window_idx,
         (CAST(wsum AS DOUBLE) / wn - CAST(s1 AS DOUBLE) / nd)
         / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / nd) AS zval
  FROM paa
)
SELECT event_type, CAST(window_idx AS BIGINT) AS window_idx,
       CAST(floor(zval * 1000000) AS BIGINT) AS paa_micro,
       CASE WHEN zval < -0.6745 THEN 'a'
            WHEN zval < 0.0 THEN 'b'
            WHEN zval < 0.6745 THEN 'c'
            ELSE 'd' END AS symbol
FROM z
""",
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh Symbolic Aggregate approXimation)
    of the per-type daily activity series: z-normalize, piecewise-
    aggregate over 4-day windows, discretize against the standard
    N(0,1) quartile breakpoints (±0.6745, 0) into an 'a'–'d'
    alphabet — the representation distributed time-series similarity
    search indexes (cf. the EDBT'19 streaming-similarity line in
    PAPERS.md): symbolic words prefilter candidates, exact distance
    verifies, the same block-then-verify shape as the dedup family.

    Determinism: day counts and the z-score moment sums (n, Σx, Σx²)
    are exact BIGINTs, the z expression tree is identical on both
    engines (bit-identical doubles), PAA means divide exact integers,
    and breakpoints are shared literals — so symbols can only differ
    if a value lands within one ulp of a breakpoint, excluded by the
    driver-checked paa_micro fixed-point column.

    Plan: the stream collapses to (type, day) in one partial-
    aggregated shuffle; the ranking window and PAA regrouping are
    per-series (dim-bounded partitions); moments ride a broadcast."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wd = W.partitionBy("event_type").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(wd).cast("bigint"))
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    paa = (
        r.join(F.broadcast(m), "event_type")
        .groupBy("event_type", F.expr("(rn - 1) div 4").alias("window_idx"))
        .agg(
            F.sum("n").cast("bigint").alias("wsum"),
            F.count(F.lit(1)).cast("bigint").alias("wn"),
            F.max("s1").alias("s1"),
            F.max("s2").alias("s2"),
            F.max("nd").alias("nd"),
        )
    )
    zval = (
        F.col("wsum").cast("double") / F.col("wn")
        - F.col("s1").cast("double") / F.col("nd")
    ) / F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("nd"))
        / F.col("nd")
    )
    sym = (
        F.when(zval < -0.6745, "a")
        .when(zval < 0.0, "b")
        .when(zval < 0.6745, "c")
        .otherwise("d")
    )
    return paa.select(
        "event_type",
        F.col("window_idx").cast("bigint").alias("window_idx"),
        F.floor(zval * 1000000).cast("bigint").alias("paa_micro"),
        sym.alias("symbol"),
    )


@_q(
    "ts_similarity_topk",
    """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
s AS (SELECT user_id, CAST(sum(n * n) AS BIGINT) AS s2 FROM d GROUP BY user_id),
q AS (SELECT user_id AS query_user, day, n AS qn FROM d WHERE user_id < 5),
joint AS (
  SELECT query_user, d.user_id AS neighbor_user,
         CAST(sum(qn * n) AS BIGINT) AS sab
  FROM q JOIN d USING (day)
  WHERE d.user_id != query_user
  GROUP BY query_user, d.user_id
),
dist AS (
  SELECT query_user, neighbor_user,
         sq.s2 + sn.s2 - 2 * sab AS dist2
  FROM joint
  JOIN s sq ON sq.user_id = query_user
  JOIN s sn ON sn.user_id = neighbor_user
),
ranked AS (
  SELECT query_user, neighbor_user, CAST(dist2 AS BIGINT) AS dist2,
         CAST(row_number() OVER (PARTITION BY query_user
                                 ORDER BY dist2, neighbor_user) AS BIGINT) AS rank
  FROM dist
)
SELECT query_user, neighbor_user, dist2, rank FROM ranked WHERE rank <= 5
""",
)
def ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over SPARSE daily-activity
    series (the EDBT'19/REPOSE distributed-similarity family): top-5
    nearest users to each query user by squared Euclidean distance
    between daily event-count series — WITHOUT materializing dense
    day vectors. ‖a−b‖² = Σa² + Σb² − 2·Σ aₔbₔ, so per-user energies
    come from one rollup and the cross term only needs an INVERTED-
    INDEX join on day (pairs sharing no active day are maximally
    distant and never become candidates — the same block-then-verify
    candidate rule the dedup family uses, replayed identically by the
    oracle). Counts are BIGINTs, so distances and the (dist2,
    neighbor) ranking are exact integers.

    Scale: the stream collapses to (user, day) once; the candidate
    join fans out per shared day and re-collapses in a partial-
    aggregated (query, neighbor) sum; query rows broadcast. Day keys
    are naturally balanced; a viral day would salt like
    j_salted_skew_join."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = d.groupBy("user_id").agg(
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2")
    )
    q = F.broadcast(
        d.filter(F.col("user_id") < 5).select(
            F.col("user_id").alias("query_user"), "day", F.col("n").alias("qn")
        )
    )
    joint = (
        q.join(d, "day")
        .filter(F.col("user_id") != F.col("query_user"))
        .groupBy("query_user", F.col("user_id").alias("neighbor_user"))
        .agg(F.sum(F.col("qn") * F.col("n")).cast("bigint").alias("sab"))
    )
    sq = s.select(F.col("user_id").alias("query_user"), F.col("s2").alias("s2q"))
    sn = s.select(F.col("user_id").alias("neighbor_user"), F.col("s2").alias("s2n"))
    dist = (
        joint.join(F.broadcast(sq), "query_user")
        .join(sn, "neighbor_user")
        .select(
            "query_user", "neighbor_user",
            (F.col("s2q") + F.col("s2n") - 2 * F.col("sab")).cast("bigint").alias("dist2"),
        )
    )
    w = W.partitionBy("query_user").orderBy("dist2", "neighbor_user")
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
    )


@_q(
    "a_forecast_seasonal_naive",
    """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
e AS (
  SELECT cur.event_type,
         abs(cur.n - prior.n) AS abs_err
  FROM d cur JOIN d prior
    ON cur.event_type = prior.event_type AND prior.day + INTERVAL 7 DAY = cur.day
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
       CAST((1000000 * sum(abs_err)) // count(*) AS BIGINT) AS mae_micro
FROM e GROUP BY event_type
""",
)
def a_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naïve forecast baseline evaluation: ŷ(d) = y(d−7)
    per event type, scored by MAE over every day with a week-prior
    observation — the baseline any demand/traffic forecasting job
    must beat before a model earns its compute (and the denominator
    of MASE). The 7-day shift is a self EQUI-join on
    (type, day−7d) — not a row-offset lag, so missing days never
    misalign the season — and every quantity (counts, absolute
    errors, the ×1e6 integer-division MAE) is exact BIGINT
    arithmetic.

    Plan: the stream collapses to (type, day) in one partial-
    aggregated shuffle; the shifted self-join and final rollup run on
    the day-grain frame (|types|·|days|), orders of magnitude below
    the input."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cur = d.select("event_type", "day", F.col("n").alias("n_cur"))
    prior = d.select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 7 DAY")).alias("day"),
        F.col("n").alias("n_prior"),
    )
    e = cur.join(prior, ["event_type", "day"]).select(
        "event_type", F.abs(F.col("n_cur") - F.col("n_prior")).alias("abs_err")
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("abs_err").cast("bigint").alias("total_abs_err"),
        F.expr("(1000000 * sum(abs_err)) div count(*)").cast("bigint").alias("mae_micro"),
    )


@_q(
    "dq_table_checksums",
    """
SELECT 'orders' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus), 1, 7) AS BIGINT))
            AS BIGINT) AS checksum
FROM orders
UNION ALL
SELECT 'lineitem',
       CAST(count(*) AS BIGINT),
       CAST(sum(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                 CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag), 1, 7) AS BIGINT))
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer',
       CAST(count(*) AS BIGINT),
       CAST(sum(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|' ||
                 c_mktsegment), 1, 7) AS BIGINT))
            AS BIGINT)
FROM customer
""",
)
def dq_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksums: per table, row count plus
    the BIGINT SUM of a per-row md5-derived 28-bit hash over its key
    columns — the cross-system reconciliation primitive (does the
    warehouse copy equal the lake copy?) that needs no sort, no
    collect, and MERGES: partial sums from any partitioning of the
    data agree, so each side computes its fingerprint independently
    and ships back 16 bytes. Hash inputs are integers and enum
    strings joined with an explicit separator (no float rendering,
    no ambiguity between ('ab','c') and ('a','bc')); the engine-
    portable md5 prefix is the house hash, so both engines — and any
    third system implementing the same recipe — produce identical
    checksums. Sum capacity: 2^28-max hashes × 6e8 rows ≈ 2^57,
    within BIGINT.

    Plan: one map-side hash + partial-aggregated single-row reduce
    per table; the UNION ALL of three one-row frames is free.
    Reference parity: the shape-gate accounting of ETL:1033–1060
    upgraded to content equality."""
    def cks(df: DataFrame, name: str, concat_col: F.Column) -> DataFrame:
        h = F.conv(F.substring(F.md5(concat_col), 1, 7), 16, 10).cast("bigint")
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h).cast("bigint").alias("checksum"),
        ).select("table_name", "n_rows", "checksum")

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    return (
        cks(
            o, "orders",
            F.concat_ws("|", F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"), F.col("o_orderstatus")),
        )
        .unionByName(
            cks(
                li, "lineitem",
                F.concat_ws("|", F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string"), F.col("l_returnflag")),
            )
        )
        .unionByName(
            cks(
                c, "customer",
                F.concat_ws("|", F.col("c_custkey").cast("string"), F.col("c_mktsegment")),
            )
        )
    )


@_q(
    "source_xml_records",
    """
SELECT doc_id, lang,
       md5(text || ' <&">') AS text_md5
FROM documents
""",
)
def source_xml_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-framed XML record source (the log-export/feed layout:
    one `<doc id=".." lang=".."><text>..</text></doc>` element per
    line): written once from the documents table WITH an injected
    `' <&">'` suffix so every XML entity class is actually exercised,
    escaped on write and unescaped on read by native replace chains
    (amp FIRST on escape, LAST on unescape — the order that makes the
    pair a bijection), parsed by a single anchored regexp_extract.
    The differential compares md5(round-tripped text) against
    md5(original || salt) computed from the parquet originals, so a
    broken escape order, a greedy-match slip, or any byte corruption
    breaks the hash.

    Newline-framed → splittable parallel scan (like the text-lines
    and fixed-width sources); parse+unescape is map-only codegen.
    Full nested-DOM XML goes through the executor-side stdlib codec
    instead, as sources/xlsx.py does for its zip+XML container."""
    path, cached = _layout_cache_path(sf_dir, "documents_xml", ["documents"])
    docs = _t(spark, sf_dir, "documents")
    if not cached:
        salted = F.concat(F.col("text"), F.lit(' <&">'))
        esc = salted
        for a, b in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")]:
            esc = F.replace(esc, F.lit(a), F.lit(b))
        line = F.concat(
            F.lit('<doc id="'), F.col("doc_id").cast("string"),
            F.lit('" lang="'), F.col("lang"),
            F.lit('"><text>'), esc, F.lit("</text></doc>"),
        )
        _publish_layout(
            lambda tmp: docs.select(line.alias("value"))
            .write.mode("overwrite")
            .text(tmp),
            path,
        )
    lines = spark.read.text(path)
    pat = r'^<doc id="([0-9]+)" lang="([a-z]+)"><text>(.*)</text></doc>$'
    parsed = lines.select(
        F.regexp_extract("value", pat, 1).cast("bigint").alias("doc_id"),
        F.regexp_extract("value", pat, 2).alias("lang"),
        F.regexp_extract("value", pat, 3).alias("raw"),
    )
    un = F.col("raw")
    for a, b in [("&quot;", '"'), ("&gt;", ">"), ("&lt;", "<"), ("&amp;", "&")]:
        un = F.replace(un, F.lit(a), F.lit(b))
    return parsed.select("doc_id", "lang", F.md5(un).alias("text_md5"))


@_q(
    "a_dow_seasonality",
    """
WITH d AS (
  SELECT event_type,
         (epoch_ms(date_trunc('day', ts)) // 86400000 + 4) % 7 AS dow
  FROM events
),
c AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
  FROM d GROUP BY event_type, dow
),
cc AS (
  SELECT event_type, dow, o,
         sum(o) OVER (PARTITION BY event_type) AS n,
         max(o) OVER (PARTITION BY event_type) AS mx
  FROM c
),
t AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(sum((7 * o - n) * (7 * o - n)) AS BIGINT) AS ss,
         CAST(min(CASE WHEN o = mx THEN dow END) AS BIGINT) AS peak_dow
  FROM cc GROUP BY event_type
)
SELECT event_type, n,
       CAST((1000000 * ss) // (7 * n) AS BIGINT) AS chi2_micro,
       peak_dow
FROM t
""",
)
def a_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality screen: per event type, the χ²
    statistic against a uniform weekly profile plus the peak day —
    the is-there-a-weekly-cycle gate run before any seasonal model
    (cf. a_forecast_seasonal_naive, which assumes the cycle this
    measures). With e = n/7, χ² = Σ(o−e)²/e = Σ(7o−n)² / (7n) — so
    the statistic is a ×1e6 integer division of EXACT BIGINT sums;
    day-of-week itself is the engine-independent epoch-day formula
    ((days since 1970-01-01 + 4) mod 7, Sunday=0), not each engine's
    dayofweek() convention. Peak day ties resolve to the smallest
    dow on both sides.

    Plan: one partial-aggregated shuffle to (type, dow) — 7 rows per
    type — then window/rollup arithmetic on that dim-sized frame."""
    ev = _t(spark, sf_dir, "events")
    dow = (
        F.floor(F.unix_millis(F.date_trunc("day", F.col("ts"))) / 86400000) + 4
    ) % 7
    c = ev.select("event_type", dow.alias("dow")).groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    wt = W.partitionBy("event_type")
    cc = c.select(
        "event_type", "dow", "o",
        F.sum("o").over(wt).alias("n"),
        F.max("o").over(wt).alias("mx"),
    )
    dev = 7 * F.col("o") - F.col("n")
    t = cc.groupBy("event_type", "n").agg(
        F.sum(dev * dev).cast("bigint").alias("ss"),
        F.min(F.when(F.col("o") == F.col("mx"), F.col("dow"))).cast("bigint").alias("peak_dow"),
    )
    return t.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("(1000000 * ss) div (7 * n)").cast("bigint").alias("chi2_micro"),
        "peak_dow",
    )


@_q(
    "a_growth_accounting",
    """
WITH a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
lagged AS (
  SELECT user_id, week,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
  FROM a
),
st AS (
  SELECT week,
         CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN prev_week = week - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN prev_week IS NOT NULL
                        AND prev_week < week - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM lagged GROUP BY week
)
SELECT strftime(cur.week, '%Y-%m-%d') AS week,
       cur.n_active, cur.n_new, cur.n_retained, cur.n_resurrected,
       CAST(coalesce(prev.n_active - cur.n_retained, 0) AS BIGINT) AS n_churned
FROM st cur LEFT JOIN st prev ON prev.week = cur.week - INTERVAL 7 DAY
""",
)
def a_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    decomposition every product-analytics stack reports): each active
    (user, week) is classified by the user's previous active week —
    never seen → new, exactly last week → retained, older → 
    resurrected — and churn(w) = active(w−1) − retained(w) falls out
    of a self-join of the weekly rollup, no per-user lead pass. The
    identity n_active = n_new + n_retained + n_resurrected holds by
    construction (the three cases partition the lag domain), and
    everything is exact integer counts over Monday-truncated weeks.

    Plan: one distinct shuffle to (user, week), one per-user lag
    window, one week rollup; the churn self-join runs on the
    week-grain frame. At 100 TB the distinct is the only input-sized
    exchange."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    wl = W.partitionBy("user_id").orderBy("week")
    lagged = a.withColumn("prev_week", F.lag("week").over(wl))
    wk = F.col("week")
    prev7 = wk - F.expr("INTERVAL 7 DAY")
    st = lagged.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("prev_week") == prev7, 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull() & (F.col("prev_week") < prev7), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_resurrected"),
    )
    cur = st
    prev = st.select(
        (F.col("week") + F.expr("INTERVAL 7 DAY")).alias("week"),
        F.col("n_active").alias("prev_active"),
    )
    return (
        cur.join(prev, "week", "left")
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "n_active", "n_new", "n_retained", "n_resurrected",
            F.coalesce(F.col("prev_active") - F.col("n_retained"), F.lit(0))
            .cast("bigint")
            .alias("n_churned"),
        )
    )


@_q(
    "a_decile_lift",
    """
WITH b AS (
  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
  FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_all
  FROM documents
),
bucketed AS (
  SELECT CAST(1 + (CASE WHEN n_chars > bs[1] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[2] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[3] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[4] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[5] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[6] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[7] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[8] THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars > bs[9] THEN 1 ELSE 0 END) AS BIGINT) AS decile,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM documents CROSS JOIN b
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(is_en) AS BIGINT) AS n_en,
       CAST((1000000 * sum(is_en)) // count(*) AS BIGINT) AS en_rate_micro,
       CAST((1000000 * sum(is_en) * max(n_all)) // (count(*) * max(n_en_all)) AS BIGINT) AS lift_micro
FROM bucketed CROSS JOIN tot
GROUP BY decile
""",
)
def a_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table (the model-evaluation and bias-report
    staple): documents bucketed into length deciles via ONE bounded
    percentile pass + a broadcast comparison chain (a_quantile_
    buckets' scalable global-ntile alternative — no global sort),
    then per-decile English share and its lift over the corpus base
    rate. Rates and lifts are ×1e6 integer divisions of exact counts
    — only the decile BOUNDARIES are doubles, and both engines
    interpolate them from identical integer multisets, so bucket
    membership cannot drift. Ties share a bucket by construction
    (comparison against boundaries, not rank), which is what makes
    the bucketing growth-stable.

    Swap length for any model score and lang for any label and this
    is the lift chart a quality classifier ships with."""
    docs = _t(spark, sf_dir, "documents").select("n_chars", "lang")
    b = docs.agg(
        F.expr(
            "percentile(n_chars, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))"
        ).alias("bs")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_en_all"),
    )
    decile = F.lit(1)
    for i in range(9):
        decile = decile + F.when(
            F.col("n_chars") > F.element_at("bs", i + 1), 1
        ).otherwise(0)
    bucketed = (
        docs.crossJoin(F.broadcast(b))
        .select(
            decile.cast("bigint").alias("decile"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_en").cast("bigint").alias("n_en"),
        F.expr("(1000000 * sum(is_en)) div count(*)").cast("bigint").alias("en_rate_micro"),
        F.expr("(1000000 * sum(is_en) * max(n_all)) div (count(*) * max(n_en_all))")
        .cast("bigint")
        .alias("lift_micro"),
    )


@_q(
    "events_slo_error_budget",
    """
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
m AS (
  SELECT day, n_total, n_err,
         date_trunc('month', day) AS month,
         CAST(sum(n_err) OVER (PARTITION BY date_trunc('month', day) ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_err,
         CAST(sum(n_total) OVER (PARTITION BY date_trunc('month', day) ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_total
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n_total, n_err,
       100 * n_err > 20 * n_total AS day_breach,
       5 * cum_err > cum_total AS budget_exhausted
FROM m
""",
)
def events_slo_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget tracking (the SRE burn-rate report): per day,
    the error share against a 20% SLO (both verdict branches occur on
    this stream) and the month-to-date budget state as a running
    comparison 5·Σerr > Σtotal — every check is an exact BIGINT
    cross-multiplication, so no error RATE is ever computed as a
    float. Daily breach and cumulative exhaustion differ exactly when
    a bad day lands in an otherwise-healthy month, which is the
    signal burn-rate alerting exists for.

    Plan: one partial-aggregated shuffle to day grain; the running
    windows partition by month over the day-grain frame (bounded
    partitions, no global sort)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    month = F.date_trunc("month", F.col("day"))
    wm = W.partitionBy(month).orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    m = d.select(
        "day", "n_total", "n_err",
        F.sum("n_err").over(wm).cast("bigint").alias("cum_err"),
        F.sum("n_total").over(wm).cast("bigint").alias("cum_total"),
    )
    return m.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_total", "n_err",
        (100 * F.col("n_err") > 20 * F.col("n_total")).alias("day_breach"),
        (5 * F.col("cum_err") > F.col("cum_total")).alias("budget_exhausted"),
    )


@_q(
    "a_contingency_chisq",
    """
WITH j AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cell AS (SELECT seg, pri, CAST(count(*) AS BIGINT) AS o FROM j GROUP BY seg, pri),
wr AS (
  SELECT seg, pri, o,
         CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS rt,
         CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT) AS ct,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cell
)
SELECT seg, pri, o,
       CAST(floor(CAST(rt AS DOUBLE) * ct / n * 10000) AS BIGINT) AS expected_tenthousandths,
       CAST(floor((CAST(n AS DOUBLE) * o - CAST(rt AS DOUBLE) * ct)
                  * (CAST(n AS DOUBLE) * o - CAST(rt AS DOUBLE) * ct)
                  / (CAST(n AS DOUBLE) * rt * ct) * 10000) AS BIGINT) AS term_tenthousandths
FROM wr
""",
)
def a_contingency_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence screen: the segment × priority
    χ² decomposition (observed count, expected count under
    independence, and each cell's χ² term) — the "are these two
    dimensions related" analysis behind every cross-tab report.
    Per-cell χ² = (N·o − rt·ct)² / (N·rt·ct): counts and marginals
    are exact BIGINTs from ONE pass (three window sums over the
    |seg|×|pri| cell table share the cell aggregation), and the two
    float quantities are computed by identical pre-cast-double
    expression trees then fixed-pointed — IEEE doubles make both
    engines round the >2⁵³ intermediate products identically.

    Plan: one fact join (dim broadcast), one shuffle to the 25-cell
    table, window marginals on that dim-sized frame."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    cell = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    wr_ = cell.select(
        "seg", "pri", "o",
        F.sum("o").over(W.partitionBy("seg")).cast("bigint").alias("rt"),
        F.sum("o").over(W.partitionBy("pri")).cast("bigint").alias("ct"),
        F.sum("o").over(
            # global-window-ok: input is the seg×pri cell aggregate — ≤5×5 rows
            W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    rtd = F.col("rt").cast("double")
    dev = nd * F.col("o") - rtd * F.col("ct")
    return wr_.select(
        "seg", "pri", "o",
        F.floor(rtd * F.col("ct") / F.col("n") * 10000)
        .cast("bigint")
        .alias("expected_tenthousandths"),
        F.floor(dev * dev / (nd * F.col("rt") * F.col("ct")) * 10000)
        .cast("bigint")
        .alias("term_tenthousandths"),
    )


@_q(
    "dq_pseudonymize",
    """
WITH p AS (
  SELECT DISTINCT user_id,
         substr(md5('pepper-2026:' || CAST(user_id AS VARCHAR)), 1, 14) AS pseudonym
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(DISTINCT pseudonym) AS BIGINT) AS n_pseudonyms,
       CAST(count(*) - count(DISTINCT pseudonym) AS BIGINT) AS n_collisions,
       count(*) = count(DISTINCT pseudonym) AS injective
FROM p
""",
)
def dq_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization audit (the privacy-engineering
    primitive: replace identifiers with a keyed hash so joins still
    work across datasets, but raw ids never leave the boundary): each
    user maps to a 56-bit peppered-md5 pseudonym, and the entry
    REPORTS the injectivity evidence — user count, pseudonym count,
    collision count — rather than assuming it (at 56 bits the
    birthday bound stays negligible into the billions; the audit is
    what tells you when it stops being). The pepper is a literal here;
    in production it is a secret, which changes nothing in the plan.

    Map-only hash + two distinct aggregates; the same expression
    applied to any table's key column pseudonymizes consistently, so
    cross-table joins survive the masking — the property that makes
    this the standard alternative to sequence-renumbering."""
    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.substring(
            F.md5(F.concat(F.lit("pepper-2026:"), F.col("user_id").cast("string"))),
            1, 14,
        ).alias("pseudonym"),
    ).distinct()
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.countDistinct("pseudonym").cast("bigint").alias("n_pseudonyms"),
        (F.count(F.lit(1)) - F.countDistinct("pseudonym"))
        .cast("bigint")
        .alias("n_collisions"),
        (F.count(F.lit(1)) == F.countDistinct("pseudonym")).alias("injective"),
    )


@_q(
    "x_decimal_money_exact",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) * 100 AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) * 100 AS BIGINT) AS sum_price_c,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                * CAST(1 - CAST(l_discount AS DECIMAL(18, 4)) AS DECIMAL(18, 4)))
            * 10000 AS BIGINT) AS sum_disc_price_e4
FROM lineitem GROUP BY l_returnflag
""",
)
def x_decimal_money_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL money arithmetic (the type-discipline twin of
    the float entries' cents fixed-point): quantities and prices cast
    to DECIMAL(18,2/4) at the scan, summed and multiplied in decimal
    space where arithmetic is EXACT and summation order is provably
    irrelevant — what a financial pipeline uses instead of doubles.

    The RESULT columns are BIGINT fixed-point (cents / 1e-4 units),
    not rendered decimals: the r7 driver row hash-failed despite
    byte-identical local values (VERDICT r7 What's-wrong #2 — decimal
    rendering/widening drift between DuckDB builds), so the output is
    representation-proof by construction — an integer has exactly one
    rendering on every engine. The decimal sums are exact multiples of
    their scale unit, so the scale-up multiply and the BIGINT cast are
    lossless, not rounding.

    One partial-aggregable shuffle; decimal aggregation stays inside
    whole-stage codegen (Spark's Decimal128 path), so the exactness
    costs no plan shape."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")).cast("decimal(18,4)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(qty) * F.lit(100)).cast("bigint").alias("sum_qty_c"),
        (F.sum(price) * F.lit(100)).cast("bigint").alias("sum_price_c"),
        (F.sum(price * disc) * F.lit(10000)).cast("bigint").alias("sum_disc_price_e4"),
    )


@_q(
    "a_survival_km",
    """
WITH u AS (
  SELECT user_id,
         date_trunc('day', min(ts)) AS first_d,
         date_trunc('day', max(ts)) AS last_d
  FROM events GROUP BY user_id
),
mx AS (SELECT max(last_d) AS m FROM u),
lab AS (
  SELECT user_id,
         CAST(epoch_ms(last_d) - epoch_ms(first_d) AS BIGINT) / 86400000 AS t,
         last_d <= m - INTERVAL 7 DAY AS died
  FROM u CROSS JOIN mx
),
byt AS (
  SELECT t,
         CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN died THEN 0 ELSE 1 END) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n_at_t
  FROM lab GROUP BY t
),
risk AS (
  SELECT t, d, c,
         CAST((SELECT count(*) FROM lab) AS BIGINT)
         - CAST(coalesce(sum(n_at_t) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM byt
),
lg AS (
  SELECT t, d, c, n_risk,
         CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000000) AS BIGINT) AS l
  FROM risk WHERE d > 0
),
s AS (
  SELECT t, d, c, n_risk,
         CAST(sum(l) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_l
  FROM lg
)
SELECT t, n_risk, d, c,
       CAST(floor(exp(CAST(cum_l AS DOUBLE) / 1000000000) * 1000000) AS BIGINT) AS s_micro
FROM s
""",
)
def a_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of user lifetime (first to last
    active day), with users still active in the final week treated as
    CENSORED — the retention-curve estimator that, unlike the naive
    ECDF, does not count a still-alive user as churned (exactly the
    bias right-censoring exists to fix; the c column shows how many
    censorings each step absorbed).

    Determinism: death/censor counts and at-risk sets are exact
    BIGINTs (at-risk via total − running sum of earlier lifetimes,
    not a per-user scan per step); each hazard factor ln((n−d)/n) is
    fixed-pointed to nano units BEFORE the cumulative sum, so the
    survival product is exp of an exact integer — engine-identical.

    Plan: one shuffle to per-user spans, one to the lifetime-grain
    frame; the running windows and the product run over ≤ |distinct
    lifetimes| rows."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_d"),
        F.date_trunc("day", F.max("ts")).alias("last_d"),
    )
    mx = u.agg(F.max("last_d").alias("m"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        ((F.unix_millis("last_d") - F.unix_millis("first_d")) / 86400000)
        .cast("bigint")
        .alias("t"),
        (F.col("last_d") <= F.col("m") - F.expr("INTERVAL 7 DAY")).alias("died"),
    )
    byt = lab.groupBy("t").agg(
        F.sum(F.when(F.col("died"), 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(F.when(F.col("died"), 0).otherwise(1)).cast("bigint").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n_at_t"),
    )
    total = lab.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    # global-window-ok: input is the weekly-cohort t aggregate — timeline-bounded (weeks)
    wprev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = byt.crossJoin(F.broadcast(total)).select(
        "t", "d", "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at_t").over(wprev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    lg = risk.filter(F.col("d") > 0).select(
        "t", "d", "c", "n_risk",
        F.floor(
            F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk"))
            * 1000000000
        ).cast("bigint").alias("l"),
    )
    # global-window-ok: same weekly-cohort t aggregate — timeline-bounded
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    s = lg.select(
        "t", "d", "c", "n_risk",
        F.sum("l").over(wcum).cast("bigint").alias("cum_l"),
    )
    return s.select(
        "t", "n_risk", "d", "c",
        F.floor(F.exp(F.col("cum_l").cast("double") / 1000000000) * 1000000)
        .cast("bigint")
        .alias("s_micro"),
    )


@_q(
    "a_weighted_median",
    """
WITH wv AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT flag, cents, w,
         CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS total
  FROM wv
)
SELECT flag, total AS w_total,
       CAST(min(CASE WHEN 2 * cum >= total THEN cents END) AS BIGINT) AS wmedian_cents
FROM r GROUP BY flag, total
""",
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (price weighted by quantity, per return flag) —
    the inventory-weighted "typical price" that an unweighted median
    misstates whenever volume correlates with price. No built-in
    exists in either engine; the SCALABLE formulation aggregates to
    the VALUE GRAIN first (one shuffle to (flag, cents) weight sums —
    distinct prices, not line items), then finds the first value
    whose running weight crosses half the total with an integer
    cross-multiplication (2·cum ≥ total — no float share). The
    windows run over the value-grain frame, never the fact table, so
    a 100 TB flag group costs |distinct values| window rows — the
    same reason a_quantile_buckets exists for unweighted quantiles.
    Weights and the lower-weighted-median convention are exact
    BIGINTs throughout."""
    li = _t(spark, sf_dir, "lineitem")
    wv = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    wcum = W.partitionBy("flag").orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = wv.select(
        "flag", "cents",
        F.sum("w").over(wcum).cast("bigint").alias("cum"),
        F.sum("w").over(W.partitionBy("flag")).cast("bigint").alias("total"),
    )
    return r.groupBy("flag", F.col("total").alias("w_total")).agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("cents")))
        .cast("bigint")
        .alias("wmedian_cents"),
    )


@_q(
    "events_cusum_changepoint",
    """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
t AS (
  SELECT day, n,
         CAST(count(*) OVER () AS BIGINT) AS nd,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM d
),
s AS (
  SELECT day, n, nd, total,
         CAST(sum(nd * n - total) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum_scaled
  FROM t
),
mx AS (SELECT max(abs(cusum_scaled)) AS peak FROM s)
SELECT strftime(day, '%Y-%m-%d') AS day, n, cusum_scaled,
       abs(cusum_scaled) = peak AS is_changepoint
FROM s CROSS JOIN mx
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event volume: the
    running sum of deviations from the global mean peaks exactly
    where the series' level shifts (the classic offline CUSUM
    estimator; z-score anomaly flags POINT outliers, this finds the
    LEVEL CHANGE). Scaled by the day count so everything is integer:
    Σ(nd·nᵢ − total) is nd times the usual Σ(nᵢ − mean), the argmax
    is invariant under the scaling, and the peak test compares exact
    BIGINTs — no mean is ever computed as a float.

    Plan: one partial-aggregated shuffle to day grain; the running
    sum and peak run over the day-grain frame."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # global-window-ok: input is the day-grain aggregate — calendar-bounded
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = d.select(
        "day", "n",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("nd"),
        F.sum("n").over(wall).cast("bigint").alias("total"),
    )
    # global-window-ok: same day-grain aggregate — calendar-bounded
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    s = t.select(
        "day", "n",
        F.sum(F.col("nd") * F.col("n") - F.col("total"))
        .over(wcum)
        .cast("bigint")
        .alias("cusum_scaled"),
    )
    mx = s.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("peak"))
    return s.crossJoin(F.broadcast(mx)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n", "cusum_scaled",
        (F.abs(F.col("cusum_scaled")) == F.col("peak")).alias("is_changepoint"),
    )


@_q(
    "events_sma_crossover",
    """
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
w AS (
  SELECT day, cents,
         CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS s5,
         CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS c5,
         CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS s20,
         CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS c20
  FROM d
),
f AS (
  SELECT day, cents, s5, s20, 4 * s5 > s20 AS fast_above,
         lag(4 * s5 > s20) OVER (ORDER BY day) AS prev_above
  FROM w WHERE c20 = 20 AND c5 = 5
)
SELECT strftime(day, '%Y-%m-%d') AS day, cents, s5, s20, fast_above,
       coalesce(fast_above AND NOT prev_above, FALSE) AS golden_cross,
       coalesce(NOT fast_above AND prev_above, FALSE) AS death_cross
FROM f
""",
)
def events_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals (SMA-5 vs SMA-20 on daily
    value, the golden/death-cross trend detector): the comparison
    s5/5 > s20/20 becomes the exact integer cross-multiplication
    4·s5 > s20 — with both windows restricted to FULL frames (c5=5,
    c20=20), the equal-denominator trick holds and no float average
    is ever formed; cross days come from one boolean lag. Per-row
    cents fixed-point keeps the frame sums exact under any order.

    Plan: one partial-aggregated shuffle to day grain; both frame
    windows and the lag share one day-ordered pass over the
    day-grain frame."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # global-window-ok: input is the day-grain aggregate — calendar-bounded
    w5 = W.orderBy("day").rowsBetween(-4, 0)
    w20 = W.orderBy("day").rowsBetween(-19, 0)
    w = d.select(
        "day", "cents",
        F.sum("cents").over(w5).cast("bigint").alias("s5"),
        F.count(F.lit(1)).over(w5).cast("bigint").alias("c5"),
        F.sum("cents").over(w20).cast("bigint").alias("s20"),
        F.count(F.lit(1)).over(w20).cast("bigint").alias("c20"),
    )
    fa = 4 * F.col("s5") > F.col("s20")
    f = (
        w.filter((F.col("c20") == 20) & (F.col("c5") == 5))
        .select("day", "cents", "s5", "s20", fa.alias("fast_above"))
        # global-window-ok: same day-grain aggregate — calendar-bounded
        .withColumn("prev_above", F.lag("fast_above").over(W.orderBy("day")))
    )
    return f.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents", "s5", "s20", "fast_above",
        F.coalesce(F.col("fast_above") & ~F.col("prev_above"), F.lit(False)).alias(
            "golden_cross"
        ),
        F.coalesce(~F.col("fast_above") & F.col("prev_above"), F.lit(False)).alias(
            "death_cross"
        ),
    )


@_q(
    "a_adoption_curve",
    """
WITH fp AS (
  SELECT l_partkey, o_custkey,
         date_trunc('month', min(o_orderdate)) AS first_m
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey, o_custkey
),
top3 AS (
  SELECT l_partkey FROM fp
  GROUP BY l_partkey
  ORDER BY count(*) DESC, l_partkey LIMIT 3
),
m AS (
  SELECT fp.l_partkey, first_m, CAST(count(*) AS BIGINT) AS n_new
  FROM fp JOIN top3 ON fp.l_partkey = top3.l_partkey
  GROUP BY fp.l_partkey, first_m
)
SELECT l_partkey, strftime(first_m, '%Y-%m') AS month, n_new,
       CAST(sum(n_new) OVER (PARTITION BY l_partkey ORDER BY first_m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_adopters
FROM m
""",
)
def a_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product adoption curve: per-month NEW adopters and the
    cumulative adopter count for the three most-adopted parts — the
    "rolling distinct customers" question answered the scalable way:
    a rolling COUNT(DISTINCT) is frame-inexpressible (the same wall
    events_active_users documents), but reducing each (part,
    customer) to its FIRST purchase month makes adoption a plain
    count whose running sum IS the distinct cumulative, exactly.
    All counts and the top-3 cut (buyers DESC, partkey) are exact
    integers.

    Plan: one shuffle to first-purchase grain (partial-aggregated
    min), a dim-sized top-k, and a per-part month rollup + running
    window over the month-grain frame."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    fp = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_partkey", "o_custkey")
        .agg(F.date_trunc("month", F.min("o_orderdate")).alias("first_m"))
    )
    top3 = (
        fp.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_buyers"))
        .orderBy(F.desc("n_buyers"), F.asc("l_partkey"))
        .limit(3)
        .select("l_partkey")
    )
    m = (
        fp.join(F.broadcast(top3), "l_partkey")
        .groupBy("l_partkey", "first_m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    wcum = W.partitionBy("l_partkey").orderBy("first_m").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return m.select(
        "l_partkey",
        F.date_format("first_m", "yyyy-MM").alias("month"),
        "n_new",
        F.sum("n_new").over(wcum).cast("bigint").alias("cum_adopters"),
    )


@_q(
    "a_repeat_purchase_rate",
    """
WITH pc AS (
  SELECT c_mktsegment AS segment, o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
       CAST((1000000 * sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS repeat_rate_micro,
       CAST((1000000 * sum(n_orders)) // count(*) AS BIGINT) AS orders_per_customer_micro
FROM pc GROUP BY segment
""",
)
def a_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate per market segment (the retention KPI
    next to a_growth_accounting's user-level view): share of
    customers with ≥2 orders plus mean orders per customer, both as
    ×1e6 integer divisions of exact counts. Two partial-aggregated
    shuffles — (segment, customer) order counts, then the segment
    rollup — with the dim join broadcast; nothing float, nothing
    input-sized past the first aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pc = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    return pc.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat"),
        F.expr(
            "(1000000 * sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)) div count(*)"
        ).cast("bigint").alias("repeat_rate_micro"),
        F.expr("(1000000 * sum(n_orders)) div count(*)")
        .cast("bigint")
        .alias("orders_per_customer_micro"),
    )


@_q(
    "a_kmv_distinct_sketch",
    """
WITH dh AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh
),
sk AS (SELECT event_type, h FROM r WHERE rn <= 64),
per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS k_eff, CAST(max(h) AS BIGINT) AS kth_hash
  FROM sk GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
),
mr AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM sk)
),
uper AS (
  SELECT CAST(count(*) AS BIGINT) AS k_eff, CAST(max(h) AS BIGINT) AS kth_hash
  FROM mr WHERE rn <= 64
),
uex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT event_type, n_exact, k_eff, kth_hash,
       CAST(CASE WHEN k_eff < 64 THEN k_eff
                 ELSE (CAST(63 AS BIGINT) * 268435456) // kth_hash END AS BIGINT) AS est_distinct
FROM per JOIN ex USING (event_type)
UNION ALL
SELECT '__union__' AS event_type, uex.n_exact, uper.k_eff, uper.kth_hash,
       CAST(CASE WHEN uper.k_eff < 64 THEN uper.k_eff
                 ELSE (CAST(63 AS BIGINT) * 268435456) // uper.kth_hash END AS BIGINT) AS est_distinct
FROM uper CROSS JOIN uex
""",
)
def a_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type,
    PLUS the merged union sketch — the mergeable-cardinality primitive
    behind theta sketches: keep only the k smallest hash values of a
    key; the k-th smallest normalized hash estimates density, so
    distinct ≈ (k−1)/h_(k). Because min-of-mins composes, the union of
    per-segment sketches IS the sketch of the union — the '__union__'
    row is derived from the per-segment sketch ROWS alone, never a
    second pass over the input, which is what makes sketch rollups
    (per-hour → per-day → per-month distincts) O(k) per cell at 100 TB
    where exact COUNT(DISTINCT) re-shuffles the world each time.

    Determinism: the md5-prefix 28-bit hash is the engine-portable
    uniform every sampler entry uses; the estimate
    (k−1)·2²⁸ // h_(k) is a BIGINT division of exact integers, and
    small groups (k_eff < k) degrade to the exact count (the sketch
    holds every value). Exact n_exact per group is kept alongside so
    the error is visible in the output.

    Plan: one distinct shuffle to (type, hash) grain, a per-type
    window over DISTINCT-HASH grain (value grain, not input grain —
    at cluster scale swap for a partial top-k aggregate, the same
    two-phase shape a_two_phase_agg demonstrates), then dim-sized
    aggregates; the union sketch reads the ≤ k·|types| sketch rows."""
    ev = _t(spark, sf_dir, "events")
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
    )
    dh = ev.select("event_type", h.alias("h")).distinct()
    sk = (
        dh.withColumn(
            "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        )
        .filter(F.col("rn") <= 64)
        .select("event_type", "h")
    )
    per = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_eff"),
        F.max("h").cast("bigint").alias("kth_hash"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    est = (
        F.when(F.col("k_eff") < 64, F.col("k_eff"))
        .otherwise(F.expr("(CAST(63 AS BIGINT) * 268435456) div kth_hash"))
        .cast("bigint")
        .alias("est_distinct")
    )
    seg = per.join(ex, "event_type").select(
        "event_type", "n_exact", "k_eff", "kth_hash", est
    )
    uper = (
        sk.select("h")
        .distinct()
        # smallest-64 via orderBy+limit (TakeOrderedAndProject): the
        # old rank-then-filter window sorted every distinct hash
        # through one partition (r11 global-window sweep)
        .orderBy("h")
        .limit(64)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_eff"),
            F.max("h").cast("bigint").alias("kth_hash"),
        )
    )
    uex = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    union_row = uper.crossJoin(uex).select(
        F.lit("__union__").alias("event_type"), "n_exact", "k_eff", "kth_hash", est
    )
    return seg.unionByName(union_row)


@_q(
    "a_hll_registers",
    """
WITH dh AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM events
),
b AS (
  SELECT event_type, h // 1048576 AS bucket, h % 1048576 AS w FROM dh
),
r AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END) AS m
  FROM b GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_present,
         CAST(sum(CAST(1 AS BIGINT) << (21 - m)) AS BIGINT) AS z_present,
         CAST(max(m) AS BIGINT) AS max_register
  FROM r GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT event_type, n_exact,
       CAST(256 - n_present AS BIGINT) AS n_zero_registers,
       max_register,
       CAST(z_present + (256 - n_present) * 2097152 AS BIGINT) AS z_scaled,
       CAST((CAST(718273 AS BIGINT) * 65536 * 2097152)
            // ((z_present + (256 - n_present) * 2097152) * 1000000)
            AS BIGINT) AS est_raw
FROM agg JOIN ex USING (event_type)
""",
)
def a_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register construction per event type, computed
    engine-portably and INTEGER-EXACT end to end: the 28-bit
    md5-prefix hash splits into an 8-bit bucket (m = 256 registers)
    and a 20-bit tail whose leading-zero rank ρ = 21 − bit_length(w)
    (bin() is the engine-portable bit_length: both engines render
    integers without leading zeros); each register keeps max ρ. The
    harmonic denominator Σ 2^−M_j is held as the exact BIGINT
    Σ 2^(21−M_j) (absent registers contribute 2²¹), and the raw
    estimate α₂₅₆·m²/Z uses α₂₅₆ ≈ 0.718273 as a ×1e6 integer so the
    division is a BIGINT // BIGINT both engines agree on to the last
    digit. n_exact sits alongside to make the error visible; the
    linear-counting small-range correction (m·ln(m/V) when zeros
    remain) is deliberately omitted — it would put a transcendental
    float between the engines — and the inputs it needs
    (n_zero_registers) are in the output.

    Where KMV (a_kmv_distinct_sketch) keeps k values, HLL keeps 256
    six-bit registers — the fixed-width mergeable sketch used for
    billions of distinct keys; registers merge by elementwise max, so
    the same rollup algebra applies. Plan: one distinct shuffle to
    (type, hash) grain, partial-aggregated max per (type, bucket) —
    never a window — then a 256-row-per-type rollup."""
    ev = _t(spark, sf_dir, "events")
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
    )
    dh = ev.select("event_type", h.alias("h")).distinct()
    b = dh.select(
        "event_type",
        F.expr("h div 1048576").alias("bucket"),
        (F.col("h") % 1048576).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(21)).otherwise(
        F.lit(21) - F.length(F.bin(F.col("w")))
    )
    r = b.groupBy("event_type", "bucket").agg(F.max(rho).alias("m"))
    agg = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 21 - m)"))
        .cast("bigint")
        .alias("z_present"),
        F.max("m").cast("bigint").alias("max_register"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    z_scaled = (F.col("z_present") + (256 - F.col("n_present")) * 2097152).cast("bigint")
    return agg.join(ex, "event_type").select(
        "event_type",
        "n_exact",
        (256 - F.col("n_present")).cast("bigint").alias("n_zero_registers"),
        "max_register",
        z_scaled.alias("z_scaled"),
        F.expr(
            "(CAST(718273 AS BIGINT) * 65536 * 2097152)"
            " div ((z_present + (256 - n_present) * 2097152) * 1000000)"
        )
        .cast("bigint")
        .alias("est_raw"),
    )


@_q(
    "a_mannwhitney_u",
    """
WITH v AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END AS arm,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
g AS (
  SELECT cents,
         CAST(count(*) FILTER (WHERE arm = 'A') AS BIGINT) AS na_c,
         CAST(count(*) AS BIGINT) AS t
  FROM v GROUP BY cents
),
r AS (
  SELECT na_c, t,
         CAST(coalesce(sum(t) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
  FROM g
),
s AS (
  SELECT CAST(sum(na_c) AS BIGINT) AS n_a,
         CAST(sum(t - na_c) AS BIGINT) AS n_b,
         CAST(sum(na_c * (2 * cumb + t + 1)) AS BIGINT) AS r2_a,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
  FROM r
)
SELECT n_a, n_b,
       CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
       tie_cubes,
       CAST(floor((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
            / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
               * ((n_a + n_b + 1)
                  - CAST(tie_cubes AS DOUBLE)
                    / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))))
            * 10000) AS BIGINT) AS z_tenthousandths
FROM s
""",
)
def a_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test on order value between two market
    segments — the NONPARAMETRIC two-sample test next to
    a_ab_test_ztest's Welch z: it compares distributions by rank, so
    heavy tails and outliers (which order totals have) can't swamp
    it. Everything rank-related is exact: grouping to the VALUE GRAIN
    first (one shuffle to distinct cents with per-arm counts) makes
    tied ranks a per-group constant, and doubling the average-rank
    identity (2·rank̄ = 2·cum_before + t + 1) keeps the rank sum, U
    statistic (u2_a = 2·U_A), and the tie-correction term Σ(t³−t)
    BIGINTs that both engines agree on exactly. Only the final
    normal-approximation z touches doubles — one identical
    expression tree over exact integers, fixed-pointed on output
    (the a_ab_test_ztest convention).

    Plan: broadcast dim join, one partial-aggregated shuffle to cents
    grain, one running window over the value-grain frame (range-
    partition the cum-sum at cluster scale), then a scalar reduce."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    v = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", "A").otherwise("B").alias("arm"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    g = v.groupBy("cents").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("bigint").alias("na_c"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    # distributed exclusive running sum over the value grain (r11
    # global-window sweep: cent-grain cardinality grows with data, so
    # the bare-orderBy window funneled it through ONE partition;
    # operators/rank.global_running_sum is one range shuffle instead)
    from graphql_api_etl_spark.operators.rank import global_running_sum

    r = global_running_sum(
        g, [F.asc("cents")], "t", out_col="cumb", inclusive=False
    ).select("na_c", "t", F.col("cumb").cast("bigint").alias("cumb"))
    s = r.agg(
        F.sum("na_c").cast("bigint").alias("n_a"),
        F.sum(F.col("t") - F.col("na_c")).cast("bigint").alias("n_b"),
        F.sum(F.col("na_c") * (2 * F.col("cumb") + F.col("t") + 1))
        .cast("bigint")
        .alias("r2_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u2_a = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    zval = (
        u2_a.cast("double") - F.col("n_a").cast("double") * F.col("n_b")
    ) / (
        2.0
        * F.sqrt(
            F.col("n_a").cast("double") * F.col("n_b") / 12.0
            * (
                (F.col("n_a") + F.col("n_b") + 1)
                - F.col("tie_cubes").cast("double")
                / (
                    (F.col("n_a") + F.col("n_b")).cast("double")
                    * (F.col("n_a") + F.col("n_b") - 1)
                )
            )
        )
    )
    return s.select(
        "n_a", "n_b",
        u2_a.cast("bigint").alias("u2_a"),
        "tie_cubes",
        F.floor(zval * 10000).cast("bigint").alias("z_tenthousandths"),
    )


@_q(
    "a_gini_concentration",
    """
WITH rev AS (
  SELECT c_mktsegment AS segment, o_custkey,
         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS dollars
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
),
idx AS (
  SELECT segment, dollars,
         CAST(row_number() OVER (PARTITION BY segment
              ORDER BY dollars, o_custkey) AS BIGINT) AS i
  FROM rev
),
s AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dollars) AS BIGINT) AS total,
         CAST(sum(i * dollars) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN i > n2.n - n2.n // 10 THEN dollars ELSE 0 END) AS BIGINT) AS top10
  FROM idx JOIN (SELECT segment AS seg2, CAST(count(*) AS BIGINT) AS n
                 FROM rev GROUP BY segment) n2
    ON idx.segment = n2.seg2
  GROUP BY segment
)
SELECT segment, n AS n_customers, total AS total_dollars,
       CAST(floor(1000000.0 * (2.0 * s1 - (CAST(n AS DOUBLE) + 1) * total)
            / (CAST(n AS DOUBLE) * total)) AS BIGINT) AS gini_micro,
       CAST((1000000 * top10) // total AS BIGINT) AS top10_share_micro
FROM s
""",
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration profile per market segment: the Gini
    coefficient from the sorted-index identity
    G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) plus the top-decile revenue
    share — the inequality KPIs behind a_abc_pareto's class bands.
    Customers reduce to (segment, customer) revenue first (one
    partial-aggregated shuffle), so the ranking window runs over
    CUSTOMER grain, never orders; the rank index is pinned by the
    total order (dollars, custkey), making Σ i·xᵢ a deterministic
    exact BIGINT on any partitioning. The final ratios divide exact
    integers small enough to be double-exact (< 2⁵³) with one
    identical expression tree per engine — the (2·S1 − (n+1)·S)
    numerator stays integral until the last division, and the decile
    share is a pure BIGINT division. Whole dollars, not cents, keep
    Σ i·xᵢ comfortably in BIGINT range at any plausible segment size.

    Plan: broadcast dim join, revenue rollup shuffle, per-segment
    window + count join (broadcast at segment-dim size), one final
    partial-aggregated rollup."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    idx = rev.withColumn(
        "i",
        F.row_number()
        .over(W.partitionBy("segment").orderBy("dollars", "o_custkey"))
        .cast("bigint"),
    )
    n2 = rev.groupBy(F.col("segment").alias("seg2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    s = (
        idx.join(F.broadcast(n2), F.col("segment") == F.col("seg2"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dollars").cast("bigint").alias("total"),
            F.sum(F.col("i") * F.col("dollars")).cast("bigint").alias("s1"),
            F.sum(
                F.when(
                    F.col("i") > F.col("n") - F.expr("n div 10"), F.col("dollars")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("top10"),
        )
    )
    gini = F.floor(
        1000000.0
        * (2.0 * F.col("s1") - (F.col("n").cast("double") + 1) * F.col("total"))
        / (F.col("n").cast("double") * F.col("total"))
    ).cast("bigint")
    return s.select(
        "segment",
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_dollars"),
        gini.alias("gini_micro"),
        F.expr("(1000000 * top10) div total").cast("bigint").alias("top10_share_micro"),
    )
