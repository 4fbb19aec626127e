"""Interval coalescing, Mann-Kendall / Kendall tau-b trend tests,
malformed-record CSV recovery, Kruskal-Wallis, multi-line JSON
ingest with dynamic partition overwrite, drawdown and bitmap
distinct families.

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
# Interval coalescing — merge overlapping supplier shipping windows
# ---------------------------------------------------------------------------

_INTERVAL_COALESCE_SQL = """
WITH iv AS (
  SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE)
           + CAST((1 + (l_orderkey + l_linenumber) % 7) AS INTEGER) AS e
  FROM lineitem WHERE year(l_shipdate) = 1995 AND month(l_shipdate) <= 3
),
o AS (
  SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
),
fl AS (SELECT k, s, e, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS st FROM o),
g AS (
  SELECT k, s, e, sum(st) OVER (PARTITION BY k ORDER BY s, e
           ROWS UNBOUNDED PRECEDING) AS gid
  FROM fl
),
sp AS (
  SELECT k, gid, min(s) AS ss, max(e) AS se, CAST(count(*) AS BIGINT) AS n_iv
  FROM g GROUP BY k, gid
)
SELECT k AS suppkey,
       CAST(sum(n_iv) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(date_diff('day', ss, se) + 1) AS BIGINT) AS covered_days,
       CAST(max(date_diff('day', ss, se) + 1) AS BIGINT) AS max_span_days
FROM sp GROUP BY k
"""


@_q("x_interval_coalesce", _INTERVAL_COALESCE_SQL)
def x_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval COALESCING (union of overlapping/touching date ranges)
    — the missing member of the interval-algebra family next to
    interval JOIN (events_interval_join), range join
    (events_range_join_left) and concurrency (events_max_concurrency):
    per supplier, merge Q1-1995 shipping windows [shipdate, shipdate +
    transit] into maximal busy spans and report interval count, span
    count, covered days, and the longest span. Transit time is a
    deterministic synthesized 1–7 days of (orderkey + linenumber) —
    the operator under test is the merge, exactly as the mm family
    synthesizes payloads (the driver's trimmed lineitem carries no
    receipt date, ETL has no interval surface at all).

    The single-pass formulation every warehouse uses (gaps-and-
    islands): an interval OPENS a new span iff its start exceeds the
    running max end of everything before it in (start, end) order —
    one window max + one running sum per partition, then two
    aggregates; no self-join, no explode-to-days (a day-explode would
    be 90× the rows — correct but 90× the shuffle; covered_days
    falls out of span arithmetic instead). One shuffle on the
    partition key, then partial-aggregable rollups: the shape that
    holds at 100 TB where per-key interval lists are month-bounded.
    Ties on (s, e) are order-insensitive here: an equal-start-equal-
    end twin never opens a span regardless of which sorts first, so
    the emitted frame is engine-exact with no row_number tiebreak
    needed. DATE arithmetic is exact integer days on both sides."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1995) & (F.month("l_shipdate") <= 3)
    )
    iv = li.select(
        F.col("l_suppkey").alias("k"),
        F.col("l_shipdate").cast("date").alias("s"),
        F.expr(
            "date_add(CAST(l_shipdate AS DATE), "
            "CAST(1 + (l_orderkey + l_linenumber) % 7 AS INT))"
        ).alias("e"),
    )
    w = W.partitionBy("k").orderBy("s", "e")
    o = iv.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    )
    fl = o.withColumn(
        "st",
        F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0),
    )
    g = fl.withColumn("gid", F.sum("st").over(w.rowsBetween(W.unboundedPreceding, 0)))
    sp = g.groupBy("k", "gid").agg(
        F.min("s").alias("ss"),
        F.max("e").alias("se"),
        F.count(F.lit(1)).cast("bigint").alias("n_iv"),
    )
    span_days = F.datediff("se", "ss") + F.lit(1)
    return sp.groupBy(F.col("k").alias("suppkey")).agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(span_days).cast("bigint").alias("covered_days"),
        F.max(span_days).cast("bigint").alias("max_span_days"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test — exact-integer S and tie correction
# ---------------------------------------------------------------------------

_MANN_KENDALL_SQL = """
WITH m AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS mon,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
p AS (
  SELECT a.n_name,
         CASE WHEN b.n_orders > a.n_orders THEN 1
              WHEN b.n_orders < a.n_orders THEN -1 ELSE 0 END AS sg
  FROM m a JOIN m b ON a.n_name = b.n_name AND a.mon < b.mon
),
s AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sg) AS BIGINT) AS s_stat
      FROM p GROUP BY n_name),
ties AS (
  SELECT n_name, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT n_name, n_orders, CAST(count(*) AS BIGINT) AS t
        FROM m GROUP BY n_name, n_orders)
  WHERE t > 1 GROUP BY n_name
),
nm AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_months FROM m GROUP BY n_name)
SELECT nm.n_name AS nation, nm.n_months, s.s_stat, s.n_pairs,
       coalesce(ties.tie_term, 0) AS tie_term
FROM nm JOIN s ON nm.n_name = s.n_name
LEFT JOIN ties ON nm.n_name = ties.n_name
"""


@_q("a_mann_kendall", _MANN_KENDALL_SQL)
def a_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per nation over monthly order counts —
    the nonparametric is-there-a-monotonic-trend test that pairs with
    the Theil–Sen slope entry (events_theilsen_trend estimates the
    slope; Mann–Kendall's S says whether to believe it). S = Σ_{i<j}
    sign(x_j − x_i) over month pairs plus the tie correction term
    Σ t(t−1)(2t+5) a variance computation needs — ALL exact BIGINTs
    (the metric is an order COUNT, never a float, so sign() can't
    waver on engine-specific float summation; z-scoring is one driver-
    side division away and deliberately left out of the frame).

    Plan: one month-grain rollup (two broadcast dim joins + partial
    agg), then the sign pair join per nation — C(n_months, 2) ≈ 3 k
    rows per key, bounded by the CALENDAR not the fact table, the
    same per-key-series shape as the lag/xcorr entries; a century of
    monthly data is 720 k pairs per key. Tie groups and month counts
    are two more tiny aggregates on the rollup."""
    m = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(_t(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .localCheckpoint(eager=True)
    )
    a, b = m.alias("a"), m.alias("b")
    # the rollup is |nations|·|months| rows at ANY fact-table scale —
    # broadcast the pair join's right side instead of letting the
    # planner sort-merge a calendar-bounded frame
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.n_name") == F.col("b.n_name")) & (F.col("a.mon") < F.col("b.mon")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        F.when(F.col("b.n_orders") > F.col("a.n_orders"), 1)
        .when(F.col("b.n_orders") < F.col("a.n_orders"), -1)
        .otherwise(0)
        .alias("sg"),
    )
    s = pairs.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("sg").cast("bigint").alias("s_stat"),
    )
    ties = (
        m.groupBy("n_name", "n_orders")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nm = m.groupBy("n_name").agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return (
        nm.join(F.broadcast(s), "n_name")
        .join(F.broadcast(ties), "n_name", "left")
        .select(
            F.col("n_name").alias("nation"),
            "n_months",
            "s_stat",
            "n_pairs",
            F.coalesce("tie_term", F.lit(0)).cast("bigint").alias("tie_term"),
        )
    )


# ---------------------------------------------------------------------------
# Malformed-record recovery — PERMISSIVE CSV ingest with a corrupt channel
# ---------------------------------------------------------------------------

_CSV_CORRUPT_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         (o_orderkey % 37 = 0) AS corrupt
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE NOT corrupt) AS BIGINT) AS n_good,
       CAST(count(*) FILTER (WHERE corrupt) AS BIGINT) AS n_corrupt,
       round(sum(o_totalprice) FILTER (WHERE NOT corrupt), 2) AS good_total
FROM o GROUP BY o_orderpriority
"""


@_q("source_csv_corrupt_recovery", _CSV_CORRUPT_SQL)
def source_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record RECOVERY on CSV ingest — the source-robustness
    surface the clean roundtrip entries (jsonl/orc/text/fixed-width)
    never exercise, and a daily reality at 100 TB: a landing file is
    written with every 37th order's numeric column corrupted to a
    non-numeric token, then read back under PERMISSIVE mode with a
    DECLARED schema and a ``columnNameOfCorruptRecord`` channel — bad
    rows surface as (NULL fields + raw line) instead of failing the
    job or silently coercing. The entry accounts for both channels
    per priority class: corrupt rows keep their parseable priority
    column (CSV recovery is per-FIELD: only the poisoned numeric is
    NULL) but are counted via the corrupt-record column, and the good
    rows' totals must match the raw table's — proving recovery loses
    nothing and coerces nothing.

    Scale shape: line-splittable scan, per-row recovery is free in
    the parser, one partial-aggregable rollup; the corrupt channel
    costs one string column only on bad rows. The oracle replays the
    corruption rule arithmetically (key % 37)."""
    # version=2: the v1 writer used format_number (thousands separators
    # corrupted every field); data fingerprints alone can't see that
    path, cached = _layout_cache_path(sf_dir, "orders_badcsv", ["orders"], version=2)
    orders = _t(spark, sf_dir, "orders")
    if not cached:
        _publish_layout(
            lambda tmp: orders.select(
                F.concat_ws(
                    ",",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderpriority"),
                    F.when(F.col("o_orderkey") % 37 == 0, F.lit("NOT_A_NUMBER"))
                    .otherwise(F.format_string("%.2f", F.col("o_totalprice")))
                    .alias("p"),
                )
            ).write.mode("overwrite").text(tmp),
            path,
        )
    schema = (
        "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE, "
        "_corrupt STRING"
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return raw.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.round(F.sum(F.when(F.col("_corrupt").isNull(), F.col("o_totalprice"))), 2).alias(
            "good_total"
        ),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis rank sums — k-group nonparametric location test inputs
# ---------------------------------------------------------------------------

_KRUSKAL_SQL = """
WITH c AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cg FROM c GROUP BY grp, v),
vals AS (SELECT v, CAST(sum(cg) AS BIGINT) AS t FROM gv GROUP BY v),
cum AS (
  SELECT v, t,
         CAST(coalesce(sum(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
  FROM vals
),
ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubic FROM vals),
g AS (
  SELECT grp, CAST(sum(cg) AS BIGINT) AS n,
         CAST(sum(cg * (2 * below + t + 1)) AS BIGINT) AS sum_double_rank
  FROM gv JOIN cum USING (v) GROUP BY grp
)
SELECT grp AS priority, n, sum_double_rank, tie_cubic
FROM g CROSS JOIN ties
"""


@_q("a_kruskal_wallis", _KRUSKAL_SQL)
def a_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis inputs per order-priority class — the k-group
    generalization of a_mannwhitney_u (does SOME priority class price
    differently?): per group the exact DOUBLED rank sum (2·rank̄ =
    2·cum_before + t + 1, the tie identity Spearman/Mann–Whitney use)
    and globally the tie-correction cubic Σ(t³ − t) the H statistic's
    denominator needs — H itself is one driver-side expression over
    these BIGINTs (H = [12/(N(N+1))]·Σ R̄ⱼ²/nⱼ − 3(N+1), tie-divided),
    deliberately left out of the frame: Σ Rⱼ² would square past int64
    at sf0.1's N≈150 k while the per-group SUMS stay exact at any N.

    Plan: the a_spearman_corr discipline — rank arithmetic at VALUE
    grain (one window over the distinct-price frame; the fact table
    is never windowed), the (group, value) count frame joins the
    cumulative map back, and everything reduces with partial
    aggregation. Exact integers end to end; ties are heavy at cent
    grain and the cubic term is genuinely non-zero."""
    c = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    gv = c.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
    vals = gv.groupBy("v").agg(F.sum("cg").cast("bigint").alias("t"))
    # r11 global-window sweep: distributed exclusive cumsum over the
    # value grain (operators/rank.global_running_sums).
    from graphql_api_etl_spark.operators.rank import global_running_sums

    cum = global_running_sums(
        vals, [F.asc("v")], {"below_raw": "t"}, inclusive=False
    ).select("v", "t", F.col("below_raw").cast("bigint").alias("below"))
    ties = vals.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubic")
    )
    g = (
        gv.join(cum, "v")
        .groupBy("grp")
        .agg(
            F.sum("cg").cast("bigint").alias("n"),
            F.sum(F.col("cg") * (2 * F.col("below") + F.col("t") + 1))
            .cast("bigint")
            .alias("sum_double_rank"),
        )
    )
    return g.crossJoin(F.broadcast(ties)).select(
        F.col("grp").alias("priority"), "n", "sum_double_rank", "tie_cubic"
    )


# ---------------------------------------------------------------------------
# Kendall tau-b — exact-integer concordance census (r8)
# ---------------------------------------------------------------------------

_KENDALL_TAU_SQL = """
WITH m AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS mon,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
p AS (
  SELECT a.n_name,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
  FROM m a JOIN m b ON a.n_name = b.n_name AND a.mon < b.mon
)
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
       CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
       CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_x,
       CAST(sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_y,
       CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_both
FROM p GROUP BY n_name
"""


@_q("a_kendall_tau", _KENDALL_TAU_SQL)
def a_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b concordance census per nation between the two
    monthly series the Mann-Kendall / Theil-Sen entries use one of:
    order count (x) vs revenue cents (y). Emits the five exact pair
    classes — concordant, discordant, x-only tie, y-only tie, both
    tied — from which tau-b is one driver-side expression
    ((nc − nd) / sqrt((n0−n1)(n0−n2))); the frame itself never floats,
    the same discipline as a_mann_kendall (sign() over exact BIGINTs
    cannot waver on engine-specific float summation; revenue is cents).

    Plan: month-grain rollup (broadcast dims + partial agg), then the
    C(n_months, 2) pair join per nation, broadcast on the right —
    bounded by the CALENDAR, not the fact table, like the Mann-Kendall
    and lead-lag entries. Spearman (a_spearman_corr) ranks VALUES;
    Kendall counts PAIR INVERSIONS — complementary rank statistics."""
    m = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(_t(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    a, b = m.alias("a"), m.alias("b")
    sgn = lambda l, r: F.when(r > l, 1).when(r < l, -1).otherwise(0)  # noqa: E731
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.n_name") == F.col("b.n_name")) & (F.col("a.mon") < F.col("b.mon")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        sgn(F.col("a.x"), F.col("b.x")).alias("sx"),
        sgn(F.col("a.y"), F.col("b.y")).alias("sy"),
    )
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return pairs.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        c(F.col("sx") * F.col("sy") == 1).alias("n_concordant"),
        c(F.col("sx") * F.col("sy") == -1).alias("n_discordant"),
        c((F.col("sx") == 0) & (F.col("sy") != 0)).alias("n_tie_x"),
        c((F.col("sy") == 0) & (F.col("sx") != 0)).alias("n_tie_y"),
        c((F.col("sx") == 0) & (F.col("sy") == 0)).alias("n_tie_both"),
    )


# ---------------------------------------------------------------------------
# Multi-line JSON source + dynamic partition overwrite sink (r8)
# ---------------------------------------------------------------------------

_JSON_MULTILINE_SQL = """
SELECT o_orderpriority AS prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE o_orderkey % 101 = 0
GROUP BY o_orderpriority
"""


@_q("source_json_multiline", _JSON_MULTILINE_SQL)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line JSON source (one pretty-printed ARRAY per file — the
    API-export / config-dump shape): unlike JSONL (source_jsonl_
    roundtrip), records span lines, so the reader MUST parse whole
    documents (``multiLine=true``) — the mode where Spark gives up
    line-level splitting and parallelizes per FILE. The landing file
    is written with the stdlib json module from a deterministic ~1%
    order subset (integer cents — no float rendering in the fixture),
    so the differential checks Spark's document-mode JSON parser
    against the parquet originals, not one JSON writer against itself.

    Scale note stated by the entry itself: a multi-line JSON file is
    one task — the 100 TB answer is many files (or JSONL), and this
    single-fixture scan is the documented worst case, not the
    recommended layout."""
    import json as _json
    import os as _os

    path, cached = _layout_cache_path(sf_dir, "orders_json_multiline", ["orders"])
    if not cached:
        rows = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 101 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("prio"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            )
            .collect()  # bounded: ~1% of orders, a fixture write
        )

        def _build(tmp: str) -> None:
            _os.makedirs(tmp, exist_ok=True)
            doc = [{"k": r["k"], "prio": r["prio"], "cents": r["cents"]} for r in rows]
            with open(_os.path.join(tmp, "orders.json"), "w") as f:
                _json.dump(doc, f, indent=2)  # records SPAN lines
            open(_os.path.join(tmp, "_SUCCESS"), "w").close()

        _publish_layout(_build, path)
    j = spark.read.option("multiLine", "true").json(path)
    return j.groupBy(F.col("prio")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


_DPO_SQL = """
WITH base AS (
  SELECT o_orderpriority, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
final AS (
  SELECT * FROM base WHERE o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT * FROM base WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
)
SELECT o_orderpriority AS prio,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM final GROUP BY o_orderpriority
"""


@_q("sink_dynamic_partition_overwrite", _DPO_SQL)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite semantics — the idempotent-backfill
    sink contract every partitioned lake job relies on: with
    ``spark.sql.sources.partitionOverwriteMode=dynamic``, an
    ``overwrite`` write replaces ONLY the partitions present in the
    incoming frame and leaves every other partition's files untouched
    (static mode would truncate the whole table first — the classic
    lost-data footgun). The fixture writes all five priority
    partitions, then overwrites just '1-URGENT' with its even-key
    subset; the differential checks the FINAL table state, so both a
    too-wide overwrite (other partitions truncated) and a too-narrow
    one (old urgent files surviving) break the match.

    The conf is set around the write and restored — at scale this is
    a per-job writer option, not a session default."""
    import shutil as _shutil

    path, cached = _layout_cache_path(sf_dir, "orders_dpo", ["orders"])
    if not cached:
        base = _t(spark, sf_dir, "orders").select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )

        def _build(tmp: str) -> None:
            _shutil.rmtree(tmp, ignore_errors=True)
            base.write.partitionBy("o_orderpriority").mode("overwrite").parquet(tmp)
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (
                    base.filter(
                        (F.col("o_orderpriority") == "1-URGENT")
                        & (F.col("o_orderkey") % 2 == 0)
                    )
                    .write.partitionBy("o_orderpriority")
                    .mode("overwrite")
                    .parquet(tmp)
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

        _publish_layout(_build, path)
    final = spark.read.parquet(path)
    return final.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown — exact-cents running-peak window arithmetic (r8)
# ---------------------------------------------------------------------------

_MAX_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT n_name, date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= DATE '1997-01-01'
  GROUP BY 1, 2
),
cum AS (
  SELECT n_name, d,
         CAST(sum(cents - 400000) OVER
              (PARTITION BY n_name ORDER BY d) AS BIGINT) AS equity
  FROM daily
),
dd AS (
  SELECT n_name, d, equity,
         CAST(max(equity) OVER
              (PARTITION BY n_name ORDER BY d) AS BIGINT) AS peak
  FROM cum
)
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(peak - equity) AS BIGINT) AS max_drawdown_cents,
       CAST(max(equity) AS BIGINT) AS final_peak_cents
FROM dd GROUP BY n_name
"""


@_q("events_max_drawdown", _MAX_DRAWDOWN_SQL)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per nation — the risk metric every financial /
    SLO time series wants: deepest peak-to-trough drop of a cumulative
    equity curve (daily revenue cents minus a fixed burn), i.e.
    ``max over t of (running-peak − equity_t)``. Inexpressible as one
    aggregate (it nests two prefix scans) but exactly two stacked
    window functions: running SUM for the equity curve, running MAX
    for the peak, then one ordinary aggregate over their difference —
    no self-join, no per-key sort beyond the one shuffle both windows
    share (same partitionBy+orderBy ⇒ one Window exchange+sort).

    All arithmetic is exact BIGINT cents (the ewma_trailing_cents
    discipline), so prefix sums are order-deterministic and the
    differential is a value hash, not a tolerance check. At 100 TB the
    day-grain rollup absorbs the fact table; the window runs on a
    |keys|×|days| frame."""
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .join(
            F.broadcast(_t(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = W.partitionBy("n_name").orderBy("d")
    cum = daily.withColumn(
        "equity",
        F.sum(F.col("cents") - F.lit(400000)).over(w).cast("bigint"),
    )
    dd = cum.withColumn("peak", F.max("equity").over(w).cast("bigint"))
    return dd.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max(F.col("peak") - F.col("equity")).cast("bigint").alias("max_drawdown_cents"),
        F.max("equity").cast("bigint").alias("final_peak_cents"),
    )


# ---------------------------------------------------------------------------
# Bitmap-accelerated distinct counting (r8) — Spark's bitmap aggregate
# family (3.5+), the warehouse technique for exact COUNT(DISTINCT) at
# scale without the distinct-explosion shuffle
# ---------------------------------------------------------------------------

_BITMAP_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@_q("a_bitmap_distinct", _BITMAP_DISTINCT_SQL)
def a_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via Spark's BITMAP aggregate
    family (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count, SQL since 3.5) — the
    warehouse-native alternative to COUNT(DISTINCT): keys map to
    (bucket, bit) positions, each group×bucket folds into a 4 KB
    bitmap on the map side, and the final count is a popcount SUM.
    The aggregation is ASSOCIATIVE (bitmaps OR together), so unlike
    count(distinct) it composes with partial aggregation, rollup
    layers, and incremental refresh — precisely why bitmap indexes are
    the standard exact-distinct path at 100 TB, and the exact
    complement to the HLL sketch entries (a_approx_count_distinct,
    a_hll_registers): same shape, no error bound.

    The oracle is plain COUNT(DISTINCT) — a green row proves the whole
    bucket/bit/popcount pipeline loses and invents nothing. n_events
    rides along from the same pass (a second aggregate, not a second
    scan)."""
    ev = _t(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
            F.lit(1).alias("one"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n_distinct"),
            F.sum("one").cast("bigint").alias("n_rows"),
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("n_distinct").cast("bigint").alias("n_users"),
        F.sum("n_rows").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# CSV writer/reader quoting roundtrip (r8) — the egress surface the
# clean-data entries never stress
# ---------------------------------------------------------------------------

# NOTE: the \n below is interpreted by PYTHON (non-raw string), so the
# SQL literal contains a REAL newline inside the quotes — matching the
# real newline Spark's F.lit(",\nx") injects. Do not "fix" it to \\n:
# DuckDB regular string literals do not interpret backslash escapes.
_CSV_ROUNDTRIP_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       concat('v"', substr(text, 1, 20), ',\nx') AS hostile
FROM documents WHERE doc_id % 7 = 0
"""


@_q("sink_csv_roundtrip", _CSV_ROUNDTRIP_SQL)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink→source roundtrip under HOSTILE field content: every
    value is wrapped with an embedded double quote, comma, and literal
    newline — the three characters that break naive CSV emitters —
    then written by Spark's CSV sink (RFC-4180 quoting) and read back
    with ``multiLine=true`` (quoted newlines span physical lines, so
    line-splitting parallelism is forfeit: same documented trade-off
    as source_json_multiline). The differential compares the ROUNDTRIP
    against the parquet-derived oracle, so a quoting, escaping, or
    newline-handling bug on either side of the sink/source pair breaks
    the value hash — this is the egress surface the reference's seven
    CSV report sinks (ETL:K1) rely on and no clean-data entry
    stresses.

    The landing dir is layout-cached (fingerprinted; one write per
    testdata generation). escape='"' pins RFC-4180 doubled-quote
    style explicitly — Spark's default escape is backslash, which
    DuckDB-style readers would misparse."""
    path, cached = _layout_cache_path(sf_dir, "docs_csv_hostile", ["documents"])
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    hostile = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.concat(
            F.lit('v"'), F.substring("text", 1, 20), F.lit(",\nx")
        ).alias("hostile"),
    )
    if not cached:
        _publish_layout(
            lambda tmp: hostile.write.mode("overwrite")
            .option("header", "true")
            .option("quoteAll", "true")
            .option("escape", '"')
            .csv(tmp),
            path,
        )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("doc_id bigint, n_chars bigint, hostile string")
        .csv(path)
    )
    return back
