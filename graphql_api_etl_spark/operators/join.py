"""Join library: full-outer merge with per-row provenance, plus
anti/semi/cross wrappers.

The reference's signature relational pattern is pandas
``merge(..., how="outer", indicator=True)`` followed by slicing the
``_merge`` column into ``both`` / ``left_only`` / ``right_only``
(ETL:391–425, 482–511, 531–550, 805–817, 845–862; every reconciliation
report is produced this way). :func:`outer_merge` reproduces it as ONE
full-outer join that emits a ``_merge`` provenance column — the join
shuffles once, and the three downstream slices are cheap filters over
the same exchange — but only if the merge is evaluated once: the
weekly sync checkpoints each merge it reads more than once through
``pipelines.weekly_alignments.Materializer`` before slicing it.

Provenance is computed from presence-flag literals tagged onto each
side BEFORE the join (``_left_present = lit(True)``), not from key
nullability — this keeps the semantics correct even when join keys
themselves contain NULLs (a NULL key never matches in SQL, so such a
row is left_only/right_only; checking ``r.key IS NULL`` after the join
would mis-classify a matched row carrying a NULL payload key only if
keys could be NULL on a matched row, which presence flags rule out by
construction).

Scale notes: full-outer joins cannot broadcast in Spark (both sides
must be complete), so at 100 TB this is a sort-merge join; AQE skew
handling is on in our session factory. When one side is dimension-
sized and provenance of the big side only is needed, prefer
``left_outer`` + flag (broadcastable) — helper ``left_merge``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERGE_BOTH = "both"
MERGE_LEFT = "left_only"
MERGE_RIGHT = "right_only"

_LFLAG = "__left_present__"
_RFLAG = "__right_present__"


def _normalize_on(
    on: str | Sequence[str] | None,
    left_on: str | Sequence[str] | None,
    right_on: str | Sequence[str] | None,
) -> tuple[list[str], list[str]]:
    if on is not None:
        keys = [on] if isinstance(on, str) else list(on)
        return keys, keys
    if left_on is None or right_on is None:
        raise ValueError("provide either `on` or both `left_on` and `right_on`")
    lk = [left_on] if isinstance(left_on, str) else list(left_on)
    rk = [right_on] if isinstance(right_on, str) else list(right_on)
    if len(lk) != len(rk):
        raise ValueError("left_on and right_on must have equal length")
    return lk, rk


def _disambiguate(left: DataFrame, right: DataFrame, lsuffix: str, rsuffix: str) -> tuple[DataFrame, DataFrame]:
    """Suffix colliding column names (pandas auto-suffixes ``_x``/``_y``;
    Spark requires explicit renames — SURVEY.md §7 hard part 1)."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        left = left.withColumnsRenamed({c: f"{c}{lsuffix}" for c in overlap})
        right = right.withColumnsRenamed({c: f"{c}{rsuffix}" for c in overlap})
    return left, right


def outer_merge(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | None = None,
    left_on: str | Sequence[str] | None = None,
    right_on: str | Sequence[str] | None = None,
    lsuffix: str = "_x",
    rsuffix: str = "_y",
    merge_col: str = "_merge",
) -> DataFrame:
    """Full-outer join with a pandas-style ``_merge`` provenance column.

    Key columns are NOT coalesced (both sides' keys survive, suffixed on
    collision), matching ``pd.merge(left_on=..., right_on=...)``.
    """
    lk, rk = _normalize_on(on, left_on, right_on)
    left, right = _disambiguate(left, right, lsuffix, rsuffix)
    suffix_map_l = {k: f"{k}{lsuffix}" for k in lk}
    suffix_map_r = {k: f"{k}{rsuffix}" for k in rk}
    lk = [suffix_map_l[k] if suffix_map_l[k] in left.columns else k for k in lk]
    rk = [suffix_map_r[k] if suffix_map_r[k] in right.columns else k for k in rk]

    ltag = left.withColumn(_LFLAG, F.lit(True))
    rtag = right.withColumn(_RFLAG, F.lit(True))
    cond = None
    for a, b in zip(lk, rk):
        c = ltag[a] == rtag[b]
        cond = c if cond is None else (cond & c)
    joined = ltag.join(rtag, cond, "full_outer")
    provenance = (
        F.when(F.col(_LFLAG) & F.col(_RFLAG), F.lit(MERGE_BOTH))
        .when(F.col(_LFLAG), F.lit(MERGE_LEFT))
        .otherwise(F.lit(MERGE_RIGHT))
    )
    return joined.withColumn(merge_col, provenance).drop(_LFLAG, _RFLAG)


def _broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in BYTES, resolved the
    way Spark itself resolves it: through the JVM conf reader, which
    understands unit-suffixed values ('10m', '100k') that a plain
    int() on the raw conf string would reject (r12 ADVICE — the old
    int() fallback silently substituted 64 MiB, so auto mode could
    force-broadcast frames far over the configured budget). Falls back
    to Spark's 10 MiB default only when no JVM gateway is reachable."""
    try:
        return int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:  # no JVM gateway (mocked session): parse ourselves
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "")).strip()
        import re

        m = re.fullmatch(r"(-?\d+)\s*([kmgt]?)b?", raw.lower())
        if m:
            return int(m.group(1)) * 1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[m.group(2)]
        return 10 * 1024 * 1024


def left_merge(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | None = None,
    left_on: str | Sequence[str] | None = None,
    right_on: str | Sequence[str] | None = None,
    lsuffix: str = "_x",
    rsuffix: str = "_y",
    merge_col: str = "_merge",
    broadcast_right: bool | str = "auto",
) -> DataFrame:
    """Left-outer variant (provenance ∈ {both, left_only}) — broadcastable
    when the right side is dimension-sized; the scale-path alternative to
    :func:`outer_merge` when right_only rows are not needed.

    ``broadcast_right`` (r12): ``"auto"`` (default) broadcasts only
    when Catalyst's own size estimate fits the session broadcast
    threshold — a FORCED broadcast hint overrides Spark's size check,
    so the old always-``True`` default was a driver/executor OOM
    hazard the first time a caller passed a fact-scale right side.
    ``True`` forces the hint (caller knows better than the estimate,
    e.g. a post-filter dim Catalyst can't size); ``False`` never
    hints (SMJ, AQE may still convert at runtime)."""
    lk, rk = _normalize_on(on, left_on, right_on)
    left, right = _disambiguate(left, right, lsuffix, rsuffix)
    lk = [f"{k}{lsuffix}" if f"{k}{lsuffix}" in left.columns else k for k in lk]
    rk = [f"{k}{rsuffix}" if f"{k}{rsuffix}" in right.columns else k for k in rk]
    rtag = right.withColumn(_RFLAG, F.lit(True))
    if broadcast_right == "auto":
        threshold = _broadcast_threshold_bytes(right.sparkSession)
        size = int(right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        broadcast_right = 0 <= size <= threshold if threshold > 0 else False
    if broadcast_right:
        rtag = F.broadcast(rtag)
    cond = None
    for a, b in zip(lk, rk):
        c = left[a] == rtag[b]
        cond = c if cond is None else (cond & c)
    joined = left.join(rtag, cond, "left_outer")
    provenance = F.when(F.col(_RFLAG), F.lit(MERGE_BOTH)).otherwise(F.lit(MERGE_LEFT))
    return joined.withColumn(merge_col, provenance).drop(_RFLAG)


def split_by_provenance(merged: DataFrame, merge_col: str = "_merge") -> tuple[DataFrame, DataFrame, DataFrame]:
    """(both, left_only, right_only) slices of an :func:`outer_merge`
    result — the reference's three-way consumption (ETL:422–425)."""
    return (
        merged.filter(F.col(merge_col) == MERGE_BOTH),
        merged.filter(F.col(merge_col) == MERGE_LEFT),
        merged.filter(F.col(merge_col) == MERGE_RIGHT),
    )


def anti(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no key-match in ``right`` (reference J8/J9:
    ``not in`` list comprehension ETL:957–960, index-isin negation
    ETL:889–891). Broadcast-friendly: Spark can broadcast the right side
    of a left-anti join."""
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right, keys, "left_anti")


def semi(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with a key-match in ``right`` (reference F4's
    large-list membership filters, e.g. ``Location.isin(...)`` ETL:441)."""
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right, keys, "left_semi")


def cross(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cartesian product (reference J6/J7 nested loops, ETL:881–886,
    948–955). Small×small in the reference; at scale broadcast the
    smaller side (crossJoin broadcasts automatically under AQE when one
    side fits)."""
    return left.crossJoin(right)


def lookup_replace(
    df: DataFrame,
    column: str,
    mapping: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Dict-replace semantics (reference J10/P6: ``Series.replace(dict)``
    ETL:636–647): value found in the mapping → mapped value, else the
    original. Broadcast hash join, no shuffle of ``df``."""
    m = F.broadcast(mapping.select(F.col(key_col).alias("__k__"), F.col(value_col).alias("__v__")))
    out = df.join(m, df[column] == m["__k__"], "left_outer")
    return out.withColumn(column, F.coalesce(F.col("__v__"), F.col(column))).drop("__k__", "__v__")
