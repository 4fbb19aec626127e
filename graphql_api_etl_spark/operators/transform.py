"""Row-level transform library (reference P1–P7, F1–F9, X1–X9 — all
native expressions, zero Python UDFs; SURVEY.md §2.9 policy).

Each helper reproduces one of the reference's pandas idioms with a
declarative equivalent that Catalyst can push down / prune / codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conditional_update(df: DataFrame, column: str, cond: Column, value: Column | str) -> DataFrame:
    """Masked assignment (P5: ``df.loc[mask, col] = value`` — the
    supervisor-email backfill ETL:759–771, zip-split ETL:331–332)."""
    val = F.lit(value) if isinstance(value, str) else value
    return df.withColumn(column, F.when(cond, val).otherwise(F.col(column)))


def dict_replace(df: DataFrame, column: str, mapping: dict[str, str]) -> DataFrame:
    """Small-dict value substitution (P6: ``Series.replace(dict)``
    ETL:636–638). For literal dicts a ``map`` expression beats a join;
    large mappings should use join.lookup_replace (broadcast join)."""
    if not mapping:
        return df
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return df.withColumn(column, F.coalesce(m.getItem(F.col(column)), F.col(column)))


def numeric_coerce(df: DataFrame, column: str, out_type: str = "double") -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` (X6, ETL:333): non-numeric →
    NULL. ``try_cast`` keeps this semantics under ANSI mode (Spark 4
    default), where a plain cast would raise on malformed input."""
    return df.withColumn(column, F.col(column).try_cast(out_type))


def int_string(col: Column | str) -> Column:
    """Float-formatted number → integer string (``"1234.0"`` → ``"1234"``,
    the Unit/zip handling at ETL:262–263, 351): via bigint round-trip.
    try_cast keeps pandas' NULL-on-junk semantics under ANSI mode."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double").try_cast("bigint").cast("string")


def zip5(col: Column | str) -> Column:
    """ZIP+4 → 5-digit zip (ETL:331–332): split on '-' take head, then
    integer-string normalize plain float-formatted zips."""
    c = F.col(col) if isinstance(col, str) else col
    head = F.split(c.cast("string"), "-").getItem(0)
    return F.when(c.cast("string").contains("-"), head).otherwise(int_string(c))


def first_last_name(col: Column | str) -> tuple[Column, Column]:
    """Name tokenization (X9/U1, ETL:616–625, 651–657): for
    ``"Brand / First Last"`` take the part after "/", then first token =
    first name, remaining tokens = last name ('' if single-token)."""
    c = F.col(col) if isinstance(col, str) else col
    person = F.when(c.contains("/"), F.trim(F.element_at(F.split(c, "/"), -1))).otherwise(F.trim(c))
    toks = F.split(person, r"\s+")
    first = toks.getItem(0)
    last = F.when(F.size(toks) > 1, F.concat_ws(" ", F.slice(toks, 2, 1000))).otherwise(F.lit(""))
    return first, last


def normalize_email(col: Column | str) -> Column:
    """lower+trim (X1/X2: the email normalization at ETL:642, 756, 801)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def all_equal(df: DataFrame, col: Column) -> bool:
    """F8/A6: whole-column ALL() driving a runtime plan switch
    (``(node_remoteId == "").all()`` ETL:390). Deliberately driver-side
    — the result chooses which join plan to BUILD (SURVEY §7 hard part
    3), it is not row data.

    True unless some row has ``col`` false: NULLs are skipped and an
    empty (or all-NULL) column is true, as ``bool_and`` has it. Asked as
    "no counterexample" rather than aggregated, so it stops at the first
    false row, and over a driver-built frame (a local relation) the
    optimizer answers it without a Spark job."""
    return df.filter(~col).isEmpty()
