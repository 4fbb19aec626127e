"""Schema registry + loaders for the engine's sources.

The reference infers every schema at runtime (Excel header row at
ETL:257/261, CSV header at ETL:935, ``json_normalize`` of the GraphQL
response at ETL:218; ``ETL:NNN`` cites
``/root/reference/weekly alignments GQL API.py``). Schema errors there
surface as KeyErrors mid-pipeline. This engine instead declares every
source schema up front (SURVEY.md §1.3) and normalizes column names at
the ingestion boundary (``"REGION / SUPERVISOR"`` → ``region_supervisor``)
so downstream plans never need backtick-quoted columns.

At 100 TB the declared schema matters for a second reason: explicit
``ReadSchema`` means column pruning at the parquet footer level, and no
inference pass over the data.
"""

from __future__ import annotations

import csv
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver star-schema tables (/root/testdata/sf*/<name>.parquet).
# Declared rather than inferred: parquet carries its own schema, but the
# registry is the single source of truth the rest of the engine validates
# against (and what a cluster deployment would publish in its catalog).
# ---------------------------------------------------------------------------

STAR_TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one registered star-schema table from parquet.

    Parquet supplies the physical schema; we read without forcing the
    registry schema (parquet-to-requested-schema coercion can silently
    widen types) and let the scan prune to whatever the query selects.

    ``events.parquet`` is written with TIMESTAMP(NANOS) which Spark's
    vectorized reader rejects; we read nanos as long (runtime legacy
    conf) and truncate to microsecond timestamps — same truncation
    DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so both engines
    see identical values.
    """
    if name not in STAR_TABLES:
        raise KeyError(f"unknown table {name!r}; registered: {sorted(STAR_TABLES)}")
    # Pin the session timezone at the data boundary: the driver harness
    # supplies its own SparkSession, and timestamp RENDERING (date_format,
    # strftime parity with the DuckDB oracle) is timezone-dependent.
    # Guarded: an unconditional set() on every load invalidates plan
    # caching paths and measurably slowed repeated queries.
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The testdata's timestamp columns are parquet TIMESTAMP(MICROS)
    # with isAdjustedToUTC=false; Spark 4 infers TIMESTAMP_NTZ for
    # those, which unix_millis/window() reject and which renders
    # differently from the DuckDB oracle. Read them as session-TZ
    # (UTC) timestamps — identical wall-clock values on both engines.
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Memoize the read relation per (session, path): a fresh
    # spark.read.parquet re-lists the directory and re-reads footers
    # for schema inference on EVERY catalog call (~0.1-0.3 s/table —
    # pure per-query tax in a bench loop). The testdata is immutable
    # and a DataFrame is reusable, so cache on the session object
    # (dies with the session; never leaks across restarts).
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    path = f"{sf_dir}/{name}.parquet"
    if path in cache:
        return cache[path]
    if name != "events":
        df = spark.read.parquet(path)
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_field = next(f for f in df.schema.fields if f.name == "ts")
        if isinstance(ts_field.dataType, T.LongType):
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    cache[path] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    names = names or list(STAR_TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL API) and return them."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


# ---------------------------------------------------------------------------
# Column-name normalization (ingestion boundary).
# The reference's Excel headers embed spaces and slashes
# ("REGION / SUPERVISOR", "Zip Code", "DM Email" — ETL:257, 261, 754).
# ---------------------------------------------------------------------------


def normalize_column_name(name: str) -> str:
    """``"REGION / SUPERVISOR"`` → ``region_supervisor``."""
    s = name.strip().lower()
    s = re.sub(r"[^0-9a-z]+", "_", s)
    return s.strip("_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """Rename every column through :func:`normalize_column_name`."""
    mapping = {c: normalize_column_name(c) for c in df.columns}
    return df.withColumnsRenamed(mapping)


def csv_header(path: str, case_sensitive: bool) -> list[str]:
    """The column names Spark's CSV source gives the header row of the
    file at ``path`` (default options), read on the driver. The header
    is the first line that is not blank, after a UTF-8 BOM; an empty
    file has no columns. As in Spark, an empty cell becomes
    ``_c<index>``, and a name that repeats (case-insensitively unless
    ``case_sensitive``) gets its index appended: ``a,A,b`` →
    ``a0,A1,b``. Quote escapes inside a quoted cell (``\\"``, ``""``)
    may leave other punctuation than Spark's, which
    :func:`normalize_column_name` removes."""
    with open(path, newline="", encoding="utf-8-sig", errors="replace") as fh:
        line = next((ln for ln in fh if ln.strip()), None)
    if line is None:
        return []
    row = next(csv.reader([line]))
    keys = row if case_sensitive else [c.lower() for c in row]
    repeated = {k for k, n in Counter(keys).items() if n > 1}
    return [
        f"_c{i}" if not c else f"{c}{i}" if k in repeated else c
        for i, (c, k) in enumerate(zip(row, keys))
    ]


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """CSV scan (reference S2, ETL:935): header on, declared schema if
    given. Without one, every column is a string named by the file's
    header row (:func:`csv_header`), which is what Spark infers with
    ``inferSchema`` off; the header is read on the driver, so the read
    runs no Spark job. ``path`` then names one file."""
    if schema is None:
        case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in csv_header(path, case_sensitive)]
        )
    return normalize_columns(spark.read.option("header", True).schema(schema).csv(path))


def read_excel_sheet(spark: SparkSession, path: str, sheet_name: str, schema: T.StructType | None = None) -> DataFrame:
    """Distributed Excel sheet scan (reference S1, ETL:255).

    Workbooks load through Spark's ``binaryFile`` source and are parsed
    ON EXECUTORS by the pure-stdlib zip/XML codec in
    :mod:`graphql_api_etl_spark.sources.xlsx` — no pandas/openpyxl on
    the driver path, no driver materialization of sheet data.
    Parallelism is per workbook (a zip entry isn't splittable), the
    right unit for "directory of weekly drops"; only the header row of
    ONE file is read driver-side for schema discovery.

    Cell values surface as strings (column names normalized); pass
    ``schema`` to cast columns by (normalized) name — the declared-
    schema convention the CSV source uses.
    """
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from graphql_api_etl_spark.sources.xlsx import parse_xlsx_sheet, sheet_header

    if os.path.isdir(path):
        matches = sorted(_glob.glob(os.path.join(path, "*.xlsx")))
    elif any(ch in path for ch in "*?["):
        matches = sorted(_glob.glob(path))
    else:
        matches = [path]
    if not matches:
        raise FileNotFoundError(f"no .xlsx files at {path!r}")
    header = [normalize_column_name(h) for h in sheet_header(matches[0], sheet_name)]
    out_schema = T.StructType([T.StructField(c, T.StringType()) for c in header])

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                hdr, rows = parse_xlsx_sheet(bytes(content), sheet_name)
                cols = [normalize_column_name(h) for h in hdr]
                if cols != header:
                    raise ValueError(f"workbook header {cols} != discovered {header}")
                yield pd.DataFrame(rows, columns=header, dtype=object)

    out = (
        spark.read.format("binaryFile")
        .load(matches if len(matches) > 1 else matches[0])
        .select("content")
        .mapInPandas(parse, out_schema)
    )
    if schema is not None:
        out = out.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    return out


def discover_input_files(directory: str) -> dict[str, str | None]:
    """Directory file discovery (reference S5, ETL:101–110): first .xlsx
    and first .csv win, deterministically by sorted name."""
    import os

    files = sorted(os.listdir(directory))
    first = lambda ext: next((os.path.join(directory, f) for f in files if f.lower().endswith(ext)), None)
    return {"xlsx": first(".xlsx"), "csv": first(".csv")}
