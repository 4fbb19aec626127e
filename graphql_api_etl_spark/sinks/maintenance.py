"""Table maintenance utilities: small-file compaction and statistics
collection (engine-native, SURVEY §2.10; the reference never needs
them at one-workbook scale).

- Streaming sinks and wide writes leave many small files; scans then
  pay one task + one footer read per file. :func:`compact_parquet`
  rewrites a directory into ≈``target_bytes`` files (the
  ``layout_compacted_scan`` catalog entry runs it).
- :func:`collect_table_stats` is the ANALYZE TABLE shape: row count +
  per-column null count and HLL++ distinct estimate in ONE pass
  (no per-column jobs), the inputs a cost-based optimizer or layout
  planner needs.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def parquet_file_sizes(path: str) -> list[int]:
    out = []
    for root, _, files in os.walk(path):
        out.extend(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> str:
    """Rewrite a parquet directory into ≈target-sized files.

    File count = ⌈current bytes / target⌉, capped at the row count: a
    file below one row only adds an empty task and an empty file (the
    parquet ``count()`` reads footers only). Merging DOWN uses
    ``coalesce`` (narrow, no shuffle); splitting UP (rare — resharding
    an over-merged table) needs a ``repartition`` round-robin shuffle.
    In-place compaction writes to a temp sibling then renames —
    readers of the old listing never see a half-written directory.
    """
    sizes = parquet_file_sizes(path)
    df = spark.read.parquet(path)
    n_files = max(1, min(math.ceil(sum(sizes) / target_bytes), df.count()))
    reshaped = (
        df.coalesce(n_files) if n_files <= df.rdd.getNumPartitions() else df.repartition(n_files)
    )
    if out_path is not None:
        reshaped.write.mode("overwrite").parquet(out_path)
        return out_path
    tmp = path.rstrip("/") + ".__compact_tmp__"
    reshaped.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old__"
    os.rename(path, old)
    os.rename(tmp, path)
    import shutil

    shutil.rmtree(old, ignore_errors=True)
    return path


def collect_table_stats(df: DataFrame, columns: list[str] | None = None, rsd: float = 0.05) -> Row:
    """One-pass table statistics: ``n_rows`` plus ``<col>_nulls`` and
    ``<col>_ndv`` (HLL++, relative error ``rsd``) for every requested
    column — a single aggregate job regardless of column count."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"{c}_nulls"))
        aggs.append(F.approx_count_distinct(c, rsd=rsd).alias(f"{c}_ndv"))
    return df.agg(*aggs).first()
