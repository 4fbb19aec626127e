"""SparkSession factory tuned for the engine.

Defaults target the driver harness (local[N], 128 GiB box) but every
knob is chosen to also be the right call on a 1000-executor cluster:

- AQE on (runtime re-planning: partition coalescing, skew-join split,
  broadcast conversion when runtime stats allow it);
- Arrow on (vectorized pandas interchange for the few Pandas-UDF
  operators — similarity/multimodal — and fast ``toPandas``);
- UTC session timezone (timestamp semantics identical to the DuckDB
  oracle and to any other engine reading the same parquet);
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalescing makes the static number mostly irrelevant as long as it
  is an upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "graphql_api_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and
    bench share sizing with the driver harness.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Files: keep scan partitions big enough to amortize task setup
        # locally; on a 100 TB cluster the 128m default splits are right.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage codegen fallback threshold = HotSpot's
        # DontCompileHugeMethods limit (8000 bytecode bytes). Spark's
        # default (65535, the janino class limit) happily emits methods
        # the JIT permanently refuses to compile — measured on the
        # embedding-cosine band join: a 54 KB fused produce method ran
        # INTERPRETED forever, 10.7 core-seconds for 2,000 rows.
        # Falling back to per-operator codegen for such stages keeps
        # every emitted method JIT-able (SPARK-21871's stated purpose).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Generated-class cache sized for a many-query workload. The
        # default (100 entries, LRU) thrashes under this engine's
        # 273-query catalog: cycling through ~19 headline queries
        # evicts every query's classes before its next run, so each
        # re-execution re-ran janino in all 32 task threads at once —
        # measured 40 CPU-seconds per 2,000-row query, and a 1.5×
        # slowdown across the whole headline set. Generated classes
        # are small; 10,000 entries is a few hundred MB at worst and
        # the right trade on any driver/executor this engine targets.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Trust the per-file sort order of sorted bucketed scans (off
        # by default since 3.0, SPARK-28595).  Spark itself guards the
        # claim — ordering is only propagated when every selected
        # bucket has EXACTLY one file — and the engine's bucketed
        # landing path (sinks.tables.stage_bucketed,
        # one_file_per_bucket) writes precisely that layout, so with
        # this on a join over that layout plans SMJ straight over the
        # scans: zero exchange AND zero sort (plan-asserted in
        # tests/test_plans.py).  The weekly sync joins in memory; the
        # layout serves the bucketed catalog twins.  Multi-file buckets
        # keep their Sort node exactly as before.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Managed (bucketed) tables land outside the repo; in-memory
        # catalog (no Hive) carries bucket specs within the session.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    # Python workers import this package by name (Pandas-UDF closures in
    # similarity/multimodal); when the driver process was launched from
    # outside the repo root the workers' sys.path lacks it. Exporting
    # the package's parent dir on the worker PYTHONPATH makes entry
    # callables location-independent (cluster equivalent: ship a wheel
    # via --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in worker_path.split(os.pathsep):
        worker_path = f"{pkg_root}{os.pathsep}{worker_path}" if worker_path else pkg_root
    builder = builder.config("spark.executorEnv.PYTHONPATH", worker_path)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
