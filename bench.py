"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "headline_queries_total_sec", "value": <total sec>,
     "unit": "sec", "queries": {"q": sec, ...}, "sf": <sf>,
     "samples": {"q": [sec, ...], ...},
     "duckdb_queries": {"q": sec, ...}, "duckdb_samples": {...},
     "ratio_vs_duckdb": <x>}
(``duckdb_error`` replaces the three DuckDB keys when DuckDB fails.)

Methodology (comparable before/after numbers on a noisy VM):
- best-of-ROUNDS per query with INTERLEAVED order (q1..qN, q1..qN,
  ...) so a noisy-neighbor window hits different queries in different
  rounds instead of all samples of one query; ``samples`` keeps every
  sample so a reader can tell a real move from noise;
- each Spark query is forced end-to-end with a noop write (full plan
  executes on executors, nothing collected) after one unmeasured
  warm-up pass over EVERY headline query, so JVM/janino/JIT startup
  isn't billed to any query's first measured sample;
- the DuckDB oracle for every headline query runs in the SAME process
  and window, with the same warm-up and interleaved best-of-ROUNDS.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the engine's flagship + scan/join/agg benchmarks +
# window/session + the LLM-pipeline operators. Every name must exist
# in queries(); main() raises otherwise, so a renamed entry cannot
# silently shrink the measured set.
HEADLINE = [
    "flagship_reconcile",
    # The co-bucketed twin: same rows as the flagship, with both sides
    # landed once per session as bucketed tables (stage_bucketed); the
    # best-of shows the exchange-free join over that layout.
    "flagship_reconcile_bucketed",
    "j_outer_provenance_counts",
    "j_broadcast_dims",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "events_tumbling_window",
    "events_sessionize",
    "events_sliding_window",
    "events_asof_join",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_orders",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "text_quality_stats",
    # sim_topk_matmul (Arrow/BLAS matmul with per-batch partial top-k)
    # stands for similarity search; the all-pairs sim_topk_bruteforce
    # baseline stays in the catalog only.
    "sim_topk_matmul",
    "dedup_span_exact",
    "curate_bloom_decontaminate",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

ROUNDS = 3


def headline_names(catalog) -> list[str]:
    """HEADLINE, checked against the catalog: a missing name raises."""
    missing = [n for n in HEADLINE if n not in catalog]
    if missing:
        raise KeyError(f"bench HEADLINE names missing from queries(): {missing}")
    return list(HEADLINE)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from graphql_api_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = headline_names(qs)
    spark = get_spark(app_name="bench")

    # Warm-up: one unmeasured pass over EVERY headline query, so janino
    # compilation and first-tier JIT of each query's generated stages
    # aren't billed to its first measured sample (a query with unique
    # stage shapes would otherwise pay seconds of compile in sample 1).
    for name in names:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(ROUNDS):
        for name in names:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
    timings = {n: min(samples[n]) for n in names}

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "samples": samples,
    }

    # DuckDB oracles, same process/window, same interleaved best-of-N.
    try:
        import duckdb

        oracles = entrymod.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        with_oracle = [n for n in names if oracles.get(n)]
        duck_samples: dict[str, list[float]] = {n: [] for n in with_oracle}
        for name in with_oracle:  # warm-up pass, symmetric with Spark's
            con.execute(oracles[name]).fetchall()
        for _ in range(ROUNDS):
            for name in with_oracle:
                t0 = time.time()
                con.execute(oracles[name]).fetchall()
                duck_samples[name].append(round(time.time() - t0, 3))
    except Exception as exc:  # noqa: BLE001 — a missing key would read
        # as "no DuckDB available"; record what actually broke
        out["duckdb_error"] = repr(exc)
    else:
        duck = {n: min(v) for n, v in duck_samples.items()}
        d_total = sum(duck.values())
        out["duckdb_queries"] = duck
        out["duckdb_samples"] = duck_samples
        out["ratio_vs_duckdb"] = (
            round(sum(timings[n] for n in duck) / d_total, 2) if d_total else None
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
