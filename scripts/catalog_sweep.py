"""Full-catalog timing sweep: every entry in queries(), forced with
the noop sink, best-of-2 interleaved after a warm-up pass. It measures
every operator; ``bench.py`` times only the headline set, best-of-3,
next to the DuckDB oracles.

Usage: python scripts/catalog_sweep.py [out.json]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/catalog_sweep.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from graphql_api_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="catalog_sweep")
    qs = entrymod.queries()
    names = list(qs)

    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    rounds = 2
    for rnd in range(rounds + 1):  # round 0 is the unmeasured warm-up
        for name in names:
            if name in errors:
                continue
            spark.sparkContext.setJobDescription(f"sweep:{name}")
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — record, keep sweeping
                errors[name] = repr(exc)[:200]
                continue
            finally:
                spark.sparkContext.setJobDescription(None)
            if rnd > 0:
                samples[name].append(round(time.time() - t0, 3))
        print(f"pass {rnd} done", file=sys.stderr)

    timings = {n: min(v) for n, v in samples.items() if v}
    out = {
        "metric": "catalog_sweep_sec",
        "sf_dir": sf_dir,
        "n_entries": len(names),
        "total_sec": round(sum(timings.values()), 1),
        "timings": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "errors": errors,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("n_entries", "total_sec", "errors")}))
    for n, t in list(out["timings"].items())[:25]:
        print(f"{t:8.3f}  {n}")


if __name__ == "__main__":
    main()
