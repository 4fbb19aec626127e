"""Driver-contract invariants for __spark_entry__.py — cheap static
checks that protect the correctness gate's shape: every registered
entry is exposed exactly once, every entry is oracle-backed, and a
failing callable oracle can only cost its own entry."""

from __future__ import annotations

import __spark_entry__ as entry
from graphql_api_etl_spark.queries import QUERIES


def test_ordered_covers_catalog_exactly_once():
    exposed = entry.queries()
    assert list(exposed) == list(QUERIES)  # registration order, no extras
    assert all(exposed[n] is fn for n, (fn, _) in QUERIES.items())


def test_bench_headline_is_in_the_catalog():
    """bench.py times exactly HEADLINE: a renamed or dropped catalog
    entry must fail here, not silently shrink the measured set."""
    import pytest

    import bench

    assert set(bench.HEADLINE) <= set(entry.queries())
    assert bench.headline_names(entry.queries()) == bench.HEADLINE
    without_first = {n: None for n in bench.HEADLINE[1:]}
    with pytest.raises(KeyError, match=bench.HEADLINE[0]):
        bench.headline_names(without_first)


def test_every_entry_has_an_oracle_string():
    oracles = entry.oracle_sql()
    assert set(oracles) == set(QUERIES)
    assert all(isinstance(v, str) and v.strip() for v in oracles.values())


def test_failing_callable_oracle_costs_only_its_entry(monkeypatch):
    name = next(iter(QUERIES))
    fn, _ = QUERIES[name]

    def boom() -> str:
        raise RuntimeError("oracle builder exploded")

    monkeypatch.setitem(QUERIES, name, (fn, boom))
    oracles = entry.oracle_sql()
    assert name not in oracles
    assert len(oracles) == len(QUERIES) - 1


def test_duplicate_registration_raises():
    """Catalog names are unique by construction (VERDICT r5 ask #4):
    re-registering a name raises instead of silently shadowing the
    first definition (dict semantics would hide the dead twin from the
    plan audit and the oracle differential)."""
    import pytest

    from graphql_api_etl_spark.queries import QUERIES, _q

    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="registered twice"):
        _q(existing, "SELECT 1")(lambda spark, sf_dir: None)


def test_no_decimal_rounded_interpolated_percentiles_in_catalog_source():
    """Hazard-class guard (r12 off-gate sweep → r13 hardening): decimal
    rounding of an INTERPOLATED percentile — round(quantile_cont(x,q),
    k) / F.round(percentile(...), k) — is the knife-edge family that
    flipped entries between engines (the interpolation result is an
    inexact double; the two engines' decimal renderings can disagree
    at a .x5 boundary). The established replacement is the
    integer-scaled output pattern (scale-then-round-to-BIGINT:
    a_percentiles' cents, events_interarrival_stats' *_x10,
    curate_winsorize's *_x100). This meta-test keeps the hazard from
    re-entering the catalog source; round-to-integer (no scale arg)
    stays allowed."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qdir = os.path.join(repo, "graphql_api_etl_spark", "queries")
    # decimal-scale rounding applied directly to an interpolated
    # percentile, in SQL text or the Spark expression mirror
    sql_pat = re.compile(
        r"round\(\s*(?:quantile_cont|percentile)\s*\([^()]*(?:\([^()]*\)[^()]*)*\)\s*,\s*\d",
        re.I,
    )
    spark_pat = re.compile(
        r"F\.round\(\s*F\.expr\(\s*[\"']percentile[^)]*\)\s*,\s*\d"
    )
    offenders = []
    for fn in sorted(os.listdir(qdir)):
        if not fn.endswith(".py"):
            continue
        src = open(os.path.join(qdir, fn)).read()
        for pat in (sql_pat, spark_pat):
            for m in pat.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{fn}:{line}: {m.group(0)[:60]}")
    assert offenders == [], (
        "decimal-rounded interpolated percentile(s) found — use the "
        "integer-scaled output pattern instead:\n" + "\n".join(offenders)
    )


def test_every_streaming_export_has_a_catalog_or_sync_caller():
    """``streaming`` exports only operators the product runs: each name
    in its ``__all__`` is called by a catalog module or by the weekly
    sync, so no streaming operator survives that only its own test
    exercises."""
    import os
    import re

    from graphql_api_etl_spark import streaming

    pkg = os.path.dirname(os.path.dirname(streaming.__file__))
    qdir = os.path.join(pkg, "queries")
    callers = [os.path.join(qdir, fn) for fn in sorted(os.listdir(qdir)) if fn.endswith(".py")]
    callers += [
        os.path.join(pkg, "queries_stream.py"),
        os.path.join(pkg, "queries_graph.py"),
        os.path.join(pkg, "pipelines", "weekly_alignments.py"),
    ]
    src = "\n".join(open(p).read() for p in callers)
    uncalled = [
        name for name in streaming.__all__
        if not re.search(rf"(?<!def )\b{re.escape(name)}\(", src)
    ]
    assert uncalled == [], f"streaming exports with no catalog or sync caller: {uncalled}"
