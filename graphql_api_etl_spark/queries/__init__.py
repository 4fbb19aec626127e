"""Query catalog package: every operator from SURVEY.md §2 as a named
query over the driver's star schema, paired with an ANSI-SQL oracle for
DuckDB (see ``_registry`` for the catalog conventions and the ``_q``
registration contract).

Split from the single-module catalog in r12 (VERDICT r11 ask #4: both
historical shadowed-def incidents lived in the 11k-line monolith).
Each family module registers its entries into the shared ``QUERIES``
dict on import. The import order below reproduces the original
monolith's registration order, which is the default order of
``__spark_entry__.queries()``; nothing else depends on it. The
re-export loop at the bottom keeps every helper importable as
``graphql_api_etl_spark.queries.<name>`` exactly as before the split.
"""

from __future__ import annotations

from graphql_api_etl_spark.queries._registry import (  # noqa: F401
    QUERIES,
    Oracle,
    QueryFn,
    _q,
    _t,
)

from graphql_api_etl_spark.queries import relational  # noqa: E402
from graphql_api_etl_spark.queries import transforms  # noqa: E402
from graphql_api_etl_spark.queries import aggregates  # noqa: E402
from graphql_api_etl_spark.queries import tpch  # noqa: E402
from graphql_api_etl_spark.queries import events  # noqa: E402

# LLM-data-pipeline catalog entries register themselves into QUERIES on
# import (sequence position preserved from the pre-split monolith).
from graphql_api_etl_spark import queries_llm  # noqa: E402,F401

from graphql_api_etl_spark.queries import scalars_sinks  # noqa: E402
from graphql_api_etl_spark.queries import sequences  # noqa: E402

# Graph-analytics entries (derived co-purchase / trade graphs) register
# themselves on import, same pattern.
from graphql_api_etl_spark import queries_graph  # noqa: E402,F401

# Structured-Streaming entries (availableNow micro-batch runs under the
# same differential gate), same pattern.
from graphql_api_etl_spark import queries_stream  # noqa: E402,F401

from graphql_api_etl_spark.queries import sketches_ts  # noqa: E402
from graphql_api_etl_spark.queries import experiments_stats  # noqa: E402
from graphql_api_etl_spark.queries import trend_ingest  # noqa: E402
from graphql_api_etl_spark.queries import codec_roundtrips  # noqa: E402

# Backward-compat re-exports: every name the monolith defined at module
# level stays importable from this package. A cross-module collision
# raises here (the package-level analogue of _q's duplicate guard and
# tests/test_no_shadowed_defs.py).
import sys as _sys

_pkg = _sys.modules[__name__]
_seen: dict[str, str] = {}
for _m in (
    relational,
    transforms,
    aggregates,
    tpch,
    events,
    scalars_sinks,
    sequences,
    sketches_ts,
    experiments_stats,
    trend_ingest,
    codec_roundtrips,
):
    for _k in _m.__catalog_exports__:
        if _k in _seen:
            raise ValueError(
                f"cross-module catalog name collision: {_k} defined in both "
                f"{_seen[_k]} and {_m.__name__}"
            )
        _seen[_k] = _m.__name__
        setattr(_pkg, _k, getattr(_m, _k))
del _pkg, _seen, _m, _k, _sys
