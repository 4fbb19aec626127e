"""Query catalog package: every operator from SURVEY.md §2 as a named
query over the driver's star schema, paired with an ANSI-SQL oracle for
DuckDB (see ``_registry`` for the catalog conventions and the ``_q``
registration contract).

Split from the single-module catalog in r12 (VERDICT r11 ask #4: both
historical shadowed-def incidents lived in the 11k-line monolith).
Each family module registers its entries into the shared ``QUERIES``
dict on import. The import order below reproduces the original
monolith's registration order, which is the default order of
``__spark_entry__.queries()``; nothing else depends on it. Helpers are
imported from the family module that defines them.
"""

from __future__ import annotations

from graphql_api_etl_spark.queries._registry import (  # noqa: F401
    QUERIES,
    Oracle,
    QueryFn,
    _q,
    _t,
)

from graphql_api_etl_spark.queries import relational  # noqa: E402,F401
from graphql_api_etl_spark.queries import transforms  # noqa: E402,F401
from graphql_api_etl_spark.queries import aggregates  # noqa: E402,F401
from graphql_api_etl_spark.queries import tpch  # noqa: E402,F401
from graphql_api_etl_spark.queries import events  # noqa: E402,F401

# LLM-data-pipeline catalog entries (dedup, text analysis, similarity,
# multimodal plumbing, curation).
from graphql_api_etl_spark.queries import llm_dedup_text_sim  # noqa: E402,F401
from graphql_api_etl_spark.queries import llm_curation  # noqa: E402,F401
from graphql_api_etl_spark.queries import llm_retrieval  # noqa: E402,F401
from graphql_api_etl_spark.queries import llm_tokenize_mm  # noqa: E402,F401

from graphql_api_etl_spark.queries import scalars_sinks  # noqa: E402,F401
from graphql_api_etl_spark.queries import sequences  # noqa: E402,F401

# Graph-analytics entries (derived co-purchase / trade graphs) register
# themselves on import, same pattern.
from graphql_api_etl_spark import queries_graph  # noqa: E402,F401

# Structured-Streaming entries (availableNow micro-batch runs under the
# same differential gate), same pattern.
from graphql_api_etl_spark import queries_stream  # noqa: E402,F401

from graphql_api_etl_spark.queries import sketches_ts  # noqa: E402,F401
from graphql_api_etl_spark.queries import experiments_stats  # noqa: E402,F401
from graphql_api_etl_spark.queries import trend_ingest  # noqa: E402,F401
from graphql_api_etl_spark.queries import codec_roundtrips  # noqa: E402,F401
