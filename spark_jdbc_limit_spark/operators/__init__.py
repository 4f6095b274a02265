"""Operator surface: every query/operator from SURVEY.md §2 as a named,
oracle-paired entry in a typed registry.

Importing this package populates the registry from the per-category
modules and does nothing else: it reads no repo artifact and starts no
process. ``REGISTRY`` keeps registration (catalog) order; the driver's
sampling order is applied by ``__spark_entry__.queries()`` (see
``rotation.py``).
"""

from __future__ import annotations

from spark_jdbc_limit_spark.operators.registry import (
    QuerySpec,
    all_oracles,
    get_query,
    query,
    REGISTRY,
)

# Register all query modules (import order = catalog order).
from spark_jdbc_limit_spark.operators import relational  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import joins  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import aggregates  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import windows  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import setops  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import scalars  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import dedup  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import similarity  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import text  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import multimodal  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import udfs  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import advanced  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import windowed_events  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import pipeline  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import file_sources  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import graph  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import sqltext  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import sketches  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import stats  # noqa: E402,F401

#: Registry category → SURVEY.md §2B row (or LLM-pipeline area). The
#: registry's categories are finer-grained than §2B's ten rows plus the
#: five LLM areas; this single-sourced map keeps the taxonomy auditable
#: (and tested: every spec.category must be a key here) so the
#: category → coverage-row correspondence never drifts as the registry
#: grows. Fine categories that fold into a coarser row: `scan` is the
#: projections/filters family over the parquet catalog; `subquery`,
#: `reshape`, and `sql_text` are aggregation-shaped SQL-surface demos;
#: `window_events` is the event-analytics half of the windows row;
#: `graph` joins the LLM-pipeline area (iterative analytics for corpus
#: curation: PageRank authority, components-as-dedup-clusters, LPA).
CATEGORY_TO_SURVEY: dict[str, str] = {
    "source": "scans/sources/sinks",
    "scan": "projections/filters",
    "join": "joins",
    "aggregation": "aggregations",
    "subquery": "aggregations",
    "reshape": "aggregations",
    "sql_text": "aggregations",
    "window": "windows",
    "window_events": "windows",
    "sort": "sorts/limits/top-k",
    "setop": "set ops",
    "scalar": "scalar funcs",
    "streaming": "streaming",
    "udf": "UDF/UDAF/UDTF",
    "llm_dedup": "llm:dedup",
    "llm_similarity": "llm:similarity",
    "llm_multimodal": "llm:multimodal",
    "llm_text": "llm:text",
    "llm_pipeline": "llm:pipeline",
    "graph": "llm:pipeline",
}

__all__ = [
    "QuerySpec",
    "REGISTRY",
    "all_oracles",
    "get_query",
    "query",
]
