"""Query registry: names → (PySpark builder, DuckDB oracle SQL).

Design: each operator category module registers its queries with the
``@query`` decorator. A query is a callable ``(spark, sf_dir) -> DataFrame``
plus, when the semantics are SQL-expressible, an equivalent ANSI SQL string
the DuckDB oracle runs over the same parquet files. The driver compares
row-count + schema + order-insensitive value hash, sorting columns BY NAME —
so builders alias every computed column to the exact name used in the SQL.

Approximate / non-relational operators (LSH bucketing, streaming state)
register with ``oracle=None`` → the driver records a rows-only check.

REGISTRY keeps registration (catalog) order, module by module in the
order ``operators/__init__.py`` imports them. The grading driver samples
the first ~50 entries of ``__spark_entry__.queries()`` each round; that
order is computed from REGISTRY by the repo-root ``rotation.order``, so
nothing reorders or refills REGISTRY after registration. That order still
keeps registration order among unverified entries and breaks its ties, so
do not shuffle insertion order for style.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    category: str
    description: str


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    *,
    oracle: str | None,
    category: str,
    description: str = "",
) -> Callable[[Builder], Builder]:
    """Register a query builder under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            category=category,
            description=description or (fn.__doc__ or "").strip().splitlines()[0] if fn.__doc__ else description,
        )
        return fn

    return deco


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def get_query(name: str) -> QuerySpec:
    return REGISTRY[name]
