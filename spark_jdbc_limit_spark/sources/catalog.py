"""Table catalog for the harness datasets.

The reference exposes exactly one source: a JDBC table wrapped in a
``BaseRelation`` with eager schema resolution
(reference: src/main/scala/org/apache/spark/sql/JDBCRelationWithLimit.scala:26).
Here the catalog is a set of named parquet tables; schemas are
self-describing, and Catalyst gives column pruning / filter pushdown /
limit pushdown on the file scan for free (verified in plans/verify.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType, TimestampNTZType

#: Every table the harness generates (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to always broadcast in joins, even at
#: 100 TB fact scale (region/nation are fixed-cardinality; supplier/part
#: grow with SF but stay orders of magnitude below the facts).
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


#: Spark's vectorized reader rejects TIMESTAMP(NANOS) unless this is on.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: The session settings parquet schema inference reads; a schema is
#: memoized per value of each. ``NANOS_AS_LONG`` is not among them:
#: ``table_schema`` turns it on before every load, so loading ``events``
#: cannot change the key of a table loaded before it.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """A catalog table's file schema, resolved once per session and table
    files, like the reference's eager schema resolution: inference runs a
    Spark job, so the schema is memoized (``operators.reuse.memo``, keyed
    by the files' fingerprint and the settings inference reads)."""
    # imported here: the operators package imports this module
    from spark_jdbc_limit_spark.operators.reuse import memo

    path = table_path(sf_dir, name)
    spark.conf.set(NANOS_AS_LONG, "true")
    kind = ("parquet_schema", *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    return memo(spark, kind, path, lambda: spark.read.parquet(path).schema)


def normalize_ts(df: DataFrame, ts_type: DataType) -> DataFrame:
    """``df`` with its ``ts`` column, read as the file's ``ts_type``, as a
    µs TimestampType column. The generated data's physical type has
    changed across harness generations, so detect rather than assume:

    - TIMESTAMP(NANOS), read as long (``NANOS_AS_LONG``; DuckDB silently
      truncates to µs) → rebuild a µs TimestampType column. Integer
      ``div`` keeps full precision (a double cast would lose bits above
      2^53).
    - timestamp[us] (no tz → TIMESTAMP_NTZ in Spark): cast to
      TimestampType — wall-clock preserving under the pinned UTC session
      timezone, and identical to the oracle's naive-µs view.
    """
    if isinstance(ts_type, LongType):  # nanos-as-long generation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (parquet scan, pushdown-capable)
    with its memoized ``table_schema``; ``events.ts`` goes through
    ``normalize_ts``. Only the schema is memoized: every call returns a
    new relation with new attribute ids, so a table can still be joined
    with itself."""
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    return normalize_ts(df, schema["ts"].dataType) if name == "events" else df
