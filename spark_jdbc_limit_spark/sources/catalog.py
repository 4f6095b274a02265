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


#: The session settings parquet schema inference reads; a schema is
#: memoized per value of each.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (parquet scan, pushdown-capable).

    The schema is resolved once per session and table files, like the
    reference's eager schema resolution: inference runs a Spark job, so
    the schema is memoized (``operators.reuse.memo``, keyed by the files'
    fingerprint and the settings inference reads) and each call reads with
    it. Only the schema is memoized: every call returns a new relation
    with new attribute ids, so a table can still be joined with itself.

    ``events.ts`` normalization (the generated data's physical type has
    changed across harness generations, so detect rather than assume):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it (DuckDB
      silently truncates to µs) → read nanos as long, rebuild a µs
      TimestampType column. Integer ``div`` keeps full precision (a double
      cast would lose bits above 2^53).
    - timestamp[us] (no tz → TIMESTAMP_NTZ in Spark): cast to
      TimestampType — wall-clock preserving under the pinned UTC session
      timezone, and identical to the oracle's naive-µs view.
    """
    # imported here: the operators package imports this module
    from spark_jdbc_limit_spark.operators.reuse import memo

    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    kind = ("parquet_schema", *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    schema = memo(spark, kind, path, lambda: spark.read.parquet(path).schema)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # nanos-as-long generation
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register catalog tables as temp views so queries can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
