"""Table-maintenance operators: small-file compaction.

The small-file problem is the silent killer of 100 TB file-backed tables:
every streaming micro-batch / per-task write adds files, and scan-planning
cost + per-file open overhead grow linearly with file count (a day of
1-minute micro-batches × 32 tasks = 46k files). Compaction rewrites a
table (or one partition of it) into ~target-sized files and publishes
atomically via the staging+rename protocol, so readers never see a
half-compacted table — the same guarantee the reference's transactional
writer gives its JDBC tables (reference: ExtJdbcUtils.scala:70-109, done
here with rename instead of xmin forensics).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from spark_jdbc_limit_spark.sinks.transactional import _hadoop_fs, write_parquet_atomic

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # the usual HDFS-block-ish target


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of a parquet table directory (driver-side
    metadata listing — no data read)."""
    _, fs, hpath = _hadoop_fs(spark, path)
    return fs.getContentSummary(hpath).getLength()


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ``ceil(bytes / target)`` files and publish
    atomically (stage → rename swap). Returns the new file count.

    ``coalesce`` (not ``repartition``) merges input splits without a
    shuffle when reducing file count — compaction of N small files into M
    big ones is a read+write, zero exchanges. With ``sort_within_by`` the
    rewrite additionally clusters rows per file (one in-partition sort,
    still no shuffle) so parquet min/max row-group stats become selective
    for those columns — poor-man's clustering, the scan-side payoff being
    row-group skipping on point/range predicates.
    """
    n_files = max(1, math.ceil(table_bytes(spark, path) / target_file_bytes))
    df = spark.read.parquet(path).coalesce(n_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    write_parquet_atomic(df, path, mode="overwrite")
    out = spark.read.parquet(path)
    return len({f for f in out.inputFiles()})

