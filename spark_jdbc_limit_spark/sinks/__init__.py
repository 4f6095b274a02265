"""Sink layer: SaveMode-faithful writers with all-or-nothing publish
semantics (the portable replacement for the reference's Postgres-only
compensating-delete protocol, reference: ExtJdbcUtils.scala:70-109)."""

from __future__ import annotations

from spark_jdbc_limit_spark.sinks.observed import (
    standard_sink_metrics,
    write_with_observations,
)
from spark_jdbc_limit_spark.sinks.transactional import (
    AtomicWriteError,
    append_jdbc_epoch,
    recover_atomic_publish,
    run_stream_jdbc_atomic,
    write_jdbc_atomic,
    write_parquet_atomic,
    write_parquet_overwrite_partitions,
)

__all__ = [
    "AtomicWriteError",
    "append_jdbc_epoch",
    "standard_sink_metrics",
    "write_with_observations",
    "recover_atomic_publish",
    "run_stream_jdbc_atomic",
    "write_jdbc_atomic",
    "write_parquet_atomic",
    "write_parquet_overwrite_partitions",
]
