"""Source layer: the table catalog over the harness parquet datasets plus
the JDBC reader-option mapping that mirrors the reference's config surface
(reference: SURVEY.md §2C)."""

from __future__ import annotations

from spark_jdbc_limit_spark.sources.catalog import TABLES, load_table, table_path

__all__ = ["TABLES", "load_table", "table_path"]
