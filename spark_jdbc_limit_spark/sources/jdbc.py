"""extjdbc-parity JDBC reader/writer configuration.

The reference's entire config surface (reference: SURVEY.md §2C) maps onto
Spark's JDBC options. Its two features are native on the DSv2 catalog
path (:func:`register_jdbc_catalog`):

- LIMIT pushdown (reference: PropagateJDBCLimit.scala:14-28 +
  JDBCRDDWithLimit.scala:65-71,133) → ``pushDownLimit`` (default true);
- filter/column pushdown (reference: JDBCRelationWithLimit.scala:29-43) →
  ``pushDownPredicate`` + automatic column pruning;
plus aggregate and top-N pushdown the reference never had. The
``pushDownAggregate``/``pushDownLimit``/``pushDownOffset`` switches act on
that catalog path only: ``format("jdbc").load()`` (:func:`jdbc_reader`) is
the DSv1 ``JdbcRelationProvider`` and pushes filters and columns only.

Everything here is integration-tested against the Apache Derby embedded
database that ships on Spark's classpath (tests/test_jdbc_integration.py).
Derby is also the one dialect where Spark 4 still CANNOT push a limit
(``DerbyDialect.supportsLimit`` is false) — the same gap the reference
filled for Spark 2.2 — so :func:`jdbc_scan_with_limit` re-implements the
reference's per-partition limit pushdown on the public JDBC API, with the
dialect-correct ANSI ``FETCH FIRST`` syntax and the reference's retained
global limit for correctness (reference: PropagateJDBCLimit.scala:26).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F

#: reference option name → DSv2 JDBC option name (identity unless renamed).
REFERENCE_OPTION_MAP: dict[str, str] = {
    "url": "url",
    "table": "dbtable",       # reference accepts `table` (ExtJdbcRelationProvider.scala:17)
    "dbtable": "dbtable",
    "driver": "driver",
    "fetchsize": "fetchsize",
    "batchsize": "batchsize",
    "isolationLevel": "isolationLevel",
    "truncate": "truncate",
    "createTableOptions": "createTableOptions",
    "partitionColumn": "partitionColumn",
    "lowerBound": "lowerBound",
    "upperBound": "upperBound",
    "numPartitions": "numPartitions",
}

#: Pushdown switches the reference implemented by hand, now Spark-native.
PUSHDOWN_DEFAULTS: dict[str, str] = {
    "pushDownPredicate": "true",
    "pushDownLimit": "true",
    "pushDownAggregate": "true",
    "pushDownOffset": "true",
}


def map_reference_options(options: dict[str, Any]) -> dict[str, str]:
    """Translate reference-style options to DSv2 JDBC options, layering the
    pushdown defaults under caller overrides. Unknown keys pass through —
    the reference forwarded unrecognized options to Spark the same way."""
    mapped = dict(PUSHDOWN_DEFAULTS)
    for k, v in options.items():
        mapped[REFERENCE_OPTION_MAP.get(k, k)] = str(v)
    return mapped


def jdbc_reader(spark: SparkSession, **options: Any) -> DataFrameReader:
    """`spark.read.format("jdbc")` with reference-option translation.
    `.load()` on the result is a DSv1 relation with filter and column
    pushdown (ops 1-4); aggregate and limit pushdown need the DSv2
    catalog of :func:`register_jdbc_catalog`."""
    return spark.read.format("jdbc").options(**map_reference_options(options))


def limit_clause(spark: SparkSession, url: str, limit: int) -> str:
    """Dialect-correct row-limit clause. Asks Spark's own dialect registry
    first (Postgres/MySQL → ``LIMIT n``); falls back to the ANSI
    ``FETCH FIRST n ROWS ONLY`` for dialects whose Spark dialect cannot
    emit one (Derby, DB2) — the hole the reference hard-coding ``LIMIT n``
    fell into for SQL Server/Oracle (SURVEY.md §4.2 'dialect hole')."""
    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    if dialect.supportsLimit():
        return dialect.getLimitClause(limit)
    return f"FETCH FIRST {limit} ROWS ONLY"


def jdbc_scan_with_limit(
    spark: SparkSession,
    url: str,
    table: str,
    limit: int,
    columns: Sequence[str] | None = None,
    predicate: str | None = None,
    partition_predicates: Sequence[str] | None = None,
    **options: Any,
) -> DataFrame:
    """The reference's flagship operator (ops 5-6), re-expressed on Spark's
    public JDBC API: a partitioned JDBC scan where EVERY partition's
    database query carries the limit, so at most ``partitions × limit``
    rows ever cross the wire; a retained global ``.limit(n)`` above the
    scan restores exact-n semantics (reference: per-partition SQL
    JDBCRDDWithLimit.scala:130-137, retained LocalLimit
    PropagateJDBCLimit.scala:26, correctness argument SURVEY.md §4.2).

    The scan is ONE JDBC relation with one partition per partition
    predicate (``spark.read.jdbc(..., predicates=...)``): one schema query,
    one relation to analyse. Each partition's fragment is
    ``(<pred>) AND (<part>) <limit-clause>``, and Spark appends it
    verbatim and last (``WHERE <fragment>``) when the scan has no compiled
    filters, so the database receives the reference's SQL exactly:
    ``SELECT <cols> FROM t WHERE (<pred>) AND (<part>) FETCH FIRST n ROWS
    ONLY``. The global limit sits directly on the scan, so Catalyst pushes
    no later filter into it; were a filter ever compiled into the scan,
    Spark would parenthesize the fragment and the SQL would fail loudly
    rather than fetch everything. No derived table either: Derby does not
    stop early inside ``SELECT <cols> FROM (SELECT ... FETCH FIRST n ROWS
    ONLY) alias`` — on a 1M-row in-memory table (4-cpu VM) one partition's
    query took 271 ms so wrapped against 99 ms plain, while a full
    ``COUNT(*)`` took 215 ms. Needed precisely when Spark's dialect cannot
    push the limit natively (``DerbyDialect.supportsLimit`` = false); on
    dialects with native DSv2 pushdown, prefer a
    :func:`register_jdbc_catalog` table + ``.limit(n)``.

    ``limit <= 0`` pushes no clause and keeps the global limit only,
    matching the reference's refusal to push non-positive limits
    (JDBCRDDWithLimit.scala:65-71); a negative limit means no limit.

    ``columns=None`` means all columns; a list is applied with ``select``
    and Spark prunes it into the dialect-quoted column list (the reference
    quotes through its dialect too, JDBCRDDWithLimit.scala:36-40).
    ``columns=[]`` is the degenerate count-style projection: the frame
    holds one constant column ``1`` and Spark emits ``SELECT 1`` like the
    reference's empty-column branch (JDBCRDDWithLimit.scala:38), so a
    count over JDBC ships one constant per row instead of whole rows.
    ``predicate`` / ``partition_predicates`` are raw SQL fragments — quote
    identifiers as the target database expects (Spark-written tables have
    quoted, case-sensitive column names). Like every predicates/dbtable
    JDBC read, the fragments are interpolated into SQL verbatim: they are
    ENGINE-INTERNAL strings, never end-user input.
    """
    clause = limit_clause(spark, url, limit) if limit > 0 else ""
    frags = []
    for part in partition_predicates or [None]:
        where = " AND ".join(f"({c})" for c in (predicate, part) if c) or "1=1"
        frags.append(f"{where} {clause}".rstrip())
    df = spark.read.jdbc(url, table, predicates=frags, properties=map_reference_options(options))
    if columns is not None:
        df = df.select(*columns) if columns else df.select(F.lit(1).alias("1"))
    # limit >= 0 keeps the global limit (LocalLimit 0 still yields 0 rows,
    # reference: SURVEY.md §4.2); negative means "no limit requested".
    return df.limit(limit) if limit >= 0 else df


def register_jdbc_catalog(
    spark: SparkSession, name: str, url: str, **options: Any
) -> None:
    """Expose a JDBC database as a Spark DSv2 catalog (``<name>.<table>``
    in SQL). This is the modern frame for everything the reference's
    custom relation did: the catalog's scans get filter, column, limit,
    top-N, offset AND aggregate pushdown from Catalyst, dialect
    permitting — `SELECT grp, COUNT(*) ... GROUP BY grp` runs inside the
    database (``PushedAggregates`` in explain), which the reference never
    had (SURVEY.md §4.1 table).

    Safety guard: on dialects whose Spark dialect reports
    ``supportsLimit``/``supportsOffset`` = false (Derby, DB2), the
    limit/offset pushdown switches default OFF here. Spark 4.1's V2 scan
    otherwise claims a FULL TopN/offset pushdown on such dialects — it
    removes its own Sort+Limit while the generated external query carries
    the ORDER BY but NO row-limit clause, so ``ORDER BY ... LIMIT 5``
    silently returns the whole table (pinned in
    tests/test_jdbc_integration.py::test_topn_pushdown_hazard_on_derby).
    This is the modern incarnation of the invariant the reference encoded
    by ALWAYS retaining the global LocalLimit above its pushed scan
    (PropagateJDBCLimit.scala:26). Explicit caller options still win.

    The affirmative twin is pinned too: on a dialect that reports a real
    limit clause these defaults leave TopN/limit/offset pushdown ON and
    the scan shows ``PushedTopN``/``PushedLimit`` with correct values —
    tests/test_jdbc_integration.py::test_topn_pushdown_fires_on_limit_capable_dialect
    (DuckDB JDBC + a registered 10-line limit-capable dialect, the switch
    a deployment flips for engines Spark lacks a dialect for)."""
    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    defaults = dict(PUSHDOWN_DEFAULTS)
    if not dialect.supportsLimit():
        defaults["pushDownLimit"] = "false"   # gates both LIMIT and TopN pushdown
    if not dialect.supportsOffset():
        defaults["pushDownOffset"] = "false"
    base = f"spark.sql.catalog.{name}"
    spark.conf.set(base, "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(f"{base}.url", url)
    for k, v in {**defaults, **{REFERENCE_OPTION_MAP.get(k, k): str(v) for k, v in options.items()}}.items():
        spark.conf.set(f"{base}.{k}", str(v))


def connect_with_retry(
    connect: Callable[[], Any],
    max_wait_s: float = 60.0,
    interval_s: float = 0.1,
    retryable: Callable[[Exception], bool] = lambda e: "too many clients" in str(e).lower(),
) -> Any:
    """Connection acquisition with retry/throttle — the reference retries
    'too many clients' errors every 100 ms for up to 60 s
    (reference: ExtJdbcUtils.scala:14-17,35-45). Generic over any
    zero-arg connect callable so sinks and readers share it."""
    deadline = time.monotonic() + max_wait_s
    while True:
        try:
            return connect()
        except Exception as exc:  # noqa: BLE001 — classification is caller-supplied
            if not retryable(exc) or time.monotonic() >= deadline:
                raise
            time.sleep(interval_s)


def dialect_supports_array_write(spark: SparkSession, url: str) -> bool:
    """Whether Spark's JDBC dialect for ``url`` maps ArrayType to a JDBC
    column type (today only the Postgres dialect does). Asked from the
    dialect registry itself — the same source of truth the writer uses —
    so this predicate cannot drift from actual writer behavior."""
    jvm = spark._jvm
    arr = jvm.org.apache.spark.sql.types.DataTypes.createArrayType(
        jvm.org.apache.spark.sql.types.DataTypes.IntegerType
    )
    return jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url).getJDBCType(arr).isDefined()


def write_extjdbc(df: DataFrame, url: str, table: str, mode: str = "error", **options: Any) -> None:
    """API-sugar parity with the reference's implicit writer
    ``df.write.extjdbc(url, table, props)`` (reference: package.scala:8-17).
    Uses Spark's native JDBC writer; for all-or-nothing semantics see
    :func:`spark_jdbc_limit_spark.sinks.transactional.write_jdbc_atomic`.

    ArrayType delegation boundary (reference: ExtJdbcUtils.scala:165-173
    wrote array columns via ``conn.createArrayOf``): Spark's writer makes
    the SAME ``createArrayOf`` call, but only for dialects whose
    ``getJDBCType`` maps ArrayType (Postgres). For any other dialect this
    function fails FAST with a clear boundary error instead of surfacing
    Spark's mid-write getJdbcType exception after partitions have begun
    committing (pinned by tests/test_jdbc_integration.py).
    """
    from pyspark.sql.types import ArrayType

    array_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    if array_cols and not dialect_supports_array_write(df.sparkSession, url):
        raise ValueError(
            f"array column(s) {array_cols} cannot be written over JDBC to {url.split(':', 2)[1]}: "
            "only dialects mapping ArrayType (e.g. Postgres, via the same "
            "java.sql.Connection.createArrayOf path the reference used) support "
            "array writes. Serialize the column (e.g. to_json) or use a "
            "Postgres-dialect target."
        )
    opts = map_reference_options({"url": url, "table": table, **options})
    df.write.format("jdbc").options(**opts).mode(mode).save()
