"""Scan / projection / filter / limit queries (SURVEY.md §2B "scans",
"projections/filters", "sorts/limits").

Reference parity notes:
- Projection pruning + filter pushdown mirror the reference's
  ``PrunedFilteredScan`` contract (reference:
  src/main/scala/org/apache/spark/sql/JDBCRelationWithLimit.scala:29-43);
  here Catalyst pushes both into the parquet scan (asserted in
  tests/test_plans.py).
- ``limit_semantics`` pins the reference's subtlest invariant: its
  per-partition ``LIMIT n`` pushdown fetches up to partitions×n rows but the
  retained LocalLimit restores exactly-n semantics (reference:
  PropagateJDBCLimit.scala:26, JDBCRDDWithLimit.scala:131-133). Our engine
  must likewise return exactly n rows regardless of partitioning.
- ``count_star_filter`` mirrors the reference's empty-projection
  ``SELECT 1`` count-style scan (reference: JDBCRDDWithLimit.scala:36-40).

Oracle-parity discipline (applies to every module in this package):
- money sums go through ``DECIMAL(18,6)`` so Spark's and DuckDB's
  different accumulation orders cannot produce different doubles;
- averages are computed as exact-decimal sum / count, in double, rounded;
- every computed column is aliased identically in builder and oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.sources.catalog import load_table

Q1_CUTOFF = "1998-09-02"


#: Newline character class shared by every line-protocol / per-char
#: tokenizer query (Spark regexp AND DuckDB oracle use the same class so
#: the paired engines cannot drift). Note spark.read.text only breaks on
#: \n / \r\n — extend here (e.g. \u2028) ONLY in lockstep with a policy
#: decision on both sides.
NEWLINE_CLASS = "[\\r\\n]"


def round_dbl(col, scale=4):
    """Engine-portable half-up rounding of a double.

    ``ROUND(double, n)`` diverges between engines at half-way points: Spark
    rounds the shortest decimal string of the double (Java BigDecimal),
    DuckDB rounds the raw binary value. ``floor(x*10^n + 0.5)/10^n`` uses
    only IEEE double ops, so two engines holding bit-identical doubles get
    bit-identical results.
    """
    s = float(10**scale)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def sql_round_dbl(expr: str, scale: int = 4) -> str:
    s = float(10**scale)
    return f"FLOOR(({expr}) * {s} + 0.5) / {s}"


def dec_sum(expr, alias, scale=2):
    """Exact decimal sum of a double expression, emitted as rounded double.

    Summing doubles is order-dependent; Spark (partial+final over 32
    partitions) and DuckDB (single-threaded scan) would disagree in the last
    bits. Casting each row to DECIMAL(18,6) first makes the sum exact and
    engine-independent; rounding happens in decimal space (exact half-up),
    never on the double.
    """
    return F.round(F.sum(expr.cast("decimal(18,6)")), scale).cast("double").alias(alias)


def dec_avg(expr, alias, scale=4):
    """Engine-independent average: exact decimal sum / count in double,
    rounded with the portable floor trick."""
    ratio = F.sum(expr.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
    return round_dbl(ratio, scale).alias(alias)


def sql_dec_sum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,6))), {scale}) AS DOUBLE) AS {alias}"


def sql_dec_avg(expr: str, alias: str, scale: int = 4) -> str:
    ratio = f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
    return f"{sql_round_dbl(ratio, scale)} AS {alias}"


@query(
    "q1_pricing_summary",
    category="aggregation",
    description="Flagship TPC-H Q1-style pricing summary over lineitem",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dec_sum('l_quantity', 'sum_qty')},
               {sql_dec_sum('l_extendedprice', 'sum_base_price')},
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
               {sql_dec_avg('l_quantity', 'avg_qty')},
               {sql_dec_avg('l_extendedprice', 'avg_price')},
               {sql_dec_avg('l_discount', 'avg_disc')},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → pushed filter → project/derive → partial+final hash agg → sort.

    The whole plan stays in whole-stage codegen; the shipdate predicate and
    the 7-column projection reach the parquet scan (PushedFilters/ReadSchema).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), "sum_qty"),
            dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg(F.col("l_quantity"), "avg_qty"),
            dec_avg(F.col("l_extendedprice"), "avg_price"),
            dec_avg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "scan_project_filter_topk",
    category="scan",
    description="Projection pruning + filter pushdown + deterministic top-k",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount > 0.05
        ORDER BY l_orderkey, l_linenumber
        LIMIT 100
    """,
)
def scan_project_filter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-column projection + range predicate reach the scan; orderBy+limit
    plans TakeOrderedAndProject (per-partition top-k, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate", "l_discount")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "scan_metadata_file_provenance",
    category="scan",
    description="Hidden _metadata columns: per-input-file row counts across three tables (provenance audit)",
    oracle="""
        SELECT 'documents.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_keys
        FROM documents
        UNION ALL
        SELECT 'orders.parquet', COUNT(*), COUNT(DISTINCT o_orderkey)
        FROM orders
        UNION ALL
        SELECT 'lineitem.parquet', COUNT(*), COUNT(DISTINCT l_orderkey)
        FROM lineitem
        ORDER BY file_name
    """,
)
def scan_metadata_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` struct (SPARK-37273): per-file provenance
    without a path column in the data — the audit an ingest pipeline
    runs to attribute rows to their source files after a multi-file
    load. Groups each of three tables by ``_metadata.file_name``; the
    shipped corpus stores one file per table, which the oracle pins as
    LITERAL expected names — so the entry verifies the metadata column
    surfaces the true file identity (a wrong or empty name would
    hash-fail), not merely that counts add up. ``_metadata`` is
    generated at scan time from the file split, so selecting it adds no
    column-read cost; the per-file groupBy partial-aggregates in place
    because splits never span files. At 100 TB the same query audits
    millions of files; the output stays file-cardinality-sized."""
    import os

    from spark_jdbc_limit_spark.sources.catalog import table_path

    parts = []
    for table, key in (
        ("documents", "doc_id"),
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
    ):
        # The oracle pins LITERAL '<table>.parquet' file names, which only
        # holds for the shipped single-file-per-table layout; a multi-part
        # directory layout (e.g. the replicated part-* outputs of
        # `bench.py --scale`) would surface part-file names and hash-fail
        # confusingly. Assert the precondition here so a layout change
        # fails with a clear message instead (round-10 ADVICE; the entry
        # is likewise excluded from the scale sweep).
        p = table_path(sf_dir, table)
        if not os.path.isfile(p):
            raise ValueError(
                "scan_metadata_file_provenance requires the single-file-"
                f"per-table layout; {p} is not a plain parquet file (its "
                "oracle pins literal file names)"
            )
        t = load_table(spark, sf_dir, table)
        parts.append(
            t.select(F.col("_metadata.file_name").alias("file_name"), F.col(key).alias("k"))
            .groupBy("file_name")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("k").alias("n_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("file_name")


@query(
    "limit_semantics",
    category="scan",
    description="limit(n) returns exactly n rows regardless of partitioning",
    oracle="SELECT COUNT(*) AS n_rows FROM (SELECT * FROM lineitem LIMIT 1000) t",
)
def limit_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pushes LIMIT per partition (up to p×n rows fetched) and
    relies on the retained LocalLimit for exact-n semantics (reference:
    JDBCRDDWithLimit.scala:131-133, PropagateJDBCLimit.scala:26). We pin the
    same contract: a multi-partition scan under limit(1000) yields 1000."""
    li = load_table(spark, sf_dir, "lineitem").repartition(8)
    return li.limit(1000).agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "count_star_filter",
    category="scan",
    description="count(*) under a pushed filter (empty-projection scan)",
    oracle="""
        SELECT COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity < 25
    """,
)
def count_star_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrors the reference's SELECT-1 count-style scan (empty projection,
    reference: JDBCRDDWithLimit.scala:36-40): no data columns survive the
    aggregate, so the scan reads only the filter columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") < 25))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "filter_predicate_algebra",
    category="scan",
    description="The reference's full pushable-Filter algebra in one predicate",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE (o_orderstatus IN ('O', 'F'))
          AND o_totalprice >= 1000.0
          AND o_totalprice < 400000.0
          AND o_orderpriority IS NOT NULL
          AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '%URGENT'
               OR contains(o_orderpriority, 'HIGH'))
          AND NOT (o_custkey = 0)
        ORDER BY o_orderkey
        LIMIT 500
    """,
)
def filter_predicate_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covers the Filter classes the reference compiles to SQL — EqualTo,
    </>/<=/>=, IsNotNull, In, StartsWith/EndsWith/Contains, And/Or/Not
    (reference: JDBCRelationWithLimit.scala:29-31 delegating to Spark's
    compileFilter)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("O", "F")
            & (F.col("o_totalprice") >= 1000.0)
            & (F.col("o_totalprice") < 400000.0)
            & F.col("o_orderpriority").isNotNull()
            & (
                F.col("o_orderpriority").startswith("1")
                | F.col("o_orderpriority").endswith("URGENT")
                | F.col("o_orderpriority").contains("HIGH")
            )
            & ~(F.col("o_custkey") == 0)
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(500)
    )


@query(
    "filter_null_safe_eq",
    category="scan",
    description="EqualNullSafe (<=>) vs plain equality over synthesized nulls",
    oracle="""
        WITH t AS (
            SELECT NULLIF(o_custkey % 5, 0) AS a,
                   NULLIF(o_orderkey % 5, 0) AS b
            FROM orders
        )
        SELECT COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE a IS NOT DISTINCT FROM b) AS n_nullsafe_eq,
               COUNT(*) FILTER (WHERE a = b) AS n_plain_eq,
               COUNT(*) FILTER (WHERE a IS NULL AND b IS NULL) AS n_both_null
        FROM t
    """,
)
def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the reference's pushable-Filter algebra: EqualNullSafe
    (the one class filter_predicate_algebra doesn't exercise — reference
    op 3, JDBCRelationWithLimit.scala:29-31). Nulls are synthesized
    deterministically; the output pins the defining identity
    ``nullsafe_eq = plain_eq + both_null``, i.e. <=> treats NULL as a
    comparable value where = yields unknown."""
    o = load_table(spark, sf_dir, "orders")
    a = F.nullif(F.col("o_custkey") % 5, F.lit(0))
    b = F.nullif(F.col("o_orderkey") % 5, F.lit(0))
    t = o.select(a.alias("a"), b.alias("b"))
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("a").eqNullSafe(F.col("b"))).alias("n_nullsafe_eq"),
        F.count_if(F.col("a") == F.col("b")).alias("n_plain_eq"),
        F.count_if(F.col("a").isNull() & F.col("b").isNull()).alias("n_both_null"),
    )


@query(
    "q3_shipping_priority",
    category="aggregation",
    description="TPC-H Q3-style shipping priority: top-10 open orders by in-flight revenue",
    oracle=f"""
        SELECT l_orderkey,
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')},
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (adapted to this schema: o_orderpriority stands in for
    o_shippriority): revenue still in flight for BUILDING-segment orders
    placed before the cutoff but shipped after it. Plan intent: both
    date filters push to the scans; customer (segment-filtered) joins
    orders first so lineitem — the big side — meets an already-reduced
    key set; the aggregate partial-combines before the shuffle; top-10
    with a total tie-break is TakeOrderedAndProject, never a global
    sort of the group space."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q6_forecast_revenue",
    category="aggregation",
    description="TPC-H Q6: forecast revenue change — pure scan-filter-aggregate",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
                                   AS DECIMAL(28,8))), 2) AS DOUBLE)
                   AS revenue_delta,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 verbatim: the canonical scan-dominated query — three
    range predicates and one global sum, zero joins, zero group keys.
    Every predicate reaches the parquet scan (PushedFilters) and the
    projection prunes to three columns, so at 100 TB the job is pure
    I/O + SIMD filtering with a single-row result; it is the query that
    benchmarks a format's scan path and nothing else. Exact decimal
    accumulation, rounded once at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q18_MIN_QTY = 250


@query(
    "q18_large_volume_customers",
    category="aggregation",
    description=f"TPC-H Q18-style large-volume customers (HAVING sum qty > {Q18_MIN_QTY})",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(l_quantity) > {Q18_MIN_QTY}
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               ROUND(o.o_totalprice, 2) AS totalprice,
               CAST(big.sum_qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders o   ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: which customers placed the monster orders. Covers the
    HAVING idiom — a post-aggregate filter, which in DataFrame terms is
    just ``filter`` ABOVE the agg (Catalyst keeps it after the final
    aggregation; nothing to push). Scale shape: the lineitem aggregate
    runs first and the HAVING collapses it to the rare heavy orders, so
    the joins back to orders/customer touch a tiny key set — Spark
    broadcasts the filtered aggregate, never shuffling either dimension;
    top-100 with total tie-break is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q4_order_priority",
    category="aggregation",
    description="TPC-H Q4-style order-priority count with EXISTS(late lineitem) semi join",
    oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (lateness adapted to this schema: shipped >60 days after
    order date stands in for receipt-after-commit, which needs columns
    the corpus lacks). The EXISTS becomes a LEFT SEMI join — lineitem is
    never widened into the result, duplicates never inflate the count,
    and the quarter filter pushes to the orders scan so the semi join
    probes with an already-small build side. One shuffle on the order
    key, then a 5-group aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    category="aggregation",
    description="TPC-H Q5: revenue by nation where customer and supplier share the nation",
    oracle="""
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 verbatim: the canonical star-with-a-twist — six relations,
    and the supplier join carries the EXTRA equi-condition
    c_nationkey = s_nationkey (local supplier only). Plan intent: the
    region→nation→supplier dimension chain collapses via broadcasts to a
    filtered supplier set before touching facts; orders is date-pruned at
    the scan; the only data-sized shuffles are fact-fact (orders ⋈
    lineitem on the order key). The nation-match condition rides ON the
    supplier join rather than as a post-filter so rows never survive the
    join only to be dropped."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    sup = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(dim),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q10_returned_items",
    category="aggregation",
    description="TPC-H Q10: top-20 customers by revenue lost to returns",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
               ROUND(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (projection trimmed to this schema's columns): which
    customers returned the most revenue last quarter. The returnflag
    and quarter predicates both push to the fact scans, the nation dim
    broadcasts, and top-20 by revenue with a key tie-break compiles to
    TakeOrderedAndProject — the full ranked customer list never
    materializes."""
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), c.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    category="aggregation",
    description="TPC-H Q14: promo revenue share — conditional aggregate over a dim join",
    oracle=f"""
        SELECT {sql_round_dbl(
            "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' "
            "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8)) "
            "ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE) "
            "/ CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(28,8))) AS DOUBLE)", 4)} AS promo_revenue_pct,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (p_type here is a flat category, so = 'PROMO' replaces
    the prefix LIKE): share of one month's revenue from promo parts.
    The month filter pushes to the lineitem scan, part broadcasts, and
    both the conditional and total sums come out of ONE aggregate over
    one pass — never two scans. Decimal accumulation on both numerator
    branches keeps the ratio engine-exact before the final rounded
    double division."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,8)"
    )
    zero = F.lit(0).cast("decimal(28,8)")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    ratio = (
        F.lit(100.0)
        * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero)).cast(
            "double"
        )
        / F.sum(disc).cast("double")
    )
    return joined.agg(
        round_dbl(ratio, 4).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q19_discounted_revenue",
    category="aggregation",
    description="TPC-H Q19: OR-of-ANDs brand/size/quantity predicate revenue",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#9'  AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (container/shipmode clauses dropped — columns absent):
    the classic disjunction-of-conjunctions predicate. Catalyst's
    pushdown win here: from the OR it INFERS the common implied
    conjuncts — l_quantity <= 30 on the fact scan and the brand/size
    disjunction on the part scan — so both scans prune even though the
    full predicate can only resolve post-join; the residual OR then
    filters the broadcast-joined rows. Writing it as one filter over the
    join (not three unioned branches) lets the optimizer do that
    inference while scanning each table once."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, size_hi)
        & q.between(q_lo, q_hi)
    )
    cond = (
        branch("Brand#9", 5, 1, 11)
        | branch("Brand#13", 10, 10, 20)
        | branch("Brand#20", 15, 20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q13_customer_order_distribution",
    category="aggregation",
    description="TPC-H Q13: distribution of per-customer order counts incl. zero",
    oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (the comment-filter becomes a priority filter — this
    schema has no o_comment): how many customers placed how many
    qualifying orders. The LEFT join is the load-bearing part —
    customers with ZERO qualifying orders must survive into the c_count=0
    bucket, which an inner join silently drops (COUNT(o_orderkey), not
    COUNT(*), so null matches count as zero). Double aggregation: the
    first groupBy collapses to customer cardinality, the second to the
    distinct-count cardinality; both map-side combined."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_quantity_revenue",
    category="aggregation",
    description="TPC-H Q17: revenue in orders below 20% of the part's average quantity",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,8))), 2)
                    AS DOUBLE) / 7.0 AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#9'
          AND l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = p_partkey
          )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (container filter dropped — column absent): revenue
    locked in below-20%-of-average-quantity lines of one brand. The
    correlated scalar subquery de-correlates into a per-part average
    relation joined back — and the average is computed ONLY over parts
    that survive the brand broadcast semi-join, so the fact shuffle
    carries the brand's slice, not the catalog. Quantities are integral
    doubles, so the per-part AVG is exact in both engines and the 0.2x
    threshold comparison cannot flip on accumulation order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#9")
    brand_lines = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    thresholds = brand_lines.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        brand_lines.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,8)")), 2)
                .cast("double")
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q22_DORMANT_SINCE = "2000-01-01"


@query(
    "q22_dormant_high_balance",
    category="aggregation",
    description=f"TPC-H Q22-style: above-average-balance customers with no orders since {Q22_DORMANT_SINCE}",
    oracle=f"""
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS totacctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*)
            FROM customer WHERE c_acctbal > 0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '{Q22_DORMANT_SINCE} 00:00:00'
        )
        GROUP BY n_name
        ORDER BY n_name
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (phone-prefix cohorts become nations — no phone column;
    'never ordered' becomes 'no order since {Q22_DORMANT_SINCE}', which
    is non-vacuous on this corpus): wealthy-but-dormant accounts, the
    sales-outreach classic. Three canonical shapes in one query: a
    scalar aggregate subquery (exact decimal sum / count, so the
    threshold is engine-identical), a LEFT ANTI join against the
    date-pruned orders scan (NOT EXISTS), and a broadcast dim join for
    the nation rollup."""
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q22_DORMANT_SINCE).cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))  # one-row threshold relation
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "q7_volume_shipping",
    category="aggregation",
    description="TPC-H Q7: bilateral trade volume between two nations by year",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice, l_discount
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 verbatim: two-nation trade flows, both directions, by
    ship year. The nation-pair DISJUNCTION lives on the joined n1/n2
    names — Catalyst pushes the implied IN('NATION_2','NATION_7') to
    BOTH nation scans, so the two broadcasted dims are two rows each and
    the supplier/customer joins reduce the facts before the fact-fact
    shuffle. Ship-date range pushes to the lineitem scan."""
    two = ["NATION_2", "NATION_7"]
    n1 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    n2 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = s.join(F.broadcast(n1), s.s_nationkey == n1.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == n2.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_2"))
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    category="aggregation",
    description="TPC-H Q8: one nation's share of a region's PROMO-part market by year",
    oracle="""
        SELECT o_year,
               FLOOR(nation_vol / total_vol * 1000000.0 + 0.5) / 1000000.0
                   AS mkt_share
        FROM (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(CASE WHEN sn.n_name = 'NATION_2'
                        THEN CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(28,8))
                        ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE)
                       AS nation_vol,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(28,8))) AS DOUBLE) AS total_vol
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND p_type = 'PROMO'
            GROUP BY o_year
        )
        ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (type prefix → exact category, date window widened so
    every corpus year reports): NATION_2's share of ASIA's PROMO market.
    The share is ONE conditional aggregate over one pass — numerator and
    denominator never scan twice — and every dimension (part-type,
    customer-nation-region, supplier-nation) broadcasts onto the fact
    chain. Decimal sums make the ratio engine-exact before the 1e-6
    rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_dim = (
        c.join(F.broadcast(nation), c.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup_dim = s.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("sk"),
    ).select("s_suppkey", "supp_nation")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
    zero = F.lit(0).cast("decimal(28,8)")
    grouped = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust_dim), F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .join(F.broadcast(sup_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_2", disc).otherwise(zero))
            .cast("double")
            .alias("nation_vol"),
            F.sum(disc).cast("double").alias("total_vol"),
        )
    )
    return grouped.select(
        "o_year",
        (F.floor(F.col("nation_vol") / F.col("total_vol") * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "mkt_share"
        ),
    ).orderBy("o_year")


@query(
    "q15_top_supplier",
    category="aggregation",
    description="TPC-H Q15: the quarter's top revenue supplier(s) via scalar MAX subquery",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(28,8))), 2) AS DOUBLE)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (the CREATE VIEW becomes a reused DataFrame): suppliers
    hitting the quarter's maximum revenue. The scalar MAX re-reads the
    same aggregate — ONE shuffle builds the supplier-cardinality revenue
    relation, the max is a one-row aggregate of that micro relation
    broadcast back, and ties survive (equality on the exact rounded
    decimal, engine-identical). Supplier dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
        .localCheckpoint(eager=False)  # reused by the max and the join
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(max_rev))  # one-row relation
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q21_LATE_DAYS = 90
Q21_TOPK = 20


@query(
    "q21_sole_late_supplier",
    category="aggregation",
    description=f"TPC-H Q21-style: suppliers solely responsible for late multi-supplier orders",
    oracle=f"""
        WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        multi AS (
            SELECT l_orderkey FROM os GROUP BY l_orderkey HAVING COUNT(*) > 1
        ),
        late AS (
            SELECT DISTINCT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON o_orderkey = l.l_orderkey
            WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM late la
        JOIN multi USING (l_orderkey)
        JOIN supplier ON s_suppkey = la.l_suppkey
        WHERE NOT EXISTS (
            SELECT 1 FROM late lb
            WHERE lb.l_orderkey = la.l_orderkey
              AND lb.l_suppkey <> la.l_suppkey
        )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT {Q21_TOPK}
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (lateness adapted: shipped >{Q21_LATE_DAYS} days after
    the order date replaces receipt-after-commit — columns absent):
    suppliers who were the ONLY late supplier on a multi-supplier order,
    the classic semi-PLUS-anti double correlation, here collapsed to
    ONE lineitem pass. Key algebraic move: a (order, supplier) pair is
    late iff its MAX ship date is late, so lineitem pre-aggregates to
    pair cardinality (``groupBy(l_orderkey, l_suppkey).max(l_shipdate)``,
    map-side combined) BEFORE touching orders — the fact table is
    scanned once and every later relation is pair-cardinality or
    smaller. The HAVING-semi ('multi-supplier order') and the NOT-EXISTS
    anti ('no OTHER late supplier') both become per-order window counts
    on that micro relation: n_supp = count(*) over (partition by order),
    n_late = sum(is_late) over the same — a supplier qualifies iff
    is_late ∧ n_supp > 1 ∧ n_late = 1. The window's order-key exchange
    is reusable from the pairs⋈orders sort-merge join; supplier is
    broadcast; top-{Q21_TOPK} is TakeOrderedAndProject. Versus the
    textbook plan (distinct + HAVING semi + anti self-join) this drops a
    full lineitem scan, two distincts and two joins — at 100 TB the
    removed second fact-table pass is the dominant saving."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("max_shipdate")
    )
    flagged = pairs.join(
        o.select("o_orderkey", "o_orderdate"),
        pairs.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("max_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .cast("int")
        .alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    sole = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late"),
    ).filter(
        (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(Q21_TOPK)
    )


# --- round-9: adapted variants of the three column-blocked TPC-H queries
# the corpus CAN express (Q9/Q12/Q16 on proxy columns). Q2/Q11/Q20 are
# formally closed in SURVEY.md §2B: their defining relations
# (partsupp.ps_supplycost / ps_availqty) have no proxy in the corpus, and
# their SHAPES (correlated min, group-share-vs-global HAVING, nested
# semi-joins) are already covered by q15/supplier_hhi/q17+q21.


@query(
    "q12_priority_shipping",
    category="aggregation",
    description="TPC-H Q12 adapted: late-shipment priority split by return flag (shipmode proxy)",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_returnflag IN ('R', 'A')
          AND datediff('day', o_orderdate, l_shipdate) > 365
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to the corpus columns (SURVEY round-5 addendum:
    no l_shipmode/l_commitdate/l_receiptdate ship with the harness
    corpus): the two audited ship modes become two of the three return
    flags, and 'received later than committed' becomes 'shipped more
    than a year after ordering' — same query SHAPE as spec-Q12
    (fact-to-fact join, date-window filter, conditional split on order
    priority, tiny grouped output). Priority classes are spec-exact.

    Plan shape: the filters sit on the fact scan (shipdate window +
    returnflag both push to parquet), the orders join carries only
    o_orderpriority, and the CASE split is one partial-aggregated pass —
    numerator and complement never scan twice. At 100 TB the shuffle
    carries 2 rows per flag class."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_returnflag").isin("R", "A")
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(o.select("o_orderkey", "o_orderpriority", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 365)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_supplier_part_variety",
    category="aggregation",
    description="TPC-H Q16 adapted: supplier variety per brand/type/size over observed part-supplier pairs",
    oracle="""
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp table in the corpus): the
    part-supplier relation is DERIVED as the distinct (l_partkey,
    l_suppkey) pairs actually observed in lineitem, and the 'complaints'
    comment predicate becomes the measurable proxy s_acctbal < 0 —
    otherwise the spec shape survives intact: brand exclusion, type
    prefix exclusion, the 8-value size list, NOT IN supplier subquery,
    COUNT(DISTINCT supplier) per (brand, type, size), count-descending
    order.

    Plan shape: the pair-distinct is the only fact-sized exchange
    (partial-aggregated); part and the 6-row excluded-supplier relation
    broadcast. s_suppkey is non-null by construction so the NOT IN is a
    plain left_anti (no null-aware cross check). At 100 TB the
    distinct-pair relation is catalog-bounded (|parts|x|suppliers| worst
    case), far below the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    pk = (
        p.filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").startswith("PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(pk), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q9_product_type_profit",
    category="aggregation",
    description="TPC-H Q9 adapted: nation/year profit on gear parts with retail-derived cost proxy",
    oracle="""
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(ROUND(SUM(
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))
                   - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(28,8))
               ), 2) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%gear%'
        GROUP BY n_name, o_year
        ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no ps_supplycost in the corpus): cost is proxied
    as 60% of the part's retail price per unit, so profit per line is
    revenue minus 0.6·p_retailprice·l_quantity — the spec's join tree
    (lineitem x part x supplier x nation x orders), name-substring part
    filter and (nation, year DESC) profit rollup survive unchanged.

    Plan shape: the part filter prunes to ~2.6% of parts and broadcasts
    as a semi-side carrying (p_partkey, p_retailprice); supplier->nation
    broadcasts; orders arrives via the fact join carrying only the
    year. One partial-aggregated exchange of |nations|x|years| rows.
    Both profit terms are quantized DECIMAL(28,8) BEFORE the sum
    (dec_sum discipline) so accumulation order cannot flip a cent."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    sup_nat = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
    cost = (F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(28,8)")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup_nat), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(revenue - cost), 2).cast("double").alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )
