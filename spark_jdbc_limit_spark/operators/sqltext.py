"""Shared-text ANSI SQL queries: ONE SQL string is executed verbatim by
BOTH engines — ``spark.sql(SQL)`` on our side, the identical string as
the DuckDB oracle. This is the strongest possible parity statement for
the SQL surface (no dialect translation to hide a semantic gap), and it
exercises Spark 4's ANSI coverage the reference never had: common table
expressions, window functions over SQL text, and WITH RECURSIVE
(SPARK-24497, new in Spark 4.x).

Discipline for engine-identical results with shared text: integer/count
aggregates only (no float accumulation), explicit tie-broken ORDER BY
inside window specs, and EXTRACT instead of dialect date functions.
Physical result types must ALSO agree, not just values — DuckDB widens
SUM(BIGINT) to HUGEINT and pandas has no date dtype, so sums are
CAST(... AS BIGINT) and date outputs go through CAST(... AS STRING)
(round-6 lesson: sql_shared_text_rollup hash-failed on identical values).

Scale notes: these compile to exactly the plans their DataFrame twins
elsewhere in this catalog produce (Catalyst does not care whether a plan
arrived via SQL or DataFrame calls) — pushdown, partial aggregation and
window exchange behavior are identical. The recursive CTE is the one
new physical shape: Spark executes it as an iterative union of step
plans, which is the right tool for BOUNDED recursion (spines, org
charts, shallow BOM walks) — unbounded graph closure at 100 TB still
belongs to the checkpointed-loop pattern in dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.sources.catalog import load_table

SQL_SEGMENT_ROLLUP = """
    WITH cust_orders AS (
        SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_orderdate) AS last_order
        FROM orders
        GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(CAST(MIN(last_order) AS DATE) AS STRING) AS earliest_last_order
    FROM customer
    JOIN cust_orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

SQL_RECURSIVE_YEARS = """
    WITH RECURSIVE years(y) AS (
        SELECT 1995
        UNION ALL
        SELECT y + 1 FROM years WHERE y < 2001
    )
    SELECT y, COUNT(o_orderkey) AS n_orders
    FROM years
    LEFT JOIN orders ON EXTRACT(YEAR FROM o_orderdate) = y
    GROUP BY y
    ORDER BY y
"""

SQL_WINDOW_TEXT = """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    WHERE o_totalprice > 400000
"""


def _run_shared(spark: SparkSession, sf_dir: str, sql: str, tables: tuple[str, ...]) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


@query(
    "sql_shared_text_rollup",
    category="sql_text",
    description="Shared-text ANSI SQL: CTE + join + grouped rollup, one string for both engines",
    oracle=SQL_SEGMENT_ROLLUP,
)
def sql_shared_text_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle is not a translation — it IS this SQL string."""
    return _run_shared(spark, sf_dir, SQL_SEGMENT_ROLLUP, ("orders", "customer"))


@query(
    "sql_recursive_year_spine",
    category="sql_text",
    description="Shared-text WITH RECURSIVE year spine LEFT JOINed to orders (Spark 4 recursion)",
    oracle=SQL_RECURSIVE_YEARS,
)
def sql_recursive_year_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded recursion as a spine generator: the recursive CTE emits
    the 1995-2001 year axis (including empty years — LEFT JOIN + COUNT
    keeps the zero rows a plain GROUP BY would drop), shared verbatim
    with DuckDB."""
    return _run_shared(spark, sf_dir, SQL_RECURSIVE_YEARS, ("orders",))


@query(
    "sql_shared_text_window",
    category="sql_text",
    description="Shared-text SQL window: per-customer order sequence numbers",
    oracle=SQL_WINDOW_TEXT,
)
def sql_shared_text_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_shared(spark, sf_dir, SQL_WINDOW_TEXT, ("orders",))


SQL_RECURSIVE_HIERARCHY = """
    WITH RECURSIVE walk(start, cur, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM part
        UNION ALL
        SELECT start, CAST(FLOOR(cur / 10.0) AS BIGINT), depth + 1
        FROM walk WHERE cur > 0
    )
    SELECT CAST(COALESCE(root, 0) AS BIGINT) AS root,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MAX(max_depth) AS BIGINT) AS deepest,
           CAST(SUM(max_depth) AS BIGINT) AS total_depth
    FROM (
        SELECT start,
               MAX(depth) AS max_depth,
               MAX(CASE WHEN cur BETWEEN 1 AND 9 THEN cur END) AS root
        FROM walk
        GROUP BY start
    ) chains
    GROUP BY COALESCE(root, 0)
    ORDER BY root
"""


@query(
    "sql_recursive_hierarchy_walk",
    category="sql_text",
    description="DATA-DEPENDENT WITH RECURSIVE: BOM-style ancestor walk with per-root rollup",
    oracle=SQL_RECURSIVE_HIERARCHY,
)
def sql_recursive_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True data-dependent recursion — the BOM/org-chart shape
    ``sql_recursive_year_spine`` (a fixed 7-step spine) does not
    exercise: every part walks its ancestor chain ``k → floor(k/10)``
    until the root, so the recursion DEPTH VARIES PER ROW with the key
    value and the iteration count follows the data (≈ log10 of the key
    space: one extra round per corpus decade). The rollup reports, per
    single-digit root, how many parts descend from it and how deep the
    chains run — the "flatten the hierarchy" query every recursive-CTE
    engine demo ships, here differentially pinned against DuckDB on the
    SAME SQL text.

    Execution shape: Spark runs the CTE as an iterative union-of-steps
    loop; each step is one codegen projection + filter over the
    previous frontier (part-cardinality rows, shrinking as chains
    terminate), so the work is bounded by Σ frontier sizes ≈ n·log(n)
    rows — no joins inside the loop, nothing quadratic. The synthetic
    parent function keeps the walk self-contained on the shipped
    corpus (parts carry no parent column); swapping in a real parent
    edge column changes one line of the recursive step."""
    return _run_shared(spark, sf_dir, SQL_RECURSIVE_HIERARCHY, ("part",))


SQL_GROUP_ORDER_ALL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@query(
    "sql_shared_group_order_all",
    category="sql_text",
    description="Shared-text modern SQL: GROUP BY ALL + ORDER BY ALL, one string both engines",
    oracle=SQL_GROUP_ORDER_ALL,
)
def sql_shared_group_order_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` — the modern-SQL ergonomics
    both engines converged on (Spark 3.4+/DuckDB): every non-aggregate
    select-list expression becomes a grouping key, and the result orders
    by the full select list. Shared-text discipline makes the parity
    claim exact: the SAME string must not only parse in both engines but
    resolve the SAME implicit grouping set — a dialect divergence in
    which expressions count as "non-aggregate" would hash-fail here.
    Count-only aggregates per the module's no-float rule; EXTRACT for
    the date key. Plan-wise this is an ordinary partial-aggregated
    grouped count; ALL is pure resolution sugar."""
    return _run_shared(spark, sf_dir, SQL_GROUP_ORDER_ALL, ("orders",))


#: The three Spark-4 SQL dialect features below deliberately BREAK the
#: module's shared-text rule: pipe syntax, session variables, and (for
#: contrast) lateral alias chains are the Spark dialect surface itself,
#: so each builder runs the Spark-4 spelling while the oracle is its
#: ANSI desugaring — the parity claim is "the sugar resolves to exactly
#: this standard query", checked by value hash.

SQL_PIPE_ROLLUP = """
    FROM orders
    |> WHERE o_orderstatus = 'O'
    |> AGGREGATE COUNT(*) AS n_orders,
                 CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
       GROUP BY o_orderpriority
    |> WHERE n_orders > 5
    |> SELECT o_orderpriority, n_orders, n_urgent
    |> ORDER BY o_orderpriority
"""


@query(
    "sql_pipe_syntax_rollup",
    category="sql_text",
    description="Spark 4 SQL pipe syntax (FROM |> WHERE |> AGGREGATE |> ...) vs its ANSI desugaring",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        HAVING COUNT(*) > 5
        ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (SPARK-49555, new in Spark 4.0): linear `|>`
    stages replace the inside-out SELECT nesting — the post-aggregate
    `|> WHERE` IS the HAVING clause, without the special keyword. The
    oracle runs the exact ANSI desugaring, pinning that the sugar
    changes nothing semantically. Plan-wise both compile to the same
    partial-aggregated grouped count (Catalyst sees identical logical
    plans), so this entry is pure dialect-surface coverage: count-only
    aggregates per the module's no-float rule."""
    return _run_shared(spark, sf_dir, SQL_PIPE_ROLLUP, ("orders",))


@query(
    "sql_session_variables",
    category="sql_text",
    description="SQL session variables (DECLARE / SET VAR) driving a data-derived filter",
    oracle="""
        SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_acctbal > 2.0 * (SELECT AVG(c_acctbal) FROM customer)
        ORDER BY c_custkey
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (SPARK-46908, Spark 4.x): DECLARE a typed
    variable, SET it FROM a scalar query over the data, then reference
    it in a later statement — the multi-statement parameterization
    pattern ETL scripts use instead of string templating. The oracle
    inlines the variable's defining subquery, pinning that the
    variable round-trip neither loses precision (the variable is
    DOUBLE; the inlined AVG is the same double) nor changes semantics.
    Scale-wise the variable materializes a 1-row driver value — the
    SQL-script spelling of the broadcast-scalar pattern used across
    this catalog.

    The temp view and the variable are NAMESPACED (customer_sessvar /
    v_cut_sessvar) and the variable is dropped after the plan is built,
    so a shared session's user views and state are never clobbered —
    the same hygiene rule stats.py's feat_ols_ne views follow."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_sessvar"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE v_cut_sessvar DOUBLE")
    spark.sql(
        "SET VAR v_cut_sessvar ="
        " (SELECT 2.0 * AVG(c_acctbal) FROM customer_sessvar)"
    )
    out = spark.sql(
        """
        SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal
        FROM customer_sessvar
        WHERE c_acctbal > v_cut_sessvar
        ORDER BY c_custkey
        """
    )
    # The variable's value is already bound into `out`'s analyzed plan
    # (variable references resolve at analysis time), so dropping the
    # session state here cannot change the result.
    spark.sql("DROP TEMPORARY VARIABLE IF EXISTS v_cut_sessvar")
    return out


SQL_LATERAL_ALIAS = """
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
           price * CAST(0.1 AS DOUBLE) AS tax,
           price + tax AS total,
           CASE WHEN total > 300000.0 THEN 'high' ELSE 'normal' END AS band
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey
"""


@query(
    "sql_lateral_column_alias",
    category="sql_text",
    description="Lateral column aliases: a select-list expression chain referencing earlier aliases",
    oracle="""
        SELECT o_orderkey, price,
               price * CAST(0.1 AS DOUBLE) AS tax,
               price + price * CAST(0.1 AS DOUBLE) AS total,
               CASE WHEN price + price * CAST(0.1 AS DOUBLE) > 300000.0
                    THEN 'high' ELSE 'normal' END AS band
        FROM (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                       AS price
            FROM orders
            WHERE o_orderkey < 2000
        )
        ORDER BY o_orderkey
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (SPARK-27561, default-on since 3.4): each
    select-list expression may reference aliases defined to its LEFT
    (price → tax → total → band), removing the nested-subquery
    boilerplate the oracle spells out. Each link is one IEEE double op
    on the exact 2dp price, and the oracle repeats the identical
    expression dags, so the chain hash-matches bit-for-bit. Resolution sugar only — both compile to
    one projection over the pruned, filter-pushed scan."""
    return _run_shared(spark, sf_dir, SQL_LATERAL_ALIAS, ("orders",))


#: listagg shortlist depth: names per segment, fully tie-broken.
LISTAGG_TOP = 5


@query(
    "sql_listagg_within_group",
    category="sql_text",
    description=f"listagg(...) WITHIN GROUP (Spark 4.0 SQL:2023 ordered string aggregation) over the top-{LISTAGG_TOP} balances per segment",
    oracle=f"""
        WITH ranked AS (
            SELECT c_mktsegment, c_name, c_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_name) AS rk
            FROM customer
        )
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               string_agg(c_name, '|' ORDER BY c_acctbal DESC, c_name)
                   AS top_names
        FROM ranked WHERE rk <= {LISTAGG_TOP}
        GROUP BY c_mktsegment ORDER BY segment
    """,
)
def sql_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``listagg(expr, sep) WITHIN GROUP (ORDER BY ...)`` — the
    SQL:2023 ordered string aggregation Spark gained in 4.0
    (SPARK-42746). The aggregation order is part of the SEMANTICS
    (unordered collect + concat is non-deterministic under shuffle),
    which is why the entry pins a fully tie-broken ORDER BY
    (balance DESC, then name): both engines emit the identical
    byte string. DuckDB spells the same operation string_agg(expr,
    sep ORDER BY ...) — the oracle demonstrates the dialect mapping.
    The doubles being ordered are bit-identical parquet values, so
    raw-float ORDER BY is exact, and the name tiebreak covers equal
    balances. Inputs are capped to the top-5 rows per
    segment first (a ranked filter), so the aggregated string is
    shortlist-sized — the unbounded-listagg anti-pattern (concat the
    whole corpus into one value) never appears. Plan: one shuffle for
    the per-segment rank, one micro agg over 5·segments
    rows."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_listagg"
    )
    return spark.sql(
        f"""
        WITH ranked AS (
            SELECT c_mktsegment, c_name, c_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_name) AS rk
            FROM customer_listagg
        )
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               listagg(c_name, '|')
                   WITHIN GROUP (ORDER BY c_acctbal DESC, c_name)
                   AS top_names
        FROM ranked WHERE rk <= {LISTAGG_TOP}
        GROUP BY c_mktsegment ORDER BY segment
        """
    )


@query(
    "sql_execute_immediate",
    category="sql_text",
    description="EXECUTE IMMEDIATE parameterized SQL (Spark 4.0) bound to a session variable, oracle inlines the parameter",
    oracle="""
        WITH cut AS (
            SELECT 2.0 * (CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                          / COUNT(*)) AS v
            FROM customer
        )
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               FLOOR((CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*)) * 100.0 + 0.5) / 100.0 AS avg_above
        FROM customer, cut
        WHERE c_acctbal > cut.v
        GROUP BY c_mktsegment ORDER BY segment
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE ... USING var`` (SPARK-44840, Spark 4.0):
    run a SQL string with ?-parameters bound from session variables —
    the SQL-scripting way to parameterize a template without string
    interpolation (and without its injection surface). The parameter
    here is a data-derived cutoff (2× the mean balance) computed into
    a session variable first, so the entry composes the two Spark 4
    scripting features end-to-end; the oracle inlines the defining
    subquery, pinning that parameter binding changes nothing
    semantically.

    Determinism: the cutoff avg uses the exact DECIMAL(18,6) sum (the
    dec_sum convention) cast to double once — bit-identical in both
    engines — so the `>` filter selects the identical row set; the
    reported per-segment mean uses the same exact-sum form rounded
    half-up at 2dp. View and variable are NAMESPACED
    (customer_execimm / v_cut_execimm) and the variable is dropped
    after the plan is built (the sessvar hygiene rule). Plan: one
    scalar subquery + one partial-aggregated scan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_execimm"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE v_cut_execimm DOUBLE")
    spark.sql(
        """
        SET VAR v_cut_execimm =
            (SELECT 2.0 * (CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                           / COUNT(*))
             FROM customer_execimm)
        """
    )
    out = spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment AS segment,
                CAST(COUNT(*) AS BIGINT) AS n_above,
                CAST(FLOOR((CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                            / COUNT(*)) * 100.0D + 0.5D) AS DOUBLE)
                    / 100.0D AS avg_above
         FROM customer_execimm
         WHERE c_acctbal > ?
         GROUP BY c_mktsegment ORDER BY segment'
        USING v_cut_execimm
        """
    )
    # parameter already bound into the analyzed plan; dropping session
    # state afterwards cannot change the result (sessvar precedent).
    spark.sql("DROP TEMPORARY VARIABLE IF EXISTS v_cut_execimm")
    return out


SQL_LATERAL_TOPN = """
    SELECT n.n_name, l.c_custkey,
           ROUND(l.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 2) l
    ORDER BY n.n_name, l.c_custkey
"""


@query(
    "subquery_lateral_correlated_topn",
    category="subquery",
    description="Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 customers per nation, decorrelated by Catalyst",
    oracle=SQL_LATERAL_TOPN,
)
def subquery_lateral_correlated_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SPARK-35557, 3.4+) carrying ORDER BY
    + LIMIT — the SQL spelling of per-group top-N that the optimizer
    must DECORRELATE into a ranked window rather than re-running the
    inner query per outer row. The identical text runs in DuckDB (also
    native LATERAL) under the module's shared-text discipline, so the
    entry pins both the surface and the semantics; ties break on
    custkey, and the doubles being ordered are bit-identical parquet
    values. Plan: Catalyst rewrites to a partitioned rank filter — one
    shuffle of customer by nation key; nothing per-outer-row."""
    return _run_shared(spark, sf_dir, SQL_LATERAL_TOPN, ("nation", "customer"))
