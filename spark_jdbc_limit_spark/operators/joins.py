"""Join queries (SURVEY.md §2B "joins"): broadcast-hash, sort-merge,
semi, anti, multi-way star, hybrid equi+range, and as-of.

The reference implements no joins — host Spark executes them above its
JDBC scan (reference: README.md:88-95 shows aggregation/exchange planned
over the pushed-down scan). The engine therefore exposes the full join
surface with explicit physical-strategy intent:

- dimension tables get ``F.broadcast`` (no shuffle of the fact side);
- fact-fact joins use sort-merge (the only strategy that survives 100 TB);
- the as-of join is the union-merge operator from
  :mod:`spark_jdbc_limit_spark.operators.asof` — one shuffle, no range
  blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.asof import asof_join
from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import dec_sum, sql_dec_sum
from spark_jdbc_limit_spark.operators.reuse import memo
from spark_jdbc_limit_spark.sources.catalog import load_table, table_path


@query(
    "join_broadcast_dim",
    category="join",
    description="Fact ⋈ broadcast dimension: revenue per part brand",
    oracle=f"""
        SELECT p_brand,
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')},
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part is a dimension (2k rows/GB-scale even at sf100) → broadcast-hash
    join: the lineitem side never shuffles; agg is partial+final."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


@query(
    "join_sortmerge_facts",
    category="join",
    description="Fact ⋈ fact sort-merge: revenue per order priority",
    oracle=f"""
        SELECT o_orderpriority,
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')},
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus <> 'P'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def join_sortmerge_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders are both lineitem-proportional; at 100 TB neither
    side broadcasts, so we pin sort-merge with a hint (locally Spark would
    broadcast the 15k-row orders and hide the scale behavior)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_semi",
    category="join",
    description="Left-semi join: customers that have at least one open order",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_anti",
    category="join",
    description="Left-anti join: customers with no orders at all",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        # no trailing sort: output is customer-scaled and the harness
        # compares order-insensitively — a global range exchange here is
        # pure waste at 100 TB (same reasoning as join_asof_events_orders)
    )


@query(
    "join_outer_coverage",
    category="join",
    description="Full-outer join over per-nation customer/supplier counts",
    oracle="""
        WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                   FROM customer GROUP BY c_nationkey),
             s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                   FROM supplier GROUP BY s_nationkey)
        SELECT COALESCE(c.nk, s.nk) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust,
               COALESCE(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
        ORDER BY nationkey
    """,
)
def join_outer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.nk == s.nk_s, "full_outer")
        .select(
            F.coalesce(c.nk, s.nk_s).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "join_multiway_star",
    category="join",
    description="TPC-H Q5-style 6-table star join: revenue per nation in ASIA",
    oracle=f"""
        SELECT n_name,
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join order: facts (lineitem⋈orders) sort-merge on orderkey; every
    dimension hop (customer at sf-scale is 100× smaller than lineitem,
    supplier/nation/region are tiny) broadcasts, so the fact side shuffles
    exactly once. The region filter prunes nations before the fact join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "join_range_hybrid",
    category="join",
    description="Equi+range theta join: customers within ±500 acctbal of a same-nation supplier",
    oracle="""
        SELECT s_suppkey, COUNT(*) AS n_close_customers
        FROM supplier JOIN customer
          ON c_nationkey = s_nationkey
         AND c_acctbal BETWEEN s_acctbal - 500.0 AND s_acctbal + 500.0
        GROUP BY s_suppkey
        ORDER BY s_suppkey
    """,
)
def join_range_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The equi conjunct (nationkey) keys the hash/broadcast join; the range
    conjunct is a post-join filter — so this stays a hash join, NOT a
    nested-loop. At 100 TB the supplier side broadcasts and the range
    predicate evaluates inside codegen."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(
            F.broadcast(s),
            (c.c_nationkey == s.s_nationkey)
            & (c.c_acctbal >= s.s_acctbal - 500.0)
            & (c.c_acctbal <= s.s_acctbal + 500.0),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
        # no trailing sort: supplier-scaled grouped output, order-insensitive compare
    )


@query(
    "join_interval_overlap",
    category="join",
    description="Interval-overlap self-join: same-customer order windows (30d) that overlap",
    oracle="""
        WITH w AS (
            SELECT o_orderkey, o_custkey,
                   o_orderdate AS win_start,
                   o_orderdate + INTERVAL 30 DAY AS win_end
            FROM orders
        )
        SELECT a.o_custkey AS custkey,
               COUNT(*) AS n_overlap_pairs,
               CAST(SUM(epoch_ms(least(a.win_end, b.win_end))
                        - epoch_ms(greatest(a.win_start, b.win_start))) AS BIGINT)
                   AS overlap_ms_total
        FROM w a JOIN w b
          ON a.o_custkey = b.o_custkey
         AND a.o_orderkey < b.o_orderkey
         AND a.win_start < b.win_end
         AND b.win_start < a.win_end
        GROUP BY a.o_custkey
        ORDER BY custkey
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (SURVEY.md §2B joins: "range / as-of / interval"): both
    sides carry an interval and the predicate is symmetric overlap
    (a.start < b.end AND b.start < a.end), not a point-in-band test like
    join_range_hybrid. The reference has no join code (SURVEY.md §2B) — host
    Spark executes joins above its scans — so this is the engine-surface op.

    Scale shape: the equi conjunct (o_custkey) keys a hash join (broadcast
    under the threshold, shuffled/sort-merge at scale), so both sides
    co-partition by customer and the overlap predicate evaluates post-join
    inside codegen; per-key pair cost is bounded by orders-per-customer
    (~10 at any SF), never global-quadratic. A hot customer key
    would salt exactly like agg_salted_two_phase. Overlap length is computed
    in integer milliseconds (unix_millis / epoch_ms) so Spark and the oracle
    agree bit-for-bit with no float rounding."""
    base = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("win_end"),
        )
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.win_start") < F.col("b.win_end"))
        & (F.col("b.win_start") < F.col("a.win_end")),
    )
    # parquet timestamps are NTZ; unix_millis needs TIMESTAMP — the cast is
    # exact under the engine's UTC session convention (session.py).
    overlap_ms = F.unix_millis(
        F.least(F.col("a.win_end"), F.col("b.win_end")).cast("timestamp")
    ) - F.unix_millis(
        F.greatest(F.col("a.win_start"), F.col("b.win_start")).cast("timestamp")
    )
    return (
        pairs.groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_overlap_pairs"),
            F.sum(overlap_ms).alias("overlap_ms_total"),
        )
        # no trailing sort: custkey-scaled grouped output, order-insensitive compare
    )




@query(
    "join_asof_events_orders",
    category="join",
    description="As-of join: each event picks up the user's most recent order",
    oracle="""
        WITH r AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ), dedup AS (SELECT * FROM r WHERE rn = 1)
        SELECT e.event_id, e.user_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
               d.o_orderkey AS last_orderkey,
               ROUND(d.o_totalprice, 2) AS last_totalprice
        FROM events e
        ASOF LEFT JOIN dedup d
          ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
        ORDER BY e.event_id
    """,
)
def join_asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of via the union-merge operator (asof.py):
    one shuffle on user_id, no range-join blowup. Right side pre-deduped to
    one order per (custkey, orderdate) — latest orderkey wins — so the
    match is deterministic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    dedup = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    joined = asof_join(
        ev,
        dedup,
        on_left="ts",
        on_right="o_orderdate",
        by_left="user_id",
        by_right="o_custkey",
        right_payload=["o_orderkey", "o_totalprice"],
    )
    # No trailing orderBy: the output is per-row (one per event) and the
    # driver's compare is order-insensitive — a global sort here is a full
    # extra exchange at scale for nothing.
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_totalprice"),
    )


@query(
    "join_cross_product",
    category="join",
    description="Explicit cross join (region x nation) with derived pairing key",
    oracle="""
        SELECT r.r_name, n.n_name,
               r.r_regionkey * 100 + n.n_nationkey AS pair_key,
               CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
        FROM region r CROSS JOIN nation n
    """,
)
def join_cross_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one join type with no key at all: Catalyst plans
    BroadcastNestedLoopJoin with the 5-row side broadcast, so the cost is
    |big side| × |broadcast| evaluated streaming-side — legitimate exactly
    when one side is tiny (calendar × dims, grid expansion). Guarded cross
    joins against two big tables are the classic 100 TB outage; anything
    larger belongs in an equi/LSH-blocked formulation instead."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") * 100 + F.col("n_nationkey")).alias("pair_key"),
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0).alias("is_home"),
    )


SALT_BUCKETS = 8


@query(
    "join_salted_replicated",
    category="join",
    description=f"Skew-resistant equi-join: {SALT_BUCKETS}-way salted fact x replicated dim",
    oracle="""
        SELECT o.o_orderkey,
               COUNT(*) AS n_items,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey < 5000
        GROUP BY o.o_orderkey
    """,
)
def join_salted_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew salting, the pre-AQE (and streaming-state) defense
    against one hot key melting a single reducer: the probe side appends a
    DETERMINISTIC salt ((l_linenumber - 1) % B — reproducible, unlike
    rand(); the -1 matters: l_linenumber is 1..7, so a bare %B would never
    emit bucket 0 and one of the B replicated dim copies would be dead
    weight),
    the build side is replicated B× via explode(sequence(...)), and the
    join key becomes (key, salt) so each hot key spreads over B reducers.
    The result is IDENTICAL to the plain equi-join — the oracle runs the
    unsalted SQL — only the shuffle distribution changes. At 100 TB this
    is also the shape for skewed streaming joins where AQE can't help;
    in batch, AQE's skew-join split handles moderate skew without the B×
    replication cost, so reach for salting when keys are pathological
    (null-heavy, power-law head) or the engine is stateful."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    salted_fact = li.withColumn(
        "salt", ((F.col("l_linenumber") - 1) % SALT_BUCKETS).cast("int")
    )
    replicated_dim = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)).cast("array<int>"))
    )
    joined = salted_fact.join(
        replicated_dim,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (salted_fact["salt"] == replicated_dim["salt"]),
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue"),
    )


#: Bucket count for the co-located join demo. At 100 TB this would be
#: sized so each bucket file lands near the 128-256 MB sweet spot.
BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize customer + orders as bucketed tables (bucket key =
    custkey, BUCKETS buckets, sorted within buckets) and return their
    catalog names. Written once per (session, input files): bench reps
    and repeated calls reuse the first write, and a table dropped since
    is written again.

    This is Spark's answer to the reference's partition-predicate scan
    splitting (reference: JDBCRDDWithLimit.scala:53-63): there the source
    pre-splits rows so each task reads a disjoint slice; here the SOURCE
    LAYOUT carries the hash partitioning, so every later equi-join or
    aggregation on the bucket key skips its shuffle entirely. On a 100 TB
    fact table that is the difference between an exchange of the whole
    table per join and zero exchanged bytes, amortized over every
    downstream query — the reason warehouses bucket their biggest facts."""
    import hashlib

    # tag = basename + digest of the FULL path: two datasets that share a
    # basename (…/a/sf0.01 vs …/b/sf0.01) must never collide on table
    # names, or one dataset's buckets would be served for the other
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base_name = "".join(
        ch if ch.isalnum() else "_" for ch in sf_dir.strip("/").split("/")[-1]
    )
    tag = f"{base_name}_{digest}"
    cust_tbl, ord_tbl = f"sjl_bucketed_customer_{tag}", f"sjl_bucketed_orders_{tag}"

    layout = (("customer", "c_custkey", cust_tbl), ("orders", "o_custkey", ord_tbl))

    def write() -> None:
        for name, key, tbl in layout:
            (
                load_table(spark, sf_dir, name)
                .write.format("parquet")
                .bucketBy(BUCKETS, key)
                .sortBy(key)
                .option("path", f"/tmp/sjl_bucketed/{tag}/{name}")
                .mode("overwrite")
                .saveAsTable(tbl)
            )

    inputs = [table_path(sf_dir, name) for name, _, _ in layout]
    memo(spark, "bucketed_tables", inputs, write)
    if not (spark.catalog.tableExists(cust_tbl) and spark.catalog.tableExists(ord_tbl)):
        write()
    return cust_tbl, ord_tbl


@query(
    "join_bucketed_colocated",
    category="join",
    description=f"Shuffle-free equi-join via {BUCKETS}-bucket co-located tables",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
        ORDER BY mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim equi-join where BOTH sides are pre-bucketed on the join
    key: Spark's scan reports the hash partitioning, Catalyst drops both
    Exchanges, and the sort-merge join runs bucket-to-bucket. The plan
    test pins zero shuffles under the join (broadcast disabled). Result is
    identical to the plain join — only the physical layout differs."""
    cust_tbl, ord_tbl = _bucketed_tables(spark, sf_dir)
    c = spark.table(cust_tbl)
    o = spark.table(ord_tbl)
    joined = c.join(o, c["c_custkey"] == o["o_custkey"])
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        # no trailing sort: the harness compares order-insensitively
    )


FUZZY_MAX_DIST = 2


@query(
    "join_fuzzy_name_match",
    category="join",
    description=f"Blocked fuzzy entity match: levenshtein ≤ {FUZZY_MAX_DIST} within prefix blocks, best match per probe",
    oracle=f"""
        WITH names AS (SELECT DISTINCT p_name FROM part),
        probes AS (
            SELECT p_name AS src_name,
                   substring(p_name, 1, 2) || substring(p_name, 4) AS probe_name
            FROM names
        ),
        cand AS (
            SELECT pr.probe_name, n.p_name AS cand_name,
                   levenshtein(pr.probe_name, n.p_name) AS dist
            FROM probes pr
            JOIN names n
              ON substring(pr.probe_name, 1, 2) = substring(n.p_name, 1, 2)
            WHERE levenshtein(pr.probe_name, n.p_name) <= {FUZZY_MAX_DIST}
        )
        SELECT probe_name,
               MIN({{'dist': dist, 'cand_name': cand_name}}).cand_name
                   AS matched_name,
               MIN({{'dist': dist, 'cand_name': cand_name}}).dist AS dist
        FROM cand
        GROUP BY probe_name
    """,
)
def join_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution's workhorse: match dirty strings (here: part
    names with a deterministic one-character deletion) back to a clean
    catalog by edit distance — the dedup/record-linkage step every
    ingest of scraped or OCR'd data needs.

    The naive formulation is an O(N·M) cross join with levenshtein on
    every pair — instantly fatal at scale. Blocking fixes it: candidates
    must share a cheap key (2-char prefix here; phonetic code or q-gram
    buckets in production), so the join is EQUI on the block key and the
    quadratic work shrinks to within-block products. Spark plans it as a
    plain hash join with the distance as a post-join filter; best-match
    selection is min(struct(dist, name)) — an aggregate with map-side
    partials, deterministic via the lexicographic tie-break. Recall
    caveat is inherent to blocking (an edit in the block key escapes the
    block) — production stacks multiple block keys; the single-key shape
    here keeps the oracle exact."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    probes = names.select(
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")
        ).alias("probe_name")
    )
    cand = (
        probes.join(
            F.broadcast(names),
            F.substring("probe_name", 1, 2) == F.substring("p_name", 1, 2),
        )
        .withColumn("dist", F.levenshtein("probe_name", "p_name"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    best = cand.groupBy("probe_name").agg(
        F.min(F.struct(F.col("dist"), F.col("p_name").alias("cand_name"))).alias("b")
    )
    return best.select(
        "probe_name",
        F.col("b.cand_name").alias("matched_name"),
        F.col("b.dist").alias("dist"),
    )


ASOF_TOLERANCE_DAYS = 9000


@query(
    "join_asof_tolerance",
    category="join",
    description=f"As-of join with {ASOF_TOLERANCE_DAYS}-day staleness bound (PIT feature join)",
    oracle=f"""
        WITH r AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ), dedup AS (SELECT * FROM r WHERE rn = 1)
        SELECT e.event_id, e.user_id,
               CASE WHEN d.o_orderdate >= e.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
                    THEN d.o_orderkey END AS last_orderkey,
               CASE WHEN d.o_orderdate >= e.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
                    THEN ROUND(d.o_totalprice, 2) END AS last_totalprice
        FROM events e
        ASOF LEFT JOIN dedup d
          ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND — how point-in-time feature joins
    are actually specified (a feature older than the tolerance is worse
    than no feature: it silently encodes a different regime). Same
    union-merge operator and single user_id shuffle as
    ``join_asof_events_orders``; the bound rides along as a row-local
    predicate on the matched right timestamp (carried in the payload), so
    the tolerance costs ZERO extra plan structure — no second join, no
    range blowup, nulls where the best match is too old. Matching DuckDB
    has no native tolerance either; its oracle applies the identical
    post-predicate to ASOF LEFT JOIN output."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    dedup = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    joined = asof_join(
        ev,
        dedup,
        on_left="ts",
        on_right="o_orderdate",
        by_left="user_id",
        by_right="o_custkey",
        right_payload=["o_orderkey", "o_totalprice", "o_orderdate"],
    )
    fresh = F.col("o_orderdate") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_DAYS} DAYS"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("o_orderkey")).alias("last_orderkey"),
        F.when(fresh, F.round("o_totalprice", 2)).alias("last_totalprice"),
    )


#: Coarse membership filter: number of hash buckets in the build-side
#: bitmap. The bitmap relation is AT MOST this many rows no matter how
#: large the build side grows — that bounded size, not the build side's
#: cardinality, is what the probe-side broadcast pays for. 4096 buckets
#: ≈ 32 KiB as a bitset; production runtime filters (Spark's own
#: spark.sql.optimizer.runtime.bloomFilter) size up to ~67M bits the
#: same way.
BLOOM_BUCKETS = 4096

#: Build-side predicate: finished orders above this total. Selective
#: enough that most probe rows miss every occupied bucket and are
#: dropped BEFORE the exact join's shuffle.
BLOOM_MIN_TOTAL = 400_000.0


@query(
    "join_bloom_prefilter",
    category="join",
    description="Runtime-filter semi join: broadcast hash-bucket bitmap prunes the probe side before the exact shuffle",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM lineitem
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_orderkey = l_orderkey
                        AND o_orderstatus = 'F'
                        AND o_totalprice > {BLOOM_MIN_TOTAL})
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a RUNTIME-FILTER pre-prune — the manual form of the
    bloom-filter pushdown Spark's optimizer applies under
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (and the pattern
    behind every "build a filter from the dim, ship it to the fact scan"
    engine feature; the reference engine has no runtime-filter surface).

    Two joins, two very different costs:

    1. COARSE: hash the build side's keys into ``BLOOM_BUCKETS`` buckets
       and keep one row per OCCUPIED bucket — a relation bounded at 4096
       rows whatever the build side's cardinality, so it broadcasts even
       when the dim itself never could. A broadcast left-semi on
       ``pmod(xxhash64(key), B)`` drops every probe row whose bucket is
       empty — map-side, before any exchange, touching only the join key
       column (Parquet scan stays pruned to the columns the query needs).
    2. EXACT: the surviving rows go through the real shuffle semi join
       (pinned sort-merge — at 100 TB neither fact side broadcasts). False
       positives from bucket collisions die here, so the RESULT is
       engine-independent pure semi-join semantics; the oracle is a plain
       EXISTS with no hash anywhere, which is exactly the point — the
       coarse layer may only ever change cost, never the answer.

    At selectivity s and bucket occupancy p, the exact join shuffles
    ~max(s, p) of the probe side instead of all of it; here the build
    side occupies ~¼ of 4096 buckets, so ~75% of lineitem never reaches
    the exchange. The plan pin in ``tests/test_plans.py`` asserts both
    layers: a broadcast semi on the bucket column under a sort-merge
    semi on the key."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > BLOOM_MIN_TOTAL)
        )
        .select("o_orderkey")
    )
    occupied = keys.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(BLOOM_BUCKETS)).alias("bkt")
    ).distinct()
    pruned = li.join(
        F.broadcast(occupied),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(BLOOM_BUCKETS)) == F.col("bkt"),
        "left_semi",
    )
    return (
        pruned.hint("merge")
        .join(keys, pruned.l_orderkey == keys.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("l_returnflag")
    )


_NOT_IN_SQL = """
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM {customer}
         WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, -1) FROM {orders}
                                 WHERE o_totalprice > 300000))
            AS n_without_big_orders,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM {customer}
         WHERE c_custkey NOT IN
             (SELECT CASE WHEN o_orderstatus = 'F' THEN o_custkey END
              FROM {orders}))
            AS n_null_poisoned
"""


@query(
    "join_anti_null_aware",
    category="join",
    description="NOT IN three-valued-logic semantics: null-aware anti join vs NULL-poisoned list",
    oracle=_NOT_IN_SQL.format(customer="customer", orders="orders"),
)
def join_anti_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN (subquery)`` is NOT an anti join when the list is
    nullable — SQL's three-valued logic makes ``x NOT IN (…, NULL)``
    UNKNOWN for every x, so one NULL in the list annihilates the whole
    result. ``join_anti`` covers the NOT EXISTS flavor; this entry pins
    the NOT IN flavor both ways in one row:

    - ``n_without_big_orders``: customers with no order over 300k —
      the list column is NULLABLE BY TYPE (``NULLIF(o_custkey, -1)``)
      but never null in data, so Catalyst cannot prune the null check
      and the plan is a genuine null-aware anti join (BroadcastHashJoin
      … NAAJ with the isNullAware flag, plan-pinned), while the count
      stays the honest anti-join answer (non-zero at every shipped
      SF).
    - ``n_null_poisoned``: the CASE expression is actually NULL for
      every non-'F' order, so the correct answer is 0 — not because no
      customer qualifies, but because of the NULL semantics. An engine
      that silently rewrites NOT IN to NOT EXISTS gets this WRONG; the
      differential proves both engines implement the standard.

    Scale note: Spark's null-aware anti join REQUIRES broadcasting the
    inner side (single-key NAAJ). Orders-scale lists don't broadcast at
    100 TB — production queries should write NOT EXISTS (a shuffled
    anti join) plus an explicit ``OR o_custkey IS NULL`` guard when
    null semantics matter; reference: this repo's ``join_anti``."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("naaj_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("naaj_orders")
    return spark.sql(_NOT_IN_SQL.format(customer="naaj_customer", orders="naaj_orders"))


@query(
    "join_asof_forward",
    category="join",
    description="Forward as-of join: each event picks up the user's NEXT order at-or-after the event",
    oracle="""
        WITH r AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey ASC) AS rn
            FROM orders
        ), dedup AS (SELECT * FROM r WHERE rn = 1)
        SELECT e.event_id, e.user_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
               d.o_orderkey AS next_orderkey,
               ROUND(d.o_totalprice, 2) AS next_totalprice
        FROM events e
        ASOF LEFT JOIN dedup d
          ON e.user_id = d.o_custkey AND e.ts <= d.o_orderdate
        ORDER BY e.event_id
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-inclusive as-of — "what did the user buy NEXT after this
    event": the attribution-window direction (backward as-of answers
    state-at-time; forward answers outcome-after-event, the label a
    conversion model trains on). Same union-merge operator (asof.py),
    mirrored: one shuffle on user_id, [current, following] frame,
    first(ignorenulls); the right side pre-dedupes to one order per
    (custkey, orderdate) — EARLIEST orderkey wins, mirroring the
    backward twin's latest-wins — so the match is deterministic. The
    oracle is DuckDB's native forward ASOF (ON e.ts <= d.o_orderdate),
    a definitionally independent implementation."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.asc("o_orderkey"))
    dedup = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    joined = asof_join(
        ev,
        dedup,
        on_left="ts",
        on_right="o_orderdate",
        by_left="user_id",
        by_right="o_custkey",
        right_payload=["o_orderkey", "o_totalprice"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col("o_orderkey").alias("next_orderkey"),
        F.round("o_totalprice", 2).alias("next_totalprice"),
    )


@query(
    "join_point_in_time_scd2",
    category="join",
    description="Point-in-time join: each order picks the SCD2 user-state valid AT its order date (leakage-safe lookup)",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type, ts AS valid_from, event_id
            FROM ordered
            WHERE prev_type IS NULL OR prev_type <> event_type
        ),
        dedup AS (
            SELECT user_id, event_type, valid_from
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY user_id, valid_from
                      ORDER BY event_id DESC) AS rn
                  FROM changes)
            WHERE rn = 1
        ),
        scd2 AS (
            SELECT user_id, event_type, valid_from,
                   LEAD(valid_from) OVER (
                       PARTITION BY user_id ORDER BY valid_from
                   ) AS valid_to
            FROM dedup
        )
        SELECT o.o_orderkey, o.o_custkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               s.event_type AS state_at_order
        FROM orders o
        LEFT JOIN scd2 s
          ON s.user_id = o.o_custkey
         AND s.valid_from <= o.o_orderdate
         AND (s.valid_to IS NULL OR o.o_orderdate < s.valid_to)
        ORDER BY o.o_orderkey
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POINT-IN-TIME join — the feature-store operation that keeps
    training data leakage-free: each fact row (an order) must see the
    dimension state that was valid AT its own timestamp, never a later
    one. Because SCD2 intervals partition each user's timeline, the PIT
    lookup IS a backward as-of join against the interval START rows —
    so the builder composes two existing operators (the SCD2
    change-suppression build and asof.py's union-merge) into one
    shuffle-on-user plan with no range-join row blowup. The oracle
    instead joins the genuine interval predicate
    [valid_from, valid_to) — a definitionally independent formulation,
    so agreement pins that as-of-on-starts == interval-membership.
    Change rows tied on (user, valid_from) pre-dedupe to the highest
    event_id, the suite's as-of convention, making the match
    deterministic.

    Plan shape at 100 TB: the SCD2 build is one exchange + sort per its
    entry; the PIT lookup is one more shuffle on the same key. Nothing
    here multiplies rows — the classic naive PIT (range join then
    row_number) pays an O(|facts|·|intervals-per-user|) intermediate
    this formulation never materializes."""
    from pyspark.sql import Window as W

    from spark_jdbc_limit_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    w_ev = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w_ev).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w_tie = W.partitionBy("user_id", "valid_from").orderBy(F.desc("event_id"))
    dedup = (
        changes.withColumn("rn", F.row_number().over(w_tie))
        .filter(F.col("rn") == 1)
        .select("user_id", "valid_from", F.col("event_type").alias("state_at_order"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    joined = asof_join(
        o,
        dedup,
        on_left="o_orderdate",
        on_right="valid_from",
        by_left="o_custkey",
        by_right="user_id",
        right_payload=["state_at_order"],
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "state_at_order",
    ).orderBy("o_orderkey")


@query(
    "join_asof_nearest",
    category="join",
    description="Nearest as-of join: each event picks the user's order closest in time, either direction (backward wins ties)",
    oracle="""
        WITH dedup AS (
            SELECT o_custkey, o_orderdate, MIN(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        ),
        cand AS (
            SELECT e.event_id,
                   d.o_orderkey,
                   ABS(epoch_us(e.ts) - epoch_us(d.o_orderdate)) AS gap_us,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY ABS(epoch_us(e.ts) - epoch_us(d.o_orderdate)),
                                d.o_orderdate, d.o_orderkey) AS rk
            FROM events e JOIN dedup d ON d.o_custkey = e.user_id
        )
        SELECT e.event_id, e.user_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
               c.o_orderkey AS nearest_orderkey,
               c.gap_us
        FROM events e
        LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c USING (event_id)
        ORDER BY e.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of — the third direction the family needs ("which
    order is this event ABOUT", when the event may precede or follow
    it): each event matches the user's order with the smallest
    |event_ts − order_date|, ties broken toward the EARLIER order date
    (i.e. the backward match) and then the smaller orderkey. Built as
    the composition of the existing union-merge operator run BOTH ways
    — one backward pass (latest ≤ ts) and one forward pass (earliest
    ≥ ts), then a per-row argmin over the two candidates — so nearest
    costs exactly two as-of shuffles, never a per-user range
    explosion. The right side pre-dedupes to MIN orderkey per
    (custkey, orderdate) so both passes and the oracle's exhaustive
    per-event argmin (a definitionally independent formulation —
    rank ALL the user's orders by |gap|) share one tie rule. Gaps are
    exact integer microseconds — no float anywhere.

    Plan shape at 100 TB: two asof.py union-merge passes (shuffle on
    user, in-partition merge frame) + a columnar per-row choice; the
    oracle's events×orders-per-user join is the naive baseline this
    entry exists to avoid."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    dedup = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.min("o_orderkey").alias("o_orderkey")
    )
    # BOTH directions from ONE tagged union (optimization round 15,
    # guide §2.4): the two asof_join passes shuffled the same event/order
    # union twice (column-order differences defeat exchange reuse) and a
    # third event_id exchange pair re-joined their outputs. One exchange
    # on the by-key now feeds two windows — backward fill over
    # (t asc, side asc) [preceding, current] and forward fill over
    # (t asc, side desc) [current, following], exactly asof.py's frames,
    # so the fills (and the argmin below) are value-identical. Cost:
    # one shuffle + two in-partition sorts; no re-join.
    l_tagged = ev.select(
        "user_id",
        F.col("ts").alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(dedup.schema["o_orderkey"].dataType).alias("__ok"),
        F.lit(None).cast(dedup.schema["o_orderdate"].dataType).alias("__od"),
        "event_id",
        "ts",
    )
    r_tagged = dedup.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("__t"),
        F.lit(0).alias("__side"),
        F.col("o_orderkey").alias("__ok"),
        F.col("o_orderdate").alias("__od"),
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w_b = (
        W.partitionBy("user_id")
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_f = (
        W.partitionBy("user_id")
        .orderBy(F.col("__t").asc(), F.col("__side").desc())
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    matched = unioned.select(
        "*",
        F.last("__ok", ignorenulls=True).over(w_b).alias("o_orderkey_b"),
        F.last("__od", ignorenulls=True).over(w_b).alias("o_orderdate_b"),
        F.first("__ok", ignorenulls=True).over(w_f).alias("o_orderkey_f"),
        F.first("__od", ignorenulls=True).over(w_f).alias("o_orderdate_f"),
    ).filter(F.col("__side") == 1)
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_b = F.abs(t_us - F.unix_micros(F.col("o_orderdate_b").cast("timestamp")))
    gap_f = F.abs(t_us - F.unix_micros(F.col("o_orderdate_f").cast("timestamp")))
    # argmin over the two candidates; ties -> backward (the earlier date);
    # a missing side loses automatically via null-safe comparison
    take_b = F.col("o_orderkey_b").isNotNull() & (
        F.col("o_orderkey_f").isNull() | (gap_b <= gap_f)
    )
    return (
        matched
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            F.when(take_b, F.col("o_orderkey_b"))
            .otherwise(F.col("o_orderkey_f"))
            .alias("nearest_orderkey"),
            F.when(take_b, gap_b).otherwise(gap_f).alias("gap_us"),
        )
        .orderBy("event_id")
    )
