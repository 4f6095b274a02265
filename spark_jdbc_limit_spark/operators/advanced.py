"""Advanced relational coverage: correlated/scalar/IN subqueries, unpivot,
generator functions (explode over generated arrays), exact percentiles,
approximate quantiles, and the salted two-phase aggregation used for
hot-key skew.

Subqueries matter for parity because the reference's users wrote plain
Spark SQL over its relations (reference: README.md:38-40 drives
DataFrame ops through the patched scan); decorrelation is Catalyst's job
and these queries pin that it happens (no per-row re-execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import dec_sum, round_dbl, sql_dec_sum, sql_round_dbl
from spark_jdbc_limit_spark.operators.reuse import memo
from spark_jdbc_limit_spark.sources.catalog import load_table


@query(
    "subquery_correlated",
    category="subquery",
    description="Correlated scalar subquery: orders 1.5× above the customer's average",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey
        FROM orders o
        WHERE o.o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                                FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst decorrelates this into an aggregate + join — one pass over
    orders, not a subquery per row (assert: no more than 2 exchanges)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey
        FROM orders_sq o
        WHERE o.o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                                FROM orders_sq o2
                                WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
        """
    )


@query(
    "subquery_scalar_and_in",
    category="subquery",
    description="Uncorrelated scalar subquery + IN-subquery membership",
    oracle="""
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
          AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        ORDER BY c_custkey
    """,
)
def subquery_scalar_and_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_sq")
    return spark.sql(
        """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM customer_sq
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer_sq)
          AND c_nationkey IN (SELECT n_nationkey FROM nation_sq WHERE n_regionkey = 2)
        ORDER BY c_custkey
        """
    )


@query(
    "unpivot_measures",
    category="reshape",
    description="Unpivot (melt): lineitem measures to long form",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        FROM lineitem WHERE l_orderkey < 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 200
        ORDER BY l_orderkey, l_linenumber, measure
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.unpivot is a zero-shuffle Expand — n_measures× rows, same
    partitioning; the inverse of agg_pivot."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "measure",
            "value",
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


@query(
    "generator_posexplode_sequence",
    category="reshape",
    description="Generated arrays + posexplode (lateral row generation)",
    oracle="""
        SELECT o_orderkey, CAST(i - 1 AS INTEGER) AS pos, CAST(i AS BIGINT) AS installment,
               FLOOR((o_totalprice / (o_orderkey % 4 + 1)) * 100.0 + 0.5) / 100.0
                   AS installment_amount
        FROM orders, UNNEST(range(1, o_orderkey % 4 + 2)) AS t(i)
        WHERE o_orderkey < 500
        ORDER BY o_orderkey, pos
    """,
)
def generator_posexplode_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generation without a UDTF: sequence() builds the array JVM-side,
    posexplode laterally expands — the idiom for date spines, installment
    schedules, retry fans."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    n = (F.col("o_orderkey") % 4 + 1).cast("int")
    return (
        o.select(
            "o_orderkey",
            F.posexplode(F.sequence(F.lit(1).cast("long"), n.cast("long"))).alias(
                "pos", "installment"
            ),
            round_dbl(F.col("o_totalprice") / n, 2).alias("installment_amount"),
        )
        .select("o_orderkey", F.col("pos").cast("int").alias("pos"), "installment", "installment_amount")
        .orderBy("o_orderkey", "pos")
    )


@query(
    "percentile_exact",
    category="aggregation",
    description="Exact interpolated percentiles (p25/p50/p75) per status",
    oracle=f"""
        SELECT o_orderstatus,
               {sql_round_dbl('quantile_cont(o_totalprice, 0.25)', 4)} AS p25,
               {sql_round_dbl('quantile_cont(o_totalprice, 0.50)', 4)} AS p50,
               {sql_round_dbl('quantile_cont(o_totalprice, 0.75)', 4)} AS p75
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition; both interpolate between the SAME two sorted
    neighbors, so the doubles agree to the last ulp."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            round_dbl(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            round_dbl(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
            round_dbl(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "approx_quantiles",
    category="aggregation",
    description="approx_percentile sketch (scale path for quantiles)",
    oracle="""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.50) AS p50,
               quantile_disc(l_extendedprice, 0.95) AS p95,
               quantile_disc(l_extendedprice, 0.99) AS p99
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentiles: mergeable partial state, one shuffle row per
    group — the 100 TB path where exact percentile's full sort/collect of
    the group is impossible. Oracle pairing: with accuracy >= the group
    row count the sketch keeps every sample and answers EXACTLY the
    discrete quantile DuckDB's ``quantile_disc`` defines (both return the
    smallest element covering rank ceil(p*n)), so the differential is
    byte-exact at test scale; production would dial accuracy down to
    ~10^4 and accept rank error n/accuracy. Output is one scalar column
    per percentile (never an array column — the driver's canonicalizer
    compares scalars)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000000)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("q"))
        .select(
            "l_returnflag",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p95"),
            F.col("q")[2].alias("p99"),
        )
        .orderBy("l_returnflag")
    )


SALT_BUCKETS = 16


@query(
    "agg_salted_two_phase",
    category="aggregation",
    description=f"Two-phase salted aggregation ({SALT_BUCKETS} salts) for hot keys",
    oracle=f"""
        SELECT l_returnflag,
               {sql_dec_sum('l_quantity', 'sum_qty')},
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pattern: phase 1 aggregates on (key, salt) — a hot key's rows
    spread over SALT_BUCKETS reducers — phase 2 merges the partials per
    key. Result identical to the plain aggregation (the oracle IS the
    plain aggregation); only the shuffle distribution changes. l_returnflag
    has 3 values over all of lineitem — exactly the shape that would
    bottleneck 3 reducers at 100 TB without salting."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "__salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("part_qty"),
        F.count(F.lit(1)).alias("part_n"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("part_qty"), 2).cast("double").alias("sum_qty"),
            F.sum("part_n").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "join_lateral_topn",
    category="join",
    description="LATERAL correlated subquery: top-2 customers per nation",
    oracle="""
        SELECT n.n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        FROM nation n,
             LATERAL (SELECT c_custkey, c_acctbal
                      FROM customer
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey
                      LIMIT 2) c
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in the FROM clause — per outer row, a
    dependent top-N. Catalyst rewrites the correlation into a window +
    filter (DomainJoin decorrelation), so execution is one shuffle on the
    correlation key, never a per-nation re-scan of customer."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        FROM nation_lat n
        JOIN LATERAL (SELECT c_custkey, c_acctbal
                      FROM customer_lat
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey
                      LIMIT 2) c
        """
    )


@query(
    "sort_null_ordering",
    category="sort",
    description="Explicit NULLS LAST ordering + deterministic top-100",
    oracle="""
        SELECT event_id, user_id, purchase_value
        FROM (SELECT event_id, user_id,
                     CASE WHEN event_type = 'purchase' THEN ROUND(value, 4) END
                         AS purchase_value
              FROM events) t
        ORDER BY purchase_value ASC NULLS LAST, event_id
        LIMIT 100
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null placement is ENGINE-DEPENDENT by default (Spark sorts nulls
    first ascending, DuckDB last) — portable queries must spell it out.
    Explicit asc_nulls_last (Spark's NON-default) + unique tiebreak makes
    the top-100 a deterministic set of real values; the limit keeps it
    TakeOrderedAndProject (no global sort)."""
    ev = load_table(spark, sf_dir, "events")
    purchase_value = F.when(
        F.col("event_type") == "purchase", F.round("value", 4)
    ).alias("purchase_value")
    return (
        ev.select("event_id", "user_id", purchase_value)
        .orderBy(F.col("purchase_value").asc_nulls_last(), F.col("event_id"))
        .limit(100)
    )


@query(
    "global_rownum_two_phase",
    category="sort",
    description="Scalable global row numbering: monotonic bucket + local rank + tiny offset join",
    oracle="""
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        FROM orders
        WHERE o_orderstatus = 'O'
    """,
)
def global_rownum_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbers WITHOUT the single-partition window.

    The naive ``row_number() OVER (ORDER BY k)`` has an empty PARTITION BY,
    so Spark funnels the whole table through ONE task — the canonical
    100 TB job killer. Two-phase on a MONOTONIC bucket of the key:

    1. ``bucket = floor(k / W)`` — order-preserving (every key in bucket
       i sorts below every key in bucket i+1), computed from the value
       itself so it is deterministic across plan branches (unlike
       ``spark_partition_id()``, which AQE re-assigns) and costs no
       sampling pass (unlike ``repartitionByRange``).
    2. ``row_number`` partitioned by bucket — ONE hash shuffle, every
       bucket numbered in parallel.
    3. Per-bucket counts → running-total offsets via a window over that
       MICRO relation (#buckets rows — the only single-task step) →
       broadcast-join back: ``rn = offset + local_rn``.

    Fully declarative (no collect, no RDD zipWithIndex); bucket width
    trades bucket-size skew against offset-table size — at 100 TB pick
    W so #buckets ≈ 10⁵–10⁶: still a kilobyte-scale broadcast."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    # body: the shared two_phase_rank (extracted round-8b) — one
    # implementation of the bucket/local-rank/offset algorithm repo-wide
    return two_phase_rank(o, "o_orderkey", ["o_orderkey"]).select(
        "o_orderkey", F.col("rank").alias("rn")
    )


BASKET_TOPK = 100


@query(
    "basket_pair_cooccurrence",
    category="aggregation",
    description=f"Market-basket part-pair co-occurrence, top {BASKET_TOPK} by support",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a
        JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY support DESC, part_a, part_b
        LIMIT {BASKET_TOPK}
    """,
)
def basket_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis — pairwise co-occurrence support, the first
    step of association-rule mining (and of "related items" retrieval).
    The pair space is generated INSIDE each basket with ONE fact
    shuffle: each order's distinct parts are grouped into a sorted set
    (``collect_set`` absorbs the quantity-split dedup), then a codegen
    slice/transform expansion emits the C(|basket|, 2) ordered pairs
    in-row — the supplier co-order edge builder's shape (graph.py). At
    sf0.1 this times even with the distinct + self-equi-join
    formulation (Catalyst reuses the distinct's exchange for the
    self-join, so that plan is also effectively single-shuffle) — the
    set form is kept because its shuffle budget is guaranteed by
    construction, not by an optimizer exchange-reuse that a second
    consumer of `items` would silently break. The per-order set is
    basket-bounded (TPC-H baskets average ~4 items → ~6 pairs); the
    pair-keyed count partial-aggregates map-side; top-k with the full
    (support, part_a, part_b) tie-break plans as
    TakeOrderedAndProject — no global sort of the pair space. At
    100 TB the known skew risk is a mega-basket (one order with 10⁶
    items); production caps basket size or salts the basket key — the
    shape here documents the bound."""
    li = load_table(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_structs = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + 2, F.size("ps")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


LIFT_TOPK = 50


@query(
    "basket_lift_rules",
    category="aggregation",
    description=f"Association rules for the top-{LIFT_TOPK} part pairs: support, confidence both ways, lift",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n
               FROM items),
        isup AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
            FROM items GROUP BY l_partkey
        ),
        psup AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS supp_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            ORDER BY supp_ab DESC, part_a, part_b
            LIMIT {LIFT_TOPK}
        )
        SELECT p.part_a, p.part_b, p.supp_ab,
               {sql_round_dbl('CAST(p.supp_ab AS DOUBLE) / sa.s', 4)}
                   AS conf_a_to_b,
               {sql_round_dbl('CAST(p.supp_ab AS DOUBLE) / sb.s', 4)}
                   AS conf_b_to_a,
               {sql_round_dbl(
                   'CAST(p.supp_ab AS DOUBLE) * nb.n / (sa.s * sb.s)', 4)}
                   AS lift
        FROM psup p
        JOIN isup sa ON sa.l_partkey = p.part_a
        JOIN isup sb ON sb.l_partkey = p.part_b
        CROSS JOIN nb
    """,
)
def basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining finished end to end: for the strongest
    co-occurring part pairs, the rule metrics that decide whether the
    pattern is real — confidence in both directions (P(b|a), P(a|b))
    and LIFT (observed co-support over the independence expectation;
    lift ≈ 1 means the pair co-occurs by popularity alone). Scale
    shape: ONE fact shuffle total — the per-order ``collect_set``
    basket relation feeds all three statistics (in-row pair expansion
    for pair supports, explode for item supports, a count for the
    basket total; the distinct + self-join formulation would shuffle
    the fact relation twice more); the top-{LIFT_TOPK} cut is
    TakeOrderedAndProject; item supports are a part-cardinality
    relation (dimension-scale → broadcast); the basket total is a
    one-row relation cross-joined in. Every metric is an exact integer
    ratio computed identically in both engines, rounded for display."""
    li = load_table(spark, sf_dir, "lineitem")
    sets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=False)  # feeds pairs, item supports, N
    )
    nb = sets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    isup = sets.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("s"))
    pair_structs = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + 2, F.size("ps")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    psup = (
        sets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .orderBy(F.col("supp_ab").desc(), "part_a", "part_b")
        .limit(LIFT_TOPK)
    )
    sa = isup.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("s_a"))
    sb = isup.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("s_b"))
    return (
        psup.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(nb))  # one-row basket total
        .select(
            "part_a",
            "part_b",
            "supp_ab",
            round_dbl(F.col("supp_ab") / F.col("s_a"), 4).alias("conf_a_to_b"),
            round_dbl(F.col("supp_ab") / F.col("s_b"), 4).alias("conf_b_to_a"),
            round_dbl(
                F.col("supp_ab") * F.col("n") / (F.col("s_a") * F.col("s_b")), 4
            ).alias("lift"),
        )
    )


#: Equi-depth range buckets for the global-sort audit. At a real 100 TB
#: sort this is the number of RANGE PARTITIONS (Spark's orderBy computes
#: the same cutpoints by sampling inside RangePartitioner); 8 keeps the
#: oracle's cross-join of cutoff columns readable — the shape is
#: identical at 10,000.
RANGE_SORT_BUCKETS = 8
_RANGE_FRACS = [i / RANGE_SORT_BUCKETS for i in range(1, RANGE_SORT_BUCKETS)]


def equidepth_exact_cuts(spark: SparkSession, values: DataFrame, col: str) -> DataFrame:
    """Exact percentile cutoffs at ``_RANGE_FRACS`` WITHOUT the percentile
    counts-map (optimization round 14, guide §2.2/§5): Spark's
    ``percentile(col, array(...))`` builds an exact value→count map per
    partition and merges the maps single-reducer — at 583k distinct values
    per 600k rows the map IS the corpus, and at 100 TB it is unbounded
    aggregate state. The escape the round-12 comment in the caller already
    named is the histogram-pruned order-statistic two-phase that
    ``sample_stratified_exact`` uses for its cutoffs:

    1. unit-resolution value histogram (``floor(v)`` — domain-bounded to
       ~105k rows whatever the ROW count: a partial-aggregated micro
       shuffle);
    2. cumulative counts over the micro histogram locate, for each
       fraction f, WHICH value bucket holds order statistics
       floor/ceil(f·(n−1)) — at most ``2·len(fracs)`` survivor buckets;
    3. only survivor-bucket rows (a few hundred) pay an exact sort; the
       two order statistics interpolate with Spark's own formula
       ``(hi−pos)·v_lo + (pos−lo)·v_hi`` (Percentile.scala), pinned
       bit-for-bit against ``percentile()`` in
       tests/test_scale_ops.py::test_equidepth_two_phase_cuts_exact.

    The within-bucket sort order among TIED values is irrelevant: only the
    value AT a global index is read, and ties share the value. Returns a
    one-row relation with columns ``c1..c{B-1}``, same shape the old
    single-aggregate form produced.
    """
    from pyspark.sql.window import Window as W

    li = values.select(F.col(col).alias("_v"))
    hist = li.groupBy(F.floor("_v").alias("vb")).agg(F.count(F.lit(1)).alias("c"))
    run = F.sum("c").over(W.orderBy("vb").rowsBetween(W.unboundedPreceding, 0))
    cum = hist.select("vb", "c", run.alias("cum")).withColumn(
        "cum0", F.col("cum") - F.col("c")
    )
    n_rel = hist.agg(F.sum("c").alias("n"))
    fr = spark.createDataFrame(
        [(i, f) for i, f in enumerate(_RANGE_FRACS, 1)], "fi INT, f DOUBLE"
    )
    # pos replicates Percentile.scala's `percentage * (count - 1)`:
    # long→double promotion then one double multiply. The eighths are
    # exact binary doubles, so the literal round-trips losslessly.
    targets = (
        fr.crossJoin(F.broadcast(n_rel))
        .select("fi", "f", (F.col("f") * (F.col("n") - F.lit(1))).alias("pos"))
        .select(
            "fi", "f", "pos", F.floor("pos").alias("lo"), F.ceil("pos").alias("hi")
        )
    )
    idx = targets.select(
        "fi",
        "pos",
        "lo",
        "hi",
        F.explode(F.array_distinct(F.array("lo", "hi"))).alias("idx"),
    )
    located = idx.join(
        F.broadcast(cum),
        (F.col("idx") >= F.col("cum0")) & (F.col("idx") < F.col("cum")),
    )
    need = located.select("vb", "cum0").distinct()
    gidx = (
        F.row_number().over(W.partitionBy("vb").orderBy("_v"))
        - F.lit(1)
        + F.col("cum0")
    )
    stat = li.join(F.broadcast(need), F.floor("_v") == F.col("vb")).select(
        F.col("_v").alias("v"), gidx.alias("gidx")
    )
    picked = located.select("fi", "pos", "lo", "hi", "idx").join(
        stat, F.col("idx") == F.col("gidx")
    )
    per_f = picked.groupBy("fi", "pos", "lo", "hi").agg(
        F.max(F.when(F.col("idx") == F.col("lo"), F.col("v"))).alias("vl"),
        F.max(F.when(F.col("idx") == F.col("hi"), F.col("v"))).alias("vh"),
    )
    interp = F.when(F.col("hi") == F.col("lo"), F.col("vl")).otherwise(
        (F.col("hi").cast("double") - F.col("pos")) * F.col("vl")
        + (F.col("pos") - F.col("lo").cast("double")) * F.col("vh")
    )
    cut_rows = per_f.select("fi", interp.alias("cut"))
    return cut_rows.groupBy().agg(
        *[
            F.max(F.when(F.col("fi") == i, F.col("cut"))).alias(f"c{i}")
            for i in range(1, RANGE_SORT_BUCKETS)
        ]
    )


@query(
    "sort_range_equidepth_audit",
    category="sort",
    description=f"Global sort as {RANGE_SORT_BUCKETS} exact equi-depth range buckets, with disjointness audit",
    oracle=f"""
        WITH cuts AS (
            SELECT {', '.join(
                f'quantile_cont(l_extendedprice, {f}) AS c{i}'
                for i, f in enumerate(_RANGE_FRACS, 1)
            )}
            FROM lineitem
        ),
        b AS (
            SELECT l_extendedprice AS p,
                   CAST({' + '.join(
                       f'(CASE WHEN l_extendedprice > c{i} THEN 1 ELSE 0 END)'
                       for i in range(1, RANGE_SORT_BUCKETS)
                   )} AS BIGINT) AS bucket
            FROM lineitem CROSS JOIN cuts
        ),
        s AS (
            SELECT bucket, COUNT(*) AS n_rows,
                   ROUND(MIN(p), 2) AS min_price,
                   ROUND(MAX(p), 2) AS max_price
            FROM b GROUP BY bucket
        )
        SELECT bucket, n_rows, min_price, max_price,
               CAST(COALESCE(min_price >= LAG(max_price) OVER (ORDER BY bucket),
                             TRUE) AS INT) AS monotone_ok
        FROM s ORDER BY bucket
    """,
)
def sort_range_equidepth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a global ORDER BY actually is at 100 TB: range-partition on
    exact distribution cutpoints, sort each partition locally, and rely
    on partition ranges being DISJOINT for global order — no single-task
    sort anywhere (Spark's own ``orderBy`` does exactly this via
    RangePartitioner, but with SAMPLED cutpoints it neither exposes nor
    audits). This entry makes the contract inspectable: exact
    equi-depth cutoffs (histogram-pruned two-phase, a 1-row broadcast), a
    codegen bucket assignment (sum of comparisons — no per-row UDF, no
    binary search needed at 8 buckets), and per-bucket (count, min, max)
    where ``monotone_ok`` PROVES bucket i's minimum clears bucket i-1's
    maximum — the disjointness a downstream merge-read depends on. The
    final window runs over {RANGE_SORT_BUCKETS} rows, micro by
    construction (the corpus-sized work is one partial-aggregated
    shuffle). Equi-depth (not equi-width) is what survives skew: every
    bucket holds ~N/B rows whatever the value distribution, so no
    sort-task straggles. Cross-engine determinism rides on
    percentile ≡ quantile_cont exact interpolation, the agreement the
    quality gate already margin-pins (`tests/test_pipeline_ops.py`);
    rows exactly AT a cutpoint land below it in both engines (strict
    `>`)."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    # Cutoffs via the histogram-pruned order-statistic two-phase (see
    # equidepth_exact_cuts): same exact values `percentile(col,
    # array(...))` produced (bit-for-bit, pinned in
    # tests/test_scale_ops.py), without the counts-map aggregate whose
    # state grows with distinct-value count — 583k entries here, the
    # corpus itself at 100 TB.
    cuts = equidepth_exact_cuts(spark, li, "l_extendedprice")
    bucket = sum(
        (F.col("l_extendedprice") > F.col(f"c{i}")).cast("long")
        for i in range(1, RANGE_SORT_BUCKETS)
    ).alias("bucket")
    stats = (
        li.crossJoin(F.broadcast(cuts))  # one-row cutoff relation
        .select(F.col("l_extendedprice").alias("p"), bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("p"), 2).alias("min_price"),
            F.round(F.max("p"), 2).alias("max_price"),
        )
    )
    prev_max = F.lag("max_price").over(W.orderBy("bucket"))
    return stats.select(
        "bucket",
        "n_rows",
        "min_price",
        "max_price",
        F.coalesce(F.col("min_price") >= prev_max, F.lit(True))
        .cast("int")
        .alias("monotone_ok"),
    ).orderBy("bucket")


SKYLINE_BUCKET_WIDTH = 64.0  # price units per bucket (monotone, no sampling)


@query(
    "sort_pareto_skyline",
    category="sort",
    description="2-D Pareto skyline (min price, max size) via two-phase prefix max",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
        ORDER BY p.p_partkey
    """,
)
def sort_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query: parts not dominated on
    (price lower-better, size higher-better). The textbook formulation is
    a quadratic NOT EXISTS self-join (the oracle); the scalable plan is a
    sort-order argument turned into aggregates + prefix maxima:

    a row is in the skyline  iff  size == max(size | same price)
                             AND  size >  max(size | strictly cheaper).

    The strict-prefix max is computed WITHOUT a global single-task sort,
    on the bucket-offset shape of ``global_rownum_two_phase``:

    1. hash-aggregate to the distinct-price relation (price → group max) —
       the only corpus-sized exchange;
    2. monotone bucket = floor(price / W) (order-preserving, no sampling
       pass); per-bucket maxima form a #buckets-row micro relation whose
       running max (the single-task window, ~dozens of rows) gives each
       bucket the max size over all STRICTLY EARLIER buckets;
    3. inside each bucket a partitioned window gives the strictly-cheaper
       max over local rows; the true strict-prefix max is the greater of
       the two (``greatest`` skips the NULLs at the front edges);
    4. broadcast the per-price verdict relation back onto part rows.

    At 100 TB: one shuffle over distinct prices, one broadcast join, and
    a window whose partitions are price buckets — no unbounded partition
    anywhere. Ties: identical (price, size) pairs do not dominate each
    other (no strict inequality), so all of them survive — both engines
    agree because the condition is pure arithmetic on group maxima."""
    from pyspark.sql.window import Window as W

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    # gmax feeds both the bucket maxima and the verdict join — checkpoint
    # so the distinct-price aggregate scans part ONCE (no CSE across
    # DataFrame branches).
    gmax = (
        p.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("gmax"))
        .withColumn(
            "bucket", F.floor(F.col("p_retailprice") / SKYLINE_BUCKET_WIDTH)
        )
        .localCheckpoint(eager=False)
    )
    bucket_max = gmax.groupBy("bucket").agg(F.max("gmax").alias("bmax"))
    prefix = bucket_max.withColumn(
        "bucket_prefix",
        F.max("bmax").over(
            W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
        ),
    ).select("bucket", "bucket_prefix")
    local_strict = F.max("gmax").over(
        W.partitionBy("bucket")
        .orderBy("p_retailprice")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    verdicts = (
        gmax.join(F.broadcast(prefix), "bucket")
        .select(
            "p_retailprice",
            "gmax",
            F.greatest(local_strict, F.col("bucket_prefix")).alias("smax"),
        )
    )
    return (
        p.join(F.broadcast(verdicts), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("smax").isNull() | (F.col("p_size") > F.col("smax")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


#: Z-order audit shape: the ORACLE always interleaves ZORDER_MAX_BITS
#: bits per dimension — the most two dimensions can share in a signed
#: long (2·31 = 62 bit positions) — while the SPARK side derives its bit
#: count from the OBSERVED key maxima (one 1-row parameter fetch, the
#: PQ-codebook convention), so the audit adapts to any SF instead of
#: aborting past a tuned constant (round-9 verdict #5). The two z-value
#: definitions agree because interleave terms above a key's bit length
#: contribute exactly zero: any bits ≥ needed produces the same Morton
#: key. Keys past 2^31 raise a named error — a 2-D Morton key over
#: longs physically cannot cover them; that is the honest boundary, not
#: a tuning choice. 64 equal-count blocks are cut by (rank-1)·B div n
#: over a two-phase parallel rank, and the two single-dimension probe
#: boxes derive from the data in pure integer arithmetic
#: (max//8 .. max//4) so selectivity stays comparable across SFs.
ZORDER_MAX_BITS = 31
ZORDER_BLOCKS = 64
#: Lead-key bucket granularity for the audit's survivor-bucket global
#: rank (optimization round 15): 2^12 = 4096 monotonic buckets vs 64
#: blocks means at most 63 buckets per layout span a block boundary, so
#: on a roughly uniform lead only ~63/4096 of rows ever see a rank
#: window; every other bucket's block stats aggregate wholesale. Skewed
#: leads only grow the survivor set (correctness never depends on
#: bucket balance). Bound on the rows that go through the ranked path:
#: at most the rows of the <= ZORDER_BLOCKS-1 buckets that span a block
#: boundary — about 63/4096 ~ 1.5% of rows on a uniform lead, and all
#: rows when the lead sits in one bucket.
_ZB_BUCKET_BITS = 12


def _interleave_sql(col: str, offset: int) -> str:
    """Bit-spread SQL for the ORACLE: bit b of ``col`` lands at position
    2b+offset — the same Morton convention as the Spark-side
    ``sources.zorder.interleave_bits`` (bit j of col i → j·n+i), which
    the builder uses; the differential hash proves the two stay equal.
    Integer-div/mod arithmetic only (DuckDB spells integer div `//`)."""
    return " + ".join(
        f"(((CAST({col} AS BIGINT) DIV {1 << b}) % 2) * {1 << (2 * b + offset)})"
        for b in range(ZORDER_MAX_BITS)
    )


def two_phase_rank(
    base: DataFrame, lead: str, order_cols: list[str], buckets: int = 128
) -> DataFrame:
    """Global contiguous row rank WITHOUT a single-task window — the
    reusable form of ``global_rownum_two_phase``'s pattern, shared by
    the z-order layout audit, the batch-padding audit, Gini, and
    Spearman. ``lead`` must be the LEADING column of ``order_cols``
    and numeric (negatives allowed: the extent is shifted to zero
    before bucketing): the adaptive-width monotonic bucket
    ``(lead - min) div w`` preserves the global order across buckets,
    every bucket ranks in parallel, and per-bucket counts roll into
    offsets over a micro relation (≤ ``buckets`` + 1 rows).
    Returns ``base``'s columns plus ``rank`` (1-based, long)."""
    from pyspark.sql.window import Window

    ext = base.agg(
        F.min(lead).cast("long").alias("mn"),
        F.greatest(
            ((F.max(lead) - F.min(lead)) / buckets).cast("long") + 1, F.lit(1)
        ).alias("w"),
    )
    b = base.crossJoin(F.broadcast(ext)).withColumn(
        "bkt", ((F.col(lead) - F.col("mn")) / F.col("w")).cast("long")
    )
    local = b.withColumn(
        "local_rn",
        F.row_number().over(Window.partitionBy("bkt").orderBy(*order_cols)),
    )
    offsets = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "bkt")
        .withColumn("rank", (F.col("offset") + F.col("local_rn")).cast("long"))
        .drop("bkt", "mn", "w", "local_rn", "offset")
    )


def zorder_z_sql() -> str:
    """The full two-column Morton expression in DuckDB spelling — the
    single definition shared by the oracle and the parity test in
    tests/test_zorder.py (drift between the two would silently weaken
    the pin)."""
    return (
        _interleave_sql("l_partkey", 0).replace(" DIV ", " // ")
        + " + "
        + _interleave_sql("l_suppkey", 1).replace(" DIV ", " // ")
    )


def _zorder_oracle() -> str:
    z = zorder_z_sql()
    return f"""
        WITH ext AS (
            SELECT MAX(l_partkey) // 8 AS plo, MAX(l_partkey) // 4 AS phi,
                   MAX(l_suppkey) // 8 AS slo, MAX(l_suppkey) // 4 AS shi
            FROM lineitem
        ),
        base AS (
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, {z} AS z
            FROM lineitem
        ),
        tot AS (SELECT COUNT(*) AS n FROM lineitem),
        laid AS (
            SELECT 'zorder' AS layout, l_partkey, l_suppkey,
                   ((ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber) - 1)
                       * {ZORDER_BLOCKS}) // (SELECT n FROM tot) AS blk
            FROM base
            UNION ALL
            SELECT 'lex', l_partkey, l_suppkey,
                   ((ROW_NUMBER() OVER
                       (ORDER BY l_partkey, l_suppkey, l_orderkey, l_linenumber) - 1)
                       * {ZORDER_BLOCKS}) // (SELECT n FROM tot)
            FROM base
        ),
        blocks AS (
            SELECT layout, blk,
                   MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs,
                   MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
                   COUNT(*) AS n
            FROM laid GROUP BY 1, 2
        ),
        summary AS (
            SELECT layout,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(SUM(CASE WHEN mns > shi OR mxs < slo THEN 1 ELSE 0 END) AS BIGINT)
                       AS pruned_trailing,
                   CAST(SUM(CASE WHEN mns > shi OR mxs < slo THEN 0 ELSE n END) AS BIGINT)
                       AS scanned_trailing,
                   CAST(SUM(CASE WHEN mnp > phi OR mxp < plo THEN 1 ELSE 0 END) AS BIGINT)
                       AS pruned_leading,
                   CAST(SUM(CASE WHEN mnp > phi OR mxp < plo THEN 0 ELSE n END) AS BIGINT)
                       AS scanned_leading
            FROM blocks CROSS JOIN ext GROUP BY 1
        )
        SELECT s.*, TRUE AS zorder_wins_trailing, TRUE AS lex_holds_leading
        FROM summary s ORDER BY layout
    """


def _zorder_block_summary(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """The audit's per-layout block summary — the full machinery of
    ``sort_zorder_skipping_audit``, which adds only the 2-row comparison
    booleans on top. ``checkpoint=False`` skips the final 2-row lazy
    checkpoint so plan dumps can show the full pipeline (the entry
    always checkpoints — two consumers).

    Data LAYOUT as an operator — the mechanism behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY``: interleave the bits of (l_partkey,
    l_suppkey) into a Morton z-value, lay rows out in z order, and audit
    what the layout buys via the same min/max statistics parquet footers
    carry. Each layout (z-order vs lexicographic partkey-then-suppkey)
    is cut into ZORDER_BLOCKS (64) equal-count blocks (= files/row-groups); a block is
    prunable for a box query iff its [min,max] envelope misses the box.
    Two probe boxes tell the whole story: on the TRAILING dimension
    (suppkey-only box) the lexicographic layout prunes NOTHING — every
    block spans all suppkeys — while z-order prunes most blocks; on the
    LEADING dimension both prune well. Both comparisons are emitted as
    audited booleans the oracle asserts TRUE, and every number is exact
    integer arithmetic, so the driver hash-checks the full pruning
    matrix cross-engine.

    Plan shape (optimization round 15, guide §2.3 — the equidepth
    survivor-bucket pattern applied to BOTH layouts at once): the
    z-value is ``sources.zorder.interleave_bits`` — a per-row shift/mask
    OR-tree inside whole-stage codegen. Block assignment needs a GLOBAL
    rank per layout, but almost no row needs one individually: ONE
    explode-tagged pass aggregates per-bucket count/min/max stats for
    both layouts' monotonic lead-key buckets (top ``_ZB_BUCKET_BITS``
    bits of each lead — 4096 buckets vs 64 blocks), cumulative counts
    over that micro relation locate each bucket's block span, buckets
    that sit inside one block contribute their stats wholesale, and
    only rows of the ≤ B−1 boundary-SPANNING buckets per layout (~1-2%
    of the data) pay an exact rank — a tiny window partitioned by
    (layout, bkt) with ``rank = offset + local row_number``. The
    previous form ranked EVERY row through two full-fact bucket windows
    plus three separate stat passes; now no fact-sized exchange remains
    and the checkpointed base is read twice (stats pass + survivor
    pass). ``blk = (rank-1)·B div n`` cuts the same equal-count blocks —
    the same formula in both engines, so the differential pins it. At
    100 TB the layout IS the write: the sibling
    ``sources.zorder.write_zordered`` (repartitionByRange(z) +
    sortWithinPartitions, tested against REAL parquet row-group min/max
    in tests/test_zorder.py) makes every output file a z-contiguous
    block and the footer stats do this pruning at scan time for free;
    the equal-count blocks here exist so the audit's output shape is
    scale-invariant and oracle-checkable. Probe boxes derive from
    MAX(key) by integer division — no floats anywhere in the pipeline.
    """
    from spark_jdbc_limit_spark.sources.zorder import interleave_bits

    li = load_table(spark, sf_dir, "lineitem")
    # ADAPTIVE bit width (round-9 verdict #5): one 1-row parameter fetch
    # (the bounded driver-side convention, like the PQ codebook sample)
    # reads the key maxima; the Morton key interleaves exactly the bits
    # those maxima need. The oracle's fixed ZORDER_MAX_BITS expression
    # produces the identical z (higher terms are zero), so the audit now
    # follows the data instead of aborting past a tuned constant. The
    # maxima also feed the probe-box extents as literals below; memoized
    # per (session, lineitem files), so a rebuild runs no fetch.
    mrow = memo(
        spark,
        "zorder_key_max",
        li,
        lambda: li.agg(F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")).head(),
    )
    if mrow.mp is None or mrow.ms is None:
        raise ValueError(
            "z-order audit: lineitem is empty — no keys to lay out"
        )
    mp, ms = int(mrow.mp), int(mrow.ms)
    zbits = max(mp.bit_length(), ms.bit_length(), 1)
    if zbits > ZORDER_MAX_BITS:
        raise ValueError(
            f"z-order audit: key maxima need {zbits} bits/dimension but a"
            f" 2-D Morton key over signed longs holds at most"
            f" {ZORDER_MAX_BITS}; remap or bucket the keys first"
        )
    z = interleave_bits([F.col("l_partkey"), F.col("l_suppkey")], bits=zbits)
    base = li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", z.alias("z")
    ).localCheckpoint(eager=False)

    # Monotonic lead-key buckets for both layouts: the top
    # _ZB_BUCKET_BITS bits of the (non-negative) lead key. Any monotone
    # non-decreasing function of the lead preserves the global order
    # across buckets; bit-slicing needs NO extent pass (the former form
    # paid a min/max aggregate per layout plus a count pass just to
    # size the buckets).
    zshift = max(0, 2 * zbits - _ZB_BUCKET_BITS)
    pshift = max(0, mp.bit_length() - _ZB_BUCKET_BITS)
    tagged = base.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "z",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright(F.col("z"), zshift).alias("bkt"),
                ),
                F.struct(
                    F.lit("lex").alias("layout"),
                    F.shiftright(F.col("l_partkey"), pshift).alias("bkt"),
                ),
            )
        ).alias("c"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "z",
        F.col("c.layout").alias("layout"),
        F.col("c.bkt").alias("bkt"),
    )
    # ONE stats pass for both layouts (explode is in-row; the partial
    # aggregation collapses map-side, so the exchange is micro):
    # per-bucket count + the min/max envelopes the block stats need.
    wl = Window.partitionBy("layout").orderBy("bkt")
    stats = (
        tagged.groupBy("layout", "bkt")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("l_suppkey").alias("mns"),
            F.max("l_suppkey").alias("mxs"),
            F.min("l_partkey").alias("mnp"),
            F.max("l_partkey").alias("mxp"),
        )
        .select(
            "*",
            F.coalesce(
                F.sum("cnt").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("off"),
            F.sum("cnt")
            .over(
                wl.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("n_rows"),
        )
        .withColumn("blk_lo", F.expr(f"(off * {ZORDER_BLOCKS}) DIV n_rows"))
        .withColumn(
            "blk_hi", F.expr(f"((off + cnt - 1) * {ZORDER_BLOCKS}) DIV n_rows")
        )
        .localCheckpoint(eager=False)  # micro; two consumers below
    )
    # Buckets inside one block contribute their stats WHOLESALE — no row
    # of theirs is ever ranked.
    whole = stats.filter(F.col("blk_lo") == F.col("blk_hi")).select(
        "layout",
        F.col("blk_lo").alias("blk"),
        "mns",
        "mxs",
        "mnp",
        "mxp",
        F.col("cnt").alias("n"),
    )
    # Only rows of block-boundary-SPANNING buckets (≤ ZORDER_BLOCKS - 1
    # per layout) pay an exact rank: offset + row_number inside the
    # bucket reproduces the global rank because the bucket key is
    # monotone in the lead and the order starts with the lead.
    span = stats.filter(F.col("blk_lo") != F.col("blk_hi")).select(
        "layout", "bkt", "off", "n_rows"
    )
    k1 = F.when(F.col("layout") == "zorder", F.col("z")).otherwise(
        F.col("l_partkey")
    )
    k2 = F.when(F.col("layout") == "zorder", F.lit(0)).otherwise(
        F.col("l_suppkey")
    )
    wr = Window.partitionBy("layout", "bkt").orderBy(
        k1, k2, "l_orderkey", "l_linenumber"
    )
    surv_blocks = (
        tagged.join(F.broadcast(span), ["layout", "bkt"])
        .withColumn("rn", F.row_number().over(wr))
        .select(
            "layout",
            "l_partkey",
            "l_suppkey",
            F.expr(f"((off + rn - 1) * {ZORDER_BLOCKS}) DIV n_rows").alias(
                "blk"
            ),
        )
        .groupBy("layout", "blk")
        .agg(
            F.min("l_suppkey").alias("mns"),
            F.max("l_suppkey").alias("mxs"),
            F.min("l_partkey").alias("mnp"),
            F.max("l_partkey").alias("mxp"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    blocks = (
        whole.unionByName(surv_blocks)
        .groupBy("layout", "blk")
        .agg(
            F.min("mns").alias("mns"),
            F.max("mxs").alias("mxs"),
            F.min("mnp").alias("mnp"),
            F.max("mxp").alias("mxp"),
            F.sum("n").alias("n"),
        )
    )
    # Probe-box extents from the already-fetched maxima (python // ==
    # the oracle's `MAX(...) // k` on non-negative ints). The former
    # in-plan assert_true bits guard is gone: the bit width now ADAPTS
    # to these maxima, so there is no constant left to outgrow.
    ext = spark.range(1).select(
        F.lit(mp // 8).cast("long").alias("plo"),
        F.lit(mp // 4).cast("long").alias("phi"),
        F.lit(ms // 8).cast("long").alias("slo"),
        F.lit(ms // 4).cast("long").alias("shi"),
    )
    prune_t = (F.col("mns") > F.col("shi")) | (F.col("mxs") < F.col("slo"))
    prune_l = (F.col("mnp") > F.col("phi")) | (F.col("mxp") < F.col("plo"))
    summary = (
        blocks.crossJoin(F.broadcast(ext))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(prune_t, 1).otherwise(0)).alias("pruned_trailing"),
            F.sum(F.when(prune_t, 0).otherwise(F.col("n"))).alias("scanned_trailing"),
            F.sum(F.when(prune_l, 1).otherwise(0)).alias("pruned_leading"),
            F.sum(F.when(prune_l, 0).otherwise(F.col("n"))).alias("scanned_leading"),
        )
    )
    # 2 rows, two consumers in the entry (output rows + the cmp
    # aggregate): the lazy checkpoint pins the whole blocks pipeline to
    # ONE evaluation — without it the full subtree above the base
    # checkpoint ran twice (the pre-r15 form re-ran both full-fact
    # rank windows for the cmp branch).
    return summary.localCheckpoint(eager=False) if checkpoint else summary


@query(
    "sort_zorder_skipping_audit",
    category="sort",
    description=f"Z-order vs lexicographic layout: min/max block-skipping audit over {ZORDER_BLOCKS} blocks and two probe boxes",
    oracle=_zorder_oracle(),
)
def sort_zorder_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs lexicographic block-skipping audit: see
    ``_zorder_block_summary`` for the full semantics and plan-shape
    rationale (the machinery lives there so plan dumps can explain the
    pre-checkpoint pipeline). This wrapper adds the cross-layout
    comparison booleans, computed in-engine from the 2-row summary (the
    oracle asserts both TRUE): z-order strictly beats lex on a
    trailing-dim box; lex stays at-least-as-good on the leading-dim box
    it is sorted by."""
    summary = _zorder_block_summary(spark, sf_dir)
    zp = F.max(F.when(F.col("layout") == "zorder", F.col("pruned_trailing")))
    lp = F.max(F.when(F.col("layout") == "lex", F.col("pruned_trailing")))
    zl = F.max(F.when(F.col("layout") == "zorder", F.col("pruned_leading")))
    ll = F.max(F.when(F.col("layout") == "lex", F.col("pruned_leading")))
    cmp = summary.agg(
        (zp > lp).alias("zorder_wins_trailing"), (ll >= zl).alias("lex_holds_leading")
    )
    return summary.crossJoin(F.broadcast(cmp)).orderBy("layout")


@query(
    "subquery_exists_any_all",
    category="subquery",
    description="EXISTS / NOT EXISTS / quantified ANY-ALL subqueries decomposed into semi/anti joins + broadcast extrema",
    oracle="""
        SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_orderpriority = '5-LOW')
          AND c.c_acctbal > ANY (SELECT c2.c_acctbal FROM customer c2
                                 WHERE c2.c_mktsegment = 'BUILDING')
          AND c.c_acctbal < ALL (SELECT o3.o_totalprice FROM orders o3
                                 WHERE o3.o_orderpriority = '1-URGENT'
                                   AND o3.o_totalprice > 5000)
        ORDER BY c.c_custkey
    """,
)
def subquery_exists_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full quantified-subquery family in one predicate: EXISTS,
    NOT EXISTS, ``> ANY`` and ``< ALL``. Spark SQL has no quantified
    comparison (ANY/ALL over a subquery), so this entry pins the
    standard decomposition every planner performs anyway — EXISTS →
    left-semi join, NOT EXISTS → left-anti join, ``> ANY S`` →
    ``> min(S)``, ``< ALL S`` → ``< min(S)`` — while the oracle runs the
    genuine quantified SQL, proving the decomposition exact on this
    data (all sets non-empty and null-free, the regime where the
    min/max rewrite is unconditionally equivalent). Predicates are
    tuned non-vacuous at every shipped SF (34 / 369 / 3654 rows at
    sf0.001/0.01/0.1): the ALL ceiling sits just above 5000, mid-range
    for acctbal, so the quantifier actually cuts.

    Plan shape at 100 TB: both correlated predicates become shuffled
    semi/anti joins on ``custkey`` (Catalyst plans exactly this for
    EXISTS); the two quantifier sets reduce to single-row broadcast
    extrema — no quantifier ever materializes its subquery per outer
    row."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    failed = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "5-LOW")
    ).select("o_custkey")
    any_floor = cust.filter(F.col("c_mktsegment") == "BUILDING").agg(
        F.min("c_acctbal").alias("any_min")
    )
    all_ceiling = urgent.filter(F.col("o_totalprice") > 5000).agg(
        F.min("o_totalprice").alias("all_min")
    )
    return (
        cust.join(
            urgent.select("o_custkey"),
            cust["c_custkey"] == F.col("o_custkey"),
            "leftsemi",
        )
        .join(failed, cust["c_custkey"] == failed["o_custkey"], "leftanti")
        .crossJoin(F.broadcast(any_floor))
        .crossJoin(F.broadcast(all_ceiling))
        .filter(
            (F.col("c_acctbal") > F.col("any_min"))
            & (F.col("c_acctbal") < F.col("all_min"))
        )
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


def user_feature_agg(ev: DataFrame) -> DataFrame:
    """The feature-matrix aggregation itself, reusable on a batch OR a
    streaming events relation (the streaming twin in streaming/windows.py
    runs this verbatim in complete mode — a running per-user feature
    store). No trailing sort here: streaming aggs cannot sort, and the
    driver compare is order-insensitive."""

    def n(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))

    pv = F.sum(
        F.when(
            F.col("event_type") == "purchase", F.col("value").cast("decimal(18,6)")
        ).otherwise(F.lit(0).cast("decimal(18,6)"))
    )
    ctr = F.when(
        n("view") > 0,
        F.floor((n("click").cast("double") / n("view")) * 10000.0 + 0.5) / 10000.0,
    )
    return ev.groupBy("user_id").agg(
        n("view").cast("long").alias("n_view"),
        n("click").cast("long").alias("n_click"),
        n("purchase").cast("long").alias("n_purchase"),
        n("signup").cast("long").alias("n_signup"),
        n("error").cast("long").alias("n_error"),
        F.round(pv, 2).cast("double").alias("purchase_value"),
        ctr.alias("click_through_rate"),
    )


@query(
    "reshape_user_feature_matrix",
    category="reshape",
    description="Long-to-wide feature-matrix assembly: per-user event counts and purchase value via conditional aggregation",
    oracle="""
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_view,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_click,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_error,
               CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(18,6))
                                   ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE)
                   AS purchase_value,
               CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
                    THEN FLOOR((CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                                     AS DOUBLE)
                                / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END))
                               * 10000.0 + 0.5) / 10000.0
                    END AS click_through_rate
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def reshape_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long → wide feature assembly, the reshaping step in front of any
    per-entity model: one conditional-aggregation pass turns the event
    log into a fixed-width per-user feature row (typed counts, an exact
    decimal money sum, a guarded ratio — views = 0 yields NULL in both
    engines, never a division-by-zero artifact). Deliberately spelled as
    ``SUM(CASE ...)`` rather than ``pivot()``: agg_pivot already pins
    the pivot operator, and at 100 TB conditional aggregation is the
    scalable form — a single map-side-combined shuffle on ``user_id``
    with no second pass to discover the column set (the feature schema
    is fixed by the pipeline contract, exactly as it must be for a
    downstream trainer). The aggregation body is shared verbatim with
    the streaming twin (``streaming.windows.stream_user_feature_matrix``,
    pinned stream == batch in tests/test_streaming.py)."""
    return user_feature_agg(load_table(spark, sf_dir, "events")).orderBy("user_id")
