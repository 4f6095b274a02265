"""Approximate-aggregation sketch audits beyond HLL: quantile sketch
(percentile_approx / KLL-style rank guarantees) and heavy hitters
(approx_top_k, new in Spark 4) — completing the sketch family the HLL
audits in aggregates.py started, under the same driver-verifiability
discipline: sketch outputs are engine-specific, so each query emits
EXACT comparands plus in-query tolerance/equality booleans, and the
DuckDB oracle recomputes the exact side and asserts TRUE.

The reference has no aggregate surface at all (SURVEY.md §2B: host
Spark runs aggregation above its scans); sketches are the 100 TB
answer to "distribution statistics without a global sort": mergeable
per-partition state a few KB each, one tiny shuffle row per group,
re-aggregable at any rollup level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import round_dbl, sql_round_dbl
from spark_jdbc_limit_spark.sources.catalog import load_table

#: audited quantiles, labeled (string keys — avoids float group keys in
#: the driver's hash) and the approx sketch accuracy (rank error
#: guarantee 1/accuracy = 0.001).
PCT_PROBS: list[tuple[str, float]] = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
PCT_ACCURACY = 1000
#: empirical-rank tolerance for the audit boolean: guarantee is 0.001;
#: 0.01 gives 10x headroom while still failing on a broken sketch.
PCT_RANK_TOL = 0.01


def _pct_oracle() -> str:
    arms = "\n        UNION ALL\n".join(
        f"""        SELECT o_orderstatus, '{label}' AS p,
               {sql_round_dbl(f'quantile_cont(CAST(o_totalprice AS DOUBLE), {prob})', 4)}
                   AS exact_pct,
               TRUE AS rank_ok
        FROM orders GROUP BY o_orderstatus"""
        for label, prob in PCT_PROBS
    )
    return f"SELECT * FROM (\n{arms}\n        ) ORDER BY o_orderstatus, p"


@query(
    "agg_approx_percentile_audit",
    category="aggregation",
    description=f"Quantile sketch audit: percentile_approx rank error vs exact percentiles at {[l for l, _ in PCT_PROBS]}",
    oracle=_pct_oracle(),
)
def agg_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-sketch audit (HLL-audit discipline, applied to
    percentile_approx): per order status and probe quantile, emit the
    EXACT interpolated percentile (both engines interpolate over the
    same doubles; output rounded at 1e-4 — cross-engine margins pinned
    like the quality gate's) plus a rank-error boolean for the SKETCH
    estimate: the empirical rank of the approx value,
    count(price <= approx) / n, must sit within PCT_RANK_TOL of the
    target quantile — the guarantee percentile_approx actually makes
    (rank error <= 1/accuracy), checked in-engine, value-verified by
    the driver because the oracle asserts TRUE.

    Plan shape: one grouped aggregate computes exact + sketch arrays
    (both mergeable, map-side combined); probes explode to groups x 3
    rows (micro) and broadcast back onto ONE extra scan that counts
    rows under each approx value — two fact passes total, no sort; the
    probe subtree feeds both the broadcast and the final join, and
    AQE's runtime exchange reuse evaluates its aggregate ONCE (round-15
    measured negative, OPTIMIZATION_r15.md: collecting the probes to
    the driver and re-joining them as a local relation — the "fold the
    second pass" idea — timed ~1.8x SLOWER at sf0.1, the collect
    barrier + extra job outweighing the statically-duplicated subtree
    that reuse already deduplicates at runtime). The final micro join
    carries no broadcast hint: with it the entry timed ~5% slower at
    sf0.01 (one-session A/B, 16 alternating pairs on each of two
    corpora, the hint slower in 14 of 16 pairs on both). At 100 TB the
    exact percentile would be dropped and the sketch kept; the audit
    exists to prove, per run, that dropping it is safe."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("double").alias("v")
    )
    probs = [p for _, p in PCT_PROBS]
    labels = F.array(*[F.lit(lbl) for lbl, _ in PCT_PROBS])
    targets = F.array(*[F.lit(p) for p in probs])
    stats = o.groupBy("o_orderstatus").agg(
        F.percentile("v", F.array(*[F.lit(p) for p in probs])).alias("ex"),
        F.percentile_approx(
            "v", F.array(*[F.lit(p) for p in probs]), F.lit(PCT_ACCURACY)
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    probes = stats.select(
        "o_orderstatus",
        "n",
        F.posexplode(F.arrays_zip(labels.alias("lbl"), targets.alias("tgt"), "ex", "ap")).alias(
            "i", "z"
        ),
    ).select(
        "o_orderstatus",
        "n",
        F.col("z.lbl").alias("p"),
        F.col("z.tgt").alias("target"),
        F.col("z.ex").alias("exact_v"),
        F.col("z.ap").alias("approx_v"),
    )
    # empirical rank of each sketch estimate: one counting pass over the
    # fact relation against the broadcast micro probe set
    under = (
        o.join(F.broadcast(probes.select("o_orderstatus", "p", "approx_v")), "o_orderstatus")
        .filter(F.col("v") <= F.col("approx_v"))
        .groupBy("o_orderstatus", "p")
        .agg(F.count(F.lit(1)).alias("n_under"))
    )
    rank_err = F.abs(
        F.coalesce(F.col("n_under"), F.lit(0)) / F.col("n") - F.col("target")
    )
    return (
        probes.join(under, ["o_orderstatus", "p"], "left")
        .select(
            "o_orderstatus",
            "p",
            round_dbl(F.col("exact_v"), 4).alias("exact_pct"),
            (rank_err <= F.lit(PCT_RANK_TOL)).alias("rank_ok"),
        )
        .orderBy("o_orderstatus", "p")
    )


TOPK_K = 3
TOPK_TRACKED = 10_000


@query(
    "agg_approx_topk_audit",
    category="aggregation",
    description=f"Heavy-hitter sketch audit: approx_top_k top-{TOPK_K} priorities vs exact counts",
    oracle=f"""
        SELECT o_orderpriority, CAST(cnt AS BIGINT) AS cnt,
               CAST(rk AS BIGINT) AS rank, TRUE AS topk_exact_ok
        FROM (
            SELECT o_orderpriority, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
            FROM orders GROUP BY o_orderpriority
        ) WHERE rk <= {TOPK_K}
        ORDER BY rank
    """,
)
def agg_approx_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4's approx_top_k sketch, audited: the
    sketch tracks up to 10000 items and is EXACT whenever the
    true distinct count fits (the monitoring sweet spot — bounded state
    per partition, mergeable, no second pass). The query computes the
    exact top-3 (two-level count + TakeOrdered, no global sort)
    AND the sketch's top-3, and emits the exact rows plus a
    boolean asserting the sketch reproduced every (item, count) pair as
    a SET (set comparison — within-top-k count ties order arbitrarily
    in the sketch output; the top-k/rest BOUNDARY is unambiguous on
    every shipped SF, min gap 3). The oracle recomputes the exact side
    with a ranked window and asserts TRUE."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
    exact = (
        counts.orderBy(F.col("cnt").desc(), "o_orderpriority")
        .limit(TOPK_K)
        .select(
            "o_orderpriority",
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "o_orderpriority"))
            .cast("long")
            .alias("rank"),
        )
    )
    sketch = o.agg(
        F.expr(
            f"approx_top_k(o_orderpriority, {TOPK_K}, {TOPK_TRACKED})"
        ).alias("tk")
    ).select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("o_orderpriority"), F.col("e.count").alias("cnt")
    )
    # set-equality: every exact (item, count) pair must appear in the
    # sketch output; both sides have TOPK_K rows, so a semi-join count
    # of TOPK_K is full set equality
    matched = exact.join(
        sketch, ["o_orderpriority", "cnt"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_match"))
    return (
        exact.crossJoin(F.broadcast(matched))
        .select(
            "o_orderpriority",
            "cnt",
            "rank",
            (F.col("n_match") == TOPK_K).alias("topk_exact_ok"),
        )
        .orderBy("rank")
    )


#: Count-min sketch shape: CMS_D pairwise-independent-ish hash rows ×
#: CMS_W buckets. Universal-hash family h_i(x) = ((x mod P)·A_i + B_i)
#: mod P mod W over the Mersenne prime P = 2^31−1: every term stays
#: below 2^57, so the arithmetic is exact int64 in BOTH engines and the
#: sketch cells — and therefore the ESTIMATES — are bit-reproducible
#: cross-engine, unlike HLL/KLL whose internals are engine-specific.
CMS_D = 4
CMS_W = 256
CMS_P = 2_147_483_647
CMS_A = (1_299_721, 15_485_863, 32_452_843, 49_979_687)
CMS_B = (7, 101, 1_009, 10_007)


def _cms_hash_sql(key: str, a: int, b: int, w: int = CMS_W) -> str:
    return f"((({key} % {CMS_P}) * {a} + {b}) % {CMS_P}) % {w}"


def cms_cell_structs(key: str, w: int = CMS_W):
    """Explode column yielding one (i, bucket) row per hash row for
    ``key`` — the single definition of the sketch's cell addressing,
    shared by the batch audits, the streaming twin, and their tests.
    ``w`` widens the bucket row for audits that need lower collision
    mass (the join-size inner product) while keeping the hash family."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.expr(_cms_hash_sql(key, CMS_A[i], CMS_B[i], w)).alias("bucket"),
                )
                for i in range(CMS_D)
            ]
        )
    )


def _cms_oracle() -> str:
    hash_rows = ", ".join(
        f"({i}, {CMS_A[i]}, {CMS_B[i]})" for i in range(CMS_D)
    )
    bucket = f"(((k.l_partkey % {CMS_P}) * h.a + h.b) % {CMS_P}) % {CMS_W}"
    return f"""
        WITH keyed AS (
            SELECT l_partkey, COUNT(*) AS exact_n
            FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey
        ),
        hashes(i, a, b) AS (VALUES {hash_rows}),
        cells AS (
            SELECT h.i AS i, {bucket} AS bucket,
                   CAST(SUM(k.exact_n) AS BIGINT) AS c
            FROM keyed k CROSS JOIN hashes h
            GROUP BY 1, 2
        ),
        est AS (
            SELECT k.l_partkey, MIN(c.c) AS est_n
            FROM keyed k
            CROSS JOIN hashes h
            JOIN cells c ON c.i = h.i AND c.bucket = {bucket}
            GROUP BY k.l_partkey
        )
        SELECT k.l_partkey,
               CAST(k.exact_n AS BIGINT) AS exact_n,
               CAST(e.est_n AS BIGINT) AS est_n,
               -- asserted literally (audit discipline): a hash match PROVES
               -- the in-engine estimate never undershot, instead of both
               -- engines agreeing on a broken boolean
               TRUE AS never_underestimates
        FROM keyed k JOIN est e USING (l_partkey)
        ORDER BY k.l_partkey
    """


@query(
    "agg_count_min_frequency_audit",
    category="aggregation",
    description=f"Count-min sketch ({CMS_D}x{CMS_W}) point-frequency estimates, bit-reproducible cross-engine",
    oracle=_cms_oracle(),
)
def agg_count_min_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch as a RELATION — the frequency-sketch member of the
    sketch family (HLL = distinct, KLL = quantiles, approx_top_k = heavy
    hitters, CMS = point frequencies). The sketch is the d×w cell table
    ``(i, bucket) → Σ counts``; a point estimate is ``min_i
    cell[i][h_i(x)]``, which can only OVER-estimate (every occurrence of
    x lands in all d of its cells; collisions only add) — the classic CMS
    guarantee, emitted per key as ``never_underestimates`` and proven
    exactly, not within tolerance, because the whole sketch is shared
    int64 hash arithmetic (see CMS_P) that DuckDB reproduces bit-for-bit.

    Plan shape (and why it beats the textbook stream formulation in a
    relational engine): counts are aggregated per key FIRST — one
    partial-aggregated fact shuffle whose output is dimension-bounded
    (distinct parts), the same relation the probe needs anyway — and the
    ×CMS_D explode touches only that micro relation, never fact rows.
    Folding per-key totals into cells afterwards is exact because CMS
    cells are sums: Σ_x n_x·[h_i(x)=cell] == streaming inserts. The cell
    table (≤ d·w = 4×256 rows regardless of data volume — the whole point
    of a CMS) broadcasts back for the min-over-rows estimate. At 100 TB
    the only full-data pass is the per-key count; everything downstream
    is O(dimension) and O(d·w).
    """
    li = load_table(spark, sf_dir, "lineitem")
    keyed = (
        li.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    hb = cms_cell_structs("l_partkey").alias("hb")
    key_cells = keyed.select("l_partkey", "exact_n", hb).select(
        "l_partkey", "exact_n", "hb.i", "hb.bucket"
    )
    cells = key_cells.groupBy("i", "bucket").agg(F.sum("exact_n").alias("c"))
    est = (
        key_cells.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        keyed.join(est, "l_partkey")
        .select(
            "l_partkey",
            "exact_n",
            "est_n",
            (F.col("est_n") >= F.col("exact_n")).alias("never_underestimates"),
        )
        .orderBy("l_partkey")
    )


#: Join-size sketch width. Wider than CMS_W because the inner-product
#: estimate pays collision mass ~|A||B|/W ACROSS keys (not per key):
#: at W=2048 the measured overshoot is ~0.3x of the |A||B|/W Markov
#: bound at every shipped SF (prototyped across sf0.001/0.01/0.1),
#: so the bound boolean holds with >3x headroom. NOTE: W must stay
#: well BELOW the ~2400-day key span — AT LEAST ONE hash row of the
#: family stays injective on any contiguous integer window narrower
#: than W (not every row: a row whose multiplier folds the window onto
#: few buckets, like a=32452843 mapping [0,500] onto 98 of 2048, still
#: collides), and the min-over-rows estimate inherits exactness from
#: that one row — silently turning the "estimate" exact and the audit
#: vacuous (observed at W>=4096 during prototyping). The min relies on
#: the best row, so the non-vacuity test pins strict overshoot exists.
CMS_JOIN_W = 2048


def _join_size_oracle() -> str:
    hash_rows = ", ".join(f"({i}, {CMS_A[i]}, {CMS_B[i]})" for i in range(CMS_D))
    bucket = f"(((t.k % {CMS_P}) * h.a + h.b) % {CMS_P}) % {CMS_JOIN_W}"
    return f"""
        WITH o AS (
            SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS k,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        ),
        l AS (
            SELECT CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS k,
                   COUNT(*) AS n
            FROM lineitem GROUP BY 1
        ),
        hashes(i, a, b) AS (VALUES {hash_rows}),
        co AS (
            SELECT h.i AS i, {bucket} AS bucket, SUM(t.n) AS c
            FROM o t CROSS JOIN hashes h GROUP BY 1, 2
        ),
        cl AS (
            SELECT h.i AS i, {bucket} AS bucket, SUM(t.n) AS c
            FROM l t CROSS JOIN hashes h GROUP BY 1, 2
        ),
        ip AS (
            SELECT co.i, SUM(co.c * cl.c) AS est
            FROM co JOIN cl USING (i, bucket) GROUP BY 1
        ),
        ex AS (
            SELECT COUNT(*) AS n_shared, SUM(o.n * l.n) AS true_sz
            FROM o JOIN l USING (k)
        )
        SELECT CAST(ex.n_shared AS BIGINT) AS n_shared_keys,
               CAST(ex.true_sz AS BIGINT) AS exact_size,
               CAST((SELECT MIN(est) FROM ip) AS BIGINT) AS est_size,
               -- asserted literally (audit discipline): the hash match
               -- proves both guarantees held in-engine this run
               TRUE AS never_underestimates,
               TRUE AS overshoot_within_bound
        FROM ex
    """


@query(
    "agg_cms_join_size_audit",
    category="aggregation",
    description=f"AMS/CMS inner-product join-size estimate ({CMS_D}x{CMS_JOIN_W}) for orders⋈lineitem on date, audited vs the exact size",
    oracle=_join_size_oracle(),
)
def agg_cms_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size ESTIMATION from sketches — the planner statistic behind
    "will this join explode?": |A ⋈_k B| = Σ_k cntA(k)·cntB(k) is the
    inner product of the two frequency vectors, and the CMS estimate is
    min_i Σ_w cellA[i][w]·cellB[i][w] (Cormode & Muthukrishnan's
    count-min inner product / AMS F2 family). Two guarantees are emitted
    as audited booleans: the estimate never underestimates (collision
    cross terms are non-negative), and the overshoot stays within the
    Markov expectation bound |A|·|B|/W — checked in exact int64
    arithmetic (``over·W ≤ |A|·|B|``, no division) on the shared hash
    family (CMS_P/CMS_A/CMS_B), so DuckDB reproduces the ESTIMATE
    bit-for-bit, not just the booleans.

    The probe joins orders.o_orderdate to lineitem.l_shipdate (epoch-day
    keys) — multiplicity on BOTH sides, so the true size (~36M rows at
    sf0.1 from 150k×600k inputs) is not readable off either input alone.

    Plan shape: each side is one partial-aggregated fact shuffle whose
    output is key-bounded (~2400 dates); the ×CMS_D explode, the d×W cell
    aggregates, the (i,bucket) cell join, and the min-over-rows all touch
    micro relations (≤ d·W rows). The exact comparand joins the two
    per-key count relations — also micro. At 100 TB the per-key counts
    are the only full-data passes, the sketches are a few KB that ship to
    the driver, and two tables' sketches built ONCE answer any pairwise
    join-size question — the point of sketch algebra. Int64 envelope:
    cell products overflow past ~3e9 rows per cell; at that volume the
    estimate (not the audit) would move to double/decimal.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("k")
    )

    def side_counts(df: DataFrame) -> DataFrame:
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    def side_cells(counts: DataFrame) -> DataFrame:
        hb = cms_cell_structs("k", CMS_JOIN_W).alias("hb")
        return (
            counts.select("n", hb)
            .select("n", "hb.i", "hb.bucket")
            .groupBy("i", "bucket")
            .agg(F.sum("n").alias("c"))
        )

    o_counts, l_counts = side_counts(orders), side_counts(li)
    co, cl = side_cells(o_counts), side_cells(l_counts)
    ip = (
        co.join(cl.withColumnRenamed("c", "c2"), ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("est"))
    )
    est = ip.agg(F.min("est").alias("est_size"))
    exact = o_counts.join(l_counts.withColumnRenamed("n", "n2"), "k").agg(
        F.count(F.lit(1)).alias("n_shared_keys"),
        F.sum(F.col("n") * F.col("n2")).alias("exact_size"),
    )
    # side totals read off the MICRO cell relations (each hash row holds
    # every key once, so Σcells = D·N exactly) — no third fact-scan branch
    totals = (
        co.agg((F.sum("c") / CMS_D).cast("long").alias("na"))
        .crossJoin(cl.agg((F.sum("c") / CMS_D).cast("long").alias("nb")))
    )
    over = F.col("est_size") - F.col("exact_size")
    return (
        exact.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(totals))
        .select(
            "n_shared_keys",
            "exact_size",
            "est_size",
            (F.col("est_size") >= F.col("exact_size")).alias("never_underestimates"),
            (over * CMS_JOIN_W <= F.col("na") * F.col("nb")).alias("overshoot_within_bound"),
        )
    )


#: Approximate-query-processing sample: deterministic hash Bernoulli
#: sample at rate HT_NUM/HT_DEN (~10%), keyed on the collision-free
#: composite (l_orderkey·16 + l_linenumber) through the shared affine
#: family — so both engines draw the IDENTICAL sample and the
#: Horvitz–Thompson estimate is reproducible, not a random variable.
#: Tolerance 8%: measured estimate error is 4.6%/0.7%/0.1% at
#: sf0.001/0.01/0.1 (shrinking with n, as HT variance says it should).
HT_NUM = 205
HT_DEN = 2048
HT_TOL_PCT = 8


def _ht_oracle() -> str:
    h = _cms_hash_sql("(l_orderkey * 16 + l_linenumber)", CMS_A[0], CMS_B[0], HT_DEN)
    return f"""
        WITH s AS (
            SELECT COUNT(*) AS n_total,
                   SUM(CASE WHEN {h} < {HT_NUM} THEN 1 ELSE 0 END) AS n_sampled,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS exact_d,
                   SUM(CASE WHEN {h} < {HT_NUM}
                            THEN CAST(l_extendedprice AS DECIMAL(18,6))
                            ELSE CAST(0 AS DECIMAL(18,6)) END) AS samp_d
            FROM lineitem
        )
        SELECT CAST(n_total AS BIGINT) AS n_total,
               CAST(n_sampled AS BIGINT) AS n_sampled,
               CAST(ROUND(exact_d, 2) AS DOUBLE) AS exact_rev,
               {sql_round_dbl(f'CAST(ROUND(samp_d, 2) AS DOUBLE) * ({HT_DEN}.0 / {HT_NUM}.0)', 2)}
                   AS est_rev,
               ABS(samp_d * {HT_DEN} - exact_d * {HT_NUM}) * 100
                   <= exact_d * {HT_NUM} * {HT_TOL_PCT} AS within_tol
        FROM s
    """


@query(
    "agg_sampled_sum_ht_audit",
    category="aggregation",
    description=f"Horvitz–Thompson revenue estimate from a deterministic ~{100 * HT_NUM // HT_DEN}% hash sample, audited within {HT_TOL_PCT}%",
    oracle=_ht_oracle(),
)
def agg_sampled_sum_ht_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by SAMPLING — the third leg of the
    estimation family (sketches summarize all rows cheaply; samples skip
    rows entirely): a Bernoulli sample at rate HT_NUM/HT_DEN (205/2048) drawn by
    the shared affine hash on a collision-free row key, scaled back by
    1/p (Horvitz–Thompson). Unlike ``TABLESAMPLE``, the hash sample is
    deterministic AND consistent across engines — the exact property that
    lets a 100 TB shop keep a 10% sample table and get answers whose
    error it can re-audit any time against periodic full passes.

    The audit boolean compares the estimate to the exact sum ENTIRELY in
    exact decimal integer-scaled arithmetic (|samp·DEN − exact·NUM|·100 ≤
    exact·NUM·HT_TOL_PCT — no division, no doubles), so the driver
    hash-checks it cross-engine; est_rev itself derives from the rounded
    decimal through IEEE-identical double ops. Measured error shrinks
    with n exactly as HT variance predicts (4.6% → 0.1% across the
    shipped SFs).

    Plan shape: ONE scan, one partial-aggregated global aggregate — the
    sample predicate is codegen'd arithmetic, never a shuffle of its
    own. At 100 TB the sample would be materialized once and reused;
    this query is the audit that certifies it."""
    li = load_table(spark, sf_dir, "lineitem")
    # the SAME hash string as the oracle (single-sourced family); the key
    # is collision-free (l_linenumber < 16) and already BIGINT, so the
    # affine product stays in int64
    h = F.expr(
        _cms_hash_sql("(l_orderkey * 16 + l_linenumber)", CMS_A[0], CMS_B[0], HT_DEN)
    )
    dec = "decimal(18,6)"
    v = F.col("l_extendedprice").cast(dec)
    s = li.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(h < HT_NUM, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum(v).alias("exact_d"),
        F.sum(F.when(h < HT_NUM, v).otherwise(F.lit(0).cast(dec))).alias("samp_d"),
    )
    est = round_dbl(
        F.round(F.col("samp_d"), 2).cast("double") * F.lit(float(HT_DEN) / float(HT_NUM)), 2
    )
    return s.select(
        "n_total",
        "n_sampled",
        F.round(F.col("exact_d"), 2).cast("double").alias("exact_rev"),
        est.alias("est_rev"),
        (
            F.abs(F.col("samp_d") * HT_DEN - F.col("exact_d") * HT_NUM) * 100
            <= F.col("exact_d") * HT_NUM * HT_TOL_PCT
        ).alias("within_tol"),
    )
