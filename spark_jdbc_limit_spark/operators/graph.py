"""Graph analytics over relation-derived graphs (SURVEY.md §2B addendum):
triangle counting / clustering coefficient on the supplier co-occurrence
graph, using the degree-ordered orientation that keeps the wedge space
O(m^1.5) at any scale.

The graph: suppliers are nodes; an (undirected, canonical s1 < s2) edge
exists when two suppliers co-appear in enough distinct orders to clear
the adaptive weight threshold. Edge generation groups each order's
supplier set with ONE shuffle and expands the per-basket pairs in-row
(bounded by basket size, never a catalog cross join); the reference
engine has no graph surface at all, so this is pure new-engine
capability (SURVEY.md §2B "beyond the reference").

Scale design (the part that matters at 100 TB):
- Naive triangle enumeration joins the edge list to itself on a shared
  endpoint; a celebrity node with degree d contributes d² wedges — the
  classic blow-up. Orienting every edge from its (degree, id)-SMALLER
  endpoint to its larger one makes every node's out-degree O(sqrt(m)),
  so the oriented wedge join materializes at most O(m^1.5) candidate
  wedges total (Suri & Vassilvitskii's MapReduce bound) regardless of
  skew.
- Each triangle {a, b, c} (ordered by (degree, id)) is generated exactly
  once as the wedge a→b, a→c closed by the oriented edge b→c — counting
  needs no dedup pass.
- Degrees live in a node-cardinality relation, broadcast onto the edge
  list; at web scale that broadcast becomes a shuffle join on the
  endpoint — both forms are one line here.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import round_dbl, sql_round_dbl
from spark_jdbc_limit_spark.operators.reuse import memo
from spark_jdbc_limit_spark.sources.catalog import load_table

#: Keep the strongest co-occurrence pairs: weight >= the exact
#: interpolated TRIANGLE_PCTL-quantile of the pair-weight distribution
#: (floored at TRIANGLE_MIN_W). A fixed absolute cutoff would not
#: survive scale-up — pair weights DILUTE as the supplier population
#: grows (more pairs share the same co-order mass), so any constant
#: threshold that is selective at one scale factor is empty at 10x.
#: The quantile is computed over the pair-cardinality relation (bounded
#: by distinct-supplier-pairs, micro relative to the fact table).
TRIANGLE_PCTL = 0.97
TRIANGLE_MIN_W = 2

#: Target rows per partition for the materialized edge relation. The
#: filtered edge list inherits the groupBy's shuffle partitioning (32+
#: partitions) regardless of its actual size — at the shipped SFs that is
#: ~500 rows/task, and the iterative family then pays the per-task
#: scheduling floor 65 times per stage across ~20 stages of micro joins
#: (measured: right-sizing alone took the fixed CC unroll from ~7 s to
#: ~2 s at sf0.1). Sizing by COUNT (cheap: the pair relation is already
#: checkpointed) instead of an AQE rebalance hint keeps the partition count
#: GROWING with the edge set — a 64 MB-advisory rebalance would coalesce
#: even a 100x edge set to 1-2 partitions and serialize every downstream
#: join; 64k edge rows/partition keeps tasks meaningful at 1x and spreads
#: a 100x/1000x edge set across the cluster.
EDGE_ROWS_PER_PARTITION = 65536

def supplier_edges_ckpt(
    spark: SparkSession, sf_dir: str, keep_weight: bool = False
) -> DataFrame:
    """The shared supplier edge relation, eagerly localCheckpointed once
    per (session, corpus): every graph entry and rep reuses it instead of
    re-running the checkpoint (~2 s warm at sf0.1 per build, optimization
    round 14). ``keep_weight=False`` drops ``w`` from the same checkpoint,
    so weighted and unweighted consumers can never disagree on the edge
    set."""
    df = memo(
        spark,
        "supplier_edges_ckpt",
        load_table(spark, sf_dir, "lineitem"),
        lambda: _supplier_edges(spark, sf_dir).localCheckpoint(),
    )
    return df if keep_weight else df.drop("w")


def _size_partitions(df: DataFrame, n_rows: int) -> DataFrame:
    """Right-size ``df`` (a micro-to-medium derived relation of known
    cardinality) to ``ceil(n_rows / EDGE_ROWS_PER_PARTITION)`` partitions:
    coalesce (no shuffle) when shrinking below the session shuffle
    parallelism, full repartition only when the relation has genuinely
    outgrown it."""
    n_parts = max(1, -(-n_rows // EDGE_ROWS_PER_PARTITION))
    shuf = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_parts < shuf:
        return df.coalesce(n_parts)
    if n_parts > shuf:
        return df.repartition(n_parts)
    return df


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (s1 < s2) supplier edge list with its co-order count
    ``w`` (the weighted-SSSP entry's cost input): pairs whose co-order
    count clears the adaptive weight threshold.

    Pair generation: ONE shuffle groups each order's distinct suppliers
    into a sorted set (collect_set absorbs the distinct), then a codegen
    slice/transform expansion emits the C(|basket|, 2) ordered pairs
    in-row — bounded by basket size, never a catalog cross join, and one
    full shuffle cheaper than the distinct + self-equi-join formulation
    (which shuffles the fact relation for the distinct AND for the join;
    measured ~40% slower at sf0.1). The per-order set is basket-bounded,
    so no collect_set list can blow an executor at any corpus scale."""
    li = load_table(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    pair_structs = F.flatten(
        F.transform(
            "ss",
            lambda x, i: F.transform(
                F.slice("ss", i + 2, F.size("ss")),
                lambda y: F.struct(x.alias("s1"), y.alias("s2")),
            ),
        )
    )
    # The fact-sized work happens exactly once: the threshold quantile,
    # the edge filter and the edge count re-read this eagerly checkpointed
    # pair-cardinality relation.
    pairs = (
        sets.select(F.explode(pair_structs).alias("p"))
        .select("p.s1", "p.s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    thr = pairs.agg(
        F.greatest(
            F.lit(float(TRIANGLE_MIN_W)),
            F.expr(f"percentile(w, {TRIANGLE_PCTL})"),
        ).alias("thr")
    )
    out = (
        pairs.crossJoin(F.broadcast(thr))  # one-row threshold relation
        .filter(F.col("w").cast("double") >= F.col("thr"))
        .select("s1", "s2", "w")
    )
    # Right-size the output partitioning to the filtered edge count (one
    # job over the checkpointed pairs); see EDGE_ROWS_PER_PARTITION for
    # why this beats both inherited shuffle partitioning and an AQE
    # rebalance hint here.
    return _size_partitions(out, out.count())


#: Shared oracle fragment: the supplier co-order edge list (os -> pairs
#: -> adaptive-threshold e), single-sourced so the four graph oracles
#: (pagerank, triangles, LPA, connected components) can never drift
#: apart on the edge definition. Mirror of ``_supplier_edges``.
def _edges_cte(select_cols: str = "s1, s2") -> str:
    # MATERIALIZED throughout (round 11): the unrolled consumers below
    # reference their step CTEs twice each (vote + audit branches), and
    # DuckDB's default CTE INLINING then duplicates the whole upstream
    # subtree per reference — 2^steps copies of this fact-sized pair
    # join, which turned the fixed CC oracle from seconds at sf0.01 into
    # 60+ CPU-minutes at sf0.1. Materialization makes every oracle's
    # cost steps × |edges|, the same bound the Spark side has.
    return f"""os AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        pairs AS MATERIALIZED (
            SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS w
            FROM os a JOIN os b USING (l_orderkey)
            WHERE a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ),
        e AS MATERIALIZED (
            SELECT {select_cols} FROM pairs
            WHERE CAST(w AS DOUBLE) >= (
                SELECT GREATEST({float(TRIANGLE_MIN_W)},
                                quantile_cont(w, {TRIANGLE_PCTL}))
                FROM pairs
            )
        )"""


_EDGES_CTE = _edges_cte()
#: weighted twin — same derivation, co-order count retained (mirror of
#: ``_supplier_edges``).
_EDGES_W_CTE = _edges_cte("s1, s2, w")


def _bi_edges(edges: DataFrame) -> DataFrame:
    """Both orientations (u, v) of the canonical (s1 < s2) edge list."""
    return edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("v")
    ).unionAll(edges.select(F.col("s2").alias("u"), F.col("s1").alias("v")))


def _unroll(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], k: int
) -> tuple[DataFrame, DataFrame]:
    """Apply ``step`` ``k`` times; return (state k-1, state k), the pair a
    fixed entry's settlement audit compares. State k-1 feeds BOTH the last
    step and the audit, so it is checkpointed lazily: there is no CSE
    across DataFrame branches, and without the cut the k-1-step chain runs
    twice (measured ~1.4x on the full CC query)."""
    for _ in range(k - 1):
        state = step(state)
    prev = state.localCheckpoint(eager=False)
    return prev, step(prev)


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 5


def _pagerank_graph(
    edges: DataFrame, part_key: str
) -> tuple[DataFrame, float, DataFrame, DataFrame]:
    """(deg, n, cdf, pr0) for the PageRank family: out-degrees, the node
    count N (a graph-cardinality scalar: bounded driver traffic), the
    contribution frame and uniform initial ranks.

    The iteration-invariant contribution frame (edge ⋈ degree) is
    computed once and PRE-PARTITIONED on ``part_key``: the destination
    ``v`` when ranks are broadcast (every iteration's per-destination sum
    reuses this exchange), the SOURCE ``u`` in shuffle mode (every
    iteration's rank join reuses it instead, and the exchange moves to the
    per-destination sum). 8 partitions, not the session default: the
    frame is graph-cardinality (micro), and every iteration schedules one
    task per partition — at real scale raise this with graph size."""
    bi = _bi_edges(edges)
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    n = float(deg.count())
    cdf = bi.join(deg, "u").repartition(8, part_key).localCheckpoint(eager=False)
    pr = deg.select(F.col("u").alias("node"), F.lit(1.0 / n).alias("r"))
    return deg, n, cdf, pr


def _pagerank_step(cdf: DataFrame, n: float, rank_side: DataFrame) -> DataFrame:
    """One power iteration: ranks (already broadcast or repartitioned by
    the caller) join the contribution frame, and each destination sums
    its inbound mass."""
    contrib = cdf.join(rank_side, F.col("u") == F.col("node")).select(
        F.col("v"), (F.col("r") / F.col("dg")).alias("c")
    )
    return (
        contrib.groupBy(F.col("v").alias("node"))
        .agg(F.sum("c").alias("mass"))
        .select(
            "node",
            (
                F.lit((1.0 - PAGERANK_DAMPING) / n)
                + F.lit(PAGERANK_DAMPING) * F.col("mass")
            ).alias("r"),
        )
    )


def _pagerank_oracle() -> str:
    d = PAGERANK_DAMPING
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        deg AS MATERIALIZED (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS dg
                FROM bi GROUP BY u),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
        pr0 AS (SELECT node, 1.0 / nn.n AS r FROM deg CROSS JOIN nn)"""
    steps = "".join(
        f""",
        pr{k} AS MATERIALIZED (
            SELECT b.v AS node,
                   (1.0 - {d}) / ANY_VALUE(nn.n)
                       + {d} * SUM(p.r / dg.dg) AS r
            FROM pr{k - 1} p
            JOIN bi b ON b.u = p.node
            JOIN deg dg ON dg.node = p.node
            CROSS JOIN nn
            GROUP BY b.v
        )"""
        for k in range(1, PAGERANK_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        SELECT p.node, dg.dg AS degree,
               {sql_round_dbl('p.r', 6)} AS pagerank
        FROM pr{PAGERANK_ITERS} p JOIN deg dg USING (node)
    """
    )


@query(
    "graph_pagerank_supplier",
    category="graph",
    description=f"PageRank ({PAGERANK_ITERS} synchronous iterations, d={PAGERANK_DAMPING}) on the supplier co-order graph",
    oracle=_pagerank_oracle(),
)
def graph_pagerank_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the thresholded supplier co-order graph (edges from
    ``_supplier_edges``, made bidirectional) — the canonical ITERATIVE
    graph algorithm, run as 5 fixed synchronous power
    iterations with damping 0.85. Each iteration is one
    join (rank onto out-edges, pre-divided by out-degree) + one
    aggregation (sum of inbound mass per destination) — exactly the
    Pregel step expressed relationally, so Catalyst handles partial
    aggregation and AQE handles any celebrity-node skew. Plan shape:
    the rank relation feeds each next iteration exactly ONCE, so the
    DAG is LINEAR and the whole 5-step fixpoint compiles
    into a single job — no per-iteration checkpoint is needed (that
    discipline is for loops that reference their result twice, like
    CC's star contraction; here a per-iteration cut measured ~1.6×
    slower at sf0.1, 5.4 s vs 3.4 s, from per-job scheduling alone).
    The ONE lineage cut
    that matters is the edge relation: it feeds five branches (degrees,
    N, both join sides via bi, the final report join), so it is
    materialized eagerly and the iteration-invariant (edge ⋈ degree)
    contribution frame is checkpointed lazily once. No dangling-node
    term is needed: the bidirectional edge relation gives every node
    out-degree ≥ 1 by construction. The single driver-side scalar is N
    (node count — a graph-cardinality count, bounded at any corpus
    scale). At 100 TB the rank and edge relations shuffle-join on node
    id per iteration — the standard distributed PageRank shape; the
    fact-table pass happens exactly once inside the edge derivation.
    The oracle unrolls the same 5 iterations as chained
    CTEs — recursion-free and ANSI, so the fixpoint trajectory itself
    is verified value-by-value (round 1e-6; reorder error
    ~1e-15/iteration on ~1e-2 ranks).

    Reference parity: the reference engine has no graph surface
    (SURVEY.md §2B 'beyond the reference'); this extends the graph
    family beyond triangle counting to iterative propagation.

    Production posture: ``pagerank_until_settled`` runs the same step
    under ``run_until_settled`` with a tolerance stop instead of the
    fixed unroll — pinned against this entry in
    tests/test_graph_convergence.py."""
    return pagerank_frame(spark, sf_dir, broadcast_ranks=True)


def pagerank_frame(
    spark: SparkSession,
    sf_dir: str,
    broadcast_ranks: bool = True,
    edges: DataFrame | None = None,
) -> DataFrame:
    """The PageRank fixpoint with a selectable rank-propagation join.

    ``broadcast_ranks=True`` (the registered query's path): the rank
    relation is node-cardinality — supplier-dimension-sized here, hence
    broadcastable at any corpus scale by the same argument as the
    supplier table itself (catalog.BROADCAST_TABLES) — so each
    iteration broadcasts ranks onto the pre-partitioned contribution
    frame and the whole fixpoint costs ONE edge exchange, total.

    ``broadcast_ranks=False``: the web-graph posture, for graphs whose
    NODE relation does not fit an executor (billions of nodes). Each
    iteration shuffle-joins ranks to contributions on the source node
    id — the standard distributed PageRank step; because the
    contribution frame is hash-partitioned once and reused, only the
    (small-per-node) rank relation moves each iteration. A plan test
    pins that this path plans no broadcast of the rank relation, and a
    value test pins that both variants agree exactly.

    ``edges`` (optional): a precomputed (s1, s2) edge relation — the
    production pipeline posture, where the thresholded edge list is a
    materialized intermediate shared by every graph analytic; bench.py
    times this path as ``pipeline_marginal``. Default derives edges
    self-contained so the registry entry stays oracle-verifiable
    end-to-end."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    deg, n, cdf, pr = _pagerank_graph(edges, "v" if broadcast_ranks else "u")
    for _ in range(PAGERANK_ITERS):
        rank_side = F.broadcast(pr) if broadcast_ranks else pr.repartition(8, "node")
        pr = _pagerank_step(cdf, n, rank_side)
    report_deg = F.broadcast(deg) if broadcast_ranks else deg
    return pr.join(report_deg, pr.node == deg.u).select(
        "node", F.col("dg").cast("long").alias("degree"), round_dbl(F.col("r"), 6).alias("pagerank")
    )


@query(
    "graph_triangle_stats",
    category="graph",
    description=f"Triangle count + clustering coeff of the supplier co-order graph (top-{100 - int(TRIANGLE_PCTL * 100)}% pair weights)",
    oracle=f"""
        WITH {_EDGES_CTE},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e)
            GROUP BY node
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.s2 = e2.s1
            JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles,
               {sql_round_dbl(
                   "3.0 * (SELECT n_triangles FROM tri)"
                   " / NULLIF((SELECT SUM(d * (d - 1) / 2.0) FROM deg), 0)", 6
               )} AS global_clustering
    """,
)
def graph_triangle_stats(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Degree-ordered triangle counting (module docstring has the scale
    argument). The oracle counts the same triangles with the naive
    canonical 3-way join — feasible at oracle scale, and a definitionally
    independent formulation, so agreement pins the orientation logic.
    Global clustering coefficient = closed wedges / all wedges
    (3·triangles / Σ d·(d−1)/2)."""
    # Eager lineage cut: the edge list is graph-cardinality (micro next
    # to the fact table), but SIX downstream branches consume it
    # (threshold, degrees, orientation, two wedge sides, closure). A
    # lazy cache leaves each branch carrying the full fact-scan lineage
    # through the planner; materializing the edges once collapses the
    # DAG to small-relation joins — the same discipline the
    # connected-components loop uses (dedup.py) for iterative reuse.
    # ``edges`` may be passed precomputed (materialized-intermediate
    # pipeline posture, timed as pipeline_marginal by bench.py).
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient each edge from its (degree, id)-smaller endpoint to the
    # larger: out-degrees become O(sqrt(m)), bounding the wedge join.
    d1 = F.broadcast(deg).alias("d1")
    d2 = F.broadcast(deg).alias("d2")
    e = (
        edges.join(d1, F.col("s1") == F.col("d1.node"))
        .join(d2, F.col("s2") == F.col("d2.node"))
        .select(
            F.when(
                (F.col("d1.d") < F.col("d2.d"))
                | ((F.col("d1.d") == F.col("d2.d")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
            )
            .otherwise(F.struct(F.col("s2").alias("u"), F.col("s1").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
    )
    # Wedges u→v, u→w (v before w in orientation order) closed by v→w.
    w1 = e.alias("w1")
    w2 = e.select(F.col("u").alias("u2"), F.col("v").alias("w")).alias("w2")
    wedges = w1.join(w2, F.col("w1.u") == F.col("w2.u2")).filter(
        F.col("w1.v") != F.col("w2.w")
    )
    closing = e.select(F.col("u").alias("cv"), F.col("v").alias("cw"))
    triangles = wedges.join(
        closing,
        (F.col("w1.v") == F.col("cv")) & (F.col("w2.w") == F.col("cw")),
        "left_semi",
    )
    n_tri = triangles.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    wedge_total = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("wedges"),
    )
    return (
        wedge_total.crossJoin(n_edges)  # three one-row relations
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            round_dbl(
                3.0
                * F.col("n_triangles")
                / F.nullif(F.col("wedges"), F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )


def _self_loop_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bis, labels0) for the label families (CC, LPA): the bidirectional
    edges plus one SELF-LOOP per node, and identity labels. The self-loop
    carries a node's own label (CC's "and itself", LPA's self-vote), so
    the label relation appears exactly once per step and lineage stays
    linear."""
    bi = _bi_edges(edges)
    nodes = bi.select(F.col("u").alias("node")).distinct()
    bis = bi.unionAll(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    return bis, nodes.select("node", F.col("node").alias("lbl"))


def _label_votes(bis: DataFrame, lbl: DataFrame) -> DataFrame:
    """(v, lbl): every node's label sent along its edges, self-loop
    included, with the node-cardinality labels broadcast."""
    return bis.join(F.broadcast(lbl), F.col("u") == F.col("node")).select("v", "lbl")


def _min_label_step(bis: DataFrame, lbl: DataFrame) -> DataFrame:
    """One CC step: each node takes the min label over itself and its
    neighbors (one map-side-combined MIN)."""
    return _label_votes(bis, lbl).groupBy("v").agg(F.min("lbl").alias("lbl")).select(
        F.col("v").alias("node"), "lbl"
    )


def _lpa_step(bis: DataFrame, lbl: DataFrame) -> DataFrame:
    """One LPA step: each node adopts the most frequent label among its
    neighbors and itself, ties to the smallest label. The argmax is the
    max(struct(cnt, -lbl)) AGGREGATE, not a ranked window."""
    counted = _label_votes(bis, lbl).groupBy("v", "lbl").agg(
        F.count(F.lit(1)).alias("c")
    )
    best = F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("b")
    return counted.groupBy("v").agg(best).select(
        F.col("v").alias("node"), (-F.col("b.neg")).alias("lbl")
    )


LPA_ITERS = 3


def _lpa_oracle() -> str:
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM bi)"""
    steps = "".join(
        f""",
        lab{k} AS MATERIALIZED (
            SELECT node, lbl FROM (
                SELECT t.node, t.lbl,
                       ROW_NUMBER() OVER (PARTITION BY t.node
                                          ORDER BY COUNT(*) DESC, t.lbl) AS rn
                FROM (
                    SELECT b.v AS node, l.lbl
                    FROM bi b JOIN lab{k - 1} l ON l.node = b.u
                    UNION ALL
                    SELECT node, lbl FROM lab{k - 1}
                ) t
                GROUP BY t.node, t.lbl
            ) WHERE rn = 1
        )"""
        for k in range(1, LPA_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        SELECT node, lbl AS community,
               CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
        FROM lab{LPA_ITERS}
        ORDER BY node
    """
    )


@query(
    "graph_label_propagation",
    category="graph",
    description=f"Label-propagation TRAJECTORY SNAPSHOT ({LPA_ITERS} synchronous iterations, NOT the fixpoint — see graph_lpa_until_settled) on the supplier co-order graph",
    oracle=_lpa_oracle(),
)
def graph_label_propagation(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """TRAJECTORY SNAPSHOT, not a fixpoint: this entry compares both
    engines' state after exactly 3 iterations (convergence on
    this data arrives at round 10 — ``graph_lpa_until_settled`` is the
    registry entry for the settled communities).

    Community detection by synchronous label propagation: start every
    node at its own id; each iteration adopts the label most frequent
    among neighbors AND itself (the self-vote), ties to the SMALLEST
    label — the determinism that makes an iterative heuristic
    value-verifiable across engines (the textbook async/random-order
    LPA is irreproducible by design; fixed iteration count +
    deterministic tie-break is the differential-testable variant, same
    trade the PageRank entry makes with its fixed fixpoint). The
    self-vote matters for correctness, not just determinism: pure
    synchronous LPA OSCILLATES on bipartite structures (two connected
    nodes swap labels forever); with the self-vote each node of a pair
    sees one vote for each label, ties resolve to min(a, b) on both
    sides — converged in one step.

    Plan shape per iteration: one join of the label relation onto the
    bidirectional edge list + one grouped count + one argmax — and the
    argmax is the max(struct(cnt, -lbl)) AGGREGATE, not a ranked
    window, so the per-node reduction is map-side combined and a
    celebrity node's neighbor list never funnels through one task's
    sort. Labels are node-cardinality (broadcastable here; at web
    scale the same loop shuffle-joins on node id — the
    ``pagerank_frame`` posture switch applies verbatim). The
    self-vote is folded into a SELF-LOOP edge added once before the
    loop, so the label relation appears exactly once per iteration and
    the DAG stays linear in iterations — one job, no per-iteration
    checkpoint. (The naive formulation — union the label relation into
    the votes as a second branch — references it twice per step, which
    DOUBLES the plan subtree each iteration: 2^k copies by step k,
    measured 4 s for 6 iterations on a few-hundred-node graph before
    ``graph_connected_components`` exposed it.) The oracle unrolls the
    same 3 iterations as chained CTEs with a ranked window —
    an independent argmax formulation, so tie-breaks are cross-checked
    value-by-value.

    Production posture: ``label_propagation_until_settled`` loops the
    same step to a genuine fixpoint (needs ~10 rounds at sf0.01 — this
    entry's fixed 3 iterations are a snapshot of the
    trajectory, not a settlement claim); pinned in
    tests/test_graph_convergence.py."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bis, labels = _self_loop_graph(edges)
    for _ in range(LPA_ITERS):
        labels = _lpa_step(bis, labels)
    from pyspark.sql.window import Window as W

    return labels.select(
        "node",
        F.col("lbl").alias("community"),
        F.count(F.lit(1))
        .over(W.partitionBy("lbl"))
        .cast("long")
        .alias("community_size"),
    ).orderBy("node")


CC_ITERS = 6


def _cc_oracle() -> str:
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        cc0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM bi)"""
    steps = "".join(
        f""",
        cc{k} AS MATERIALIZED (
            SELECT node, MIN(lbl) AS lbl FROM (
                SELECT b.v AS node, l.lbl
                FROM bi b JOIN cc{k - 1} l ON l.node = b.u
                UNION ALL
                SELECT node, lbl FROM cc{k - 1}
            ) GROUP BY node
        )"""
        for k in range(1, CC_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        SELECT prev.lbl AS component,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               MAX(prev.node) AS max_node,
               CAST(SUM(CASE WHEN prev.lbl <> last.lbl THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unsettled
        FROM cc{CC_ITERS} last JOIN cc{CC_ITERS - 1} prev USING (node)
        GROUP BY prev.lbl
        ORDER BY component
    """
    )


@query(
    "graph_connected_components",
    category="graph",
    description=f"Connected components by {CC_ITERS}-step synchronous min-label propagation, with per-component settlement audit",
    oracle=_cc_oracle(),
)
def graph_connected_components(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Connected components of the supplier co-order graph by synchronous
    min-label propagation: every node starts at its own id; each step
    takes the min over itself and its neighbors. After d steps (d =
    graph diameter) every node carries its component's smallest id.

    A FIXED step count is what makes an iterative fixpoint
    differentially testable (the trade ``graph_pagerank_supplier`` and
    ``graph_label_propagation`` already make): both engines unroll the
    same 6 steps, so results are value-identical even on a
    pathological input where propagation hasn't settled. The query
    AUDITS its own convergence instead of assuming it: ``n_unsettled``
    counts the nodes per component whose label still changed on the
    final step — 0 everywhere proves the fixpoint was reached ON THIS
    DATA in-query (the discipline the sketch audits use for
    approximation error), and
    ``tests/test_plans.py`` pins it to 0 against a union-find
    ground truth at the shipped SFs.

    Plan shape per step: one shuffle join of the label relation onto the
    bidirectional edge list + one map-side-combined MIN agg — no window,
    no single-task sort anywhere. The "and itself" term is a SELF-LOOP
    edge added once before the loop (the ``graph_label_propagation``
    trick), so the label relation appears exactly once per step and the
    lineage stays linear — the two-branch union formulation doubles the
    plan subtree every step (2^6 copies here; measured 4 s vs 0.5 s
    marginal at sf0.01). The label relation is node-cardinality
    and broadcastable here; at web scale flip the same join to a shuffle
    join on node id (the ``pagerank_frame`` posture switch). Min-prop
    needs O(diameter) rounds — fine for the short-diameter graphs
    relational data yields; a production CC on a web graph swaps this
    loop for the large-star/small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce"), which converges in
    O(log² n) rounds with the SAME per-round plan shape, so the swap is
    the loop body, not the architecture. The final step joins labels at
    steps 5 and 6 to emit the settlement audit; the
    extra join is against the micro label relation, not the corpus.

    Production posture: ``connected_components_until_settled`` loops the
    same step under ``run_until_settled`` until no label moves — the
    long-diameter path the fixed unroll cannot serve; pinned equal to
    this entry in tests/test_graph_convergence.py."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bis, labels = _self_loop_graph(edges)
    prev, labels = _unroll(labels, lambda lbl: _min_label_step(bis, lbl), CC_ITERS)
    return (
        prev.alias("p")
        .join(labels.alias("l"), "node")
        .groupBy(F.col("p.lbl").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("node").alias("max_node"),
            F.sum(
                (F.col("p.lbl") != F.col("l.lbl")).cast("long")
            ).alias("n_unsettled"),
        )
        .orderBy("component")
    )


def _hop_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, bw, dist0) for the hop-count min-plus family (BFS,
    closeness): bidirectional edges of weight 1 plus a 0-weight self-loop
    per node (it carries a node's own distance, so the distance relation
    appears once per step), and the min-node source at distance 0."""
    bi = _bi_edges(edges)
    nodes = bi.select(F.col("u").alias("node")).distinct()
    bw = bi.withColumn("w", F.lit(1)).unionAll(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"), F.lit(0).alias("w"))
    )
    dist = nodes.agg(F.min("node").alias("node")).select("node", F.lit(0).alias("d"))
    return nodes, bw, dist


BFS_ITERS = 6


def _bfs_oracle() -> str:
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bw AS MATERIALIZED (SELECT u, v, 1 AS w FROM bi
               UNION ALL SELECT node, node, 0 FROM nodes),
        d0 AS (SELECT (SELECT MIN(node) FROM nodes) AS node, 0 AS d)"""
    steps = "".join(
        f""",
        d{k} AS MATERIALIZED (
            SELECT b.v AS node, MIN(l.d + b.w) AS d
            FROM bw b JOIN d{k - 1} l ON l.node = b.u
            GROUP BY 1
        )"""
        for k in range(1, BFS_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        ,
        final AS (
            SELECT n.node, COALESCE(dl.d, -1) AS d
            FROM nodes n LEFT JOIN d{BFS_ITERS} dl USING (node)
        ),
        audit AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_unsettled
            FROM nodes n
            LEFT JOIN d{BFS_ITERS} a USING (node)
            LEFT JOIN d{BFS_ITERS - 1} b USING (node)
            WHERE COALESCE(a.d, -1) <> COALESCE(b.d, -1)
        )
        SELECT CAST(f.d AS BIGINT) AS hops,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               (SELECT n_unsettled FROM audit) AS n_unsettled
        FROM final f GROUP BY f.d ORDER BY hops
    """
    )


@query(
    "graph_bfs_hops",
    category="graph",
    description=f"Single-source BFS hop histogram by {BFS_ITERS}-step min-plus propagation, with settlement audit and unreachable bucket",
    oracle=_bfs_oracle(),
)
def graph_bfs_hops(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Single-source shortest hops — the min-PLUS member of the iterative
    family (``graph_connected_components`` is min-label): distances from
    the smallest node id propagate as d(v) = min(d(v), min_u d(u)+1),
    unrolled to a FIXED BFS_ITERS (6) steps in both engines (the family's
    differential-testability trade), with the same two audit disciplines:
    ``n_unsettled`` counts nodes whose distance changed on the final step
    (0 proves the fixpoint was reached ON THIS DATA — measured diameters
    are ≤4 at every shipped SF), and nodes the frontier never reached
    emit as an explicit hops = -1 bucket instead of silently vanishing
    (sf0.001's 4-node graph has 2 unreachable nodes — the edge case that
    makes the bucket non-vacuous, not decoration).

    Plan shape per step: identical to CC — one join of the distance
    relation onto the weighted bidirectional edge list (+0 self-loops
    carry a node's own distance, so the relation appears ONCE per step
    and lineage stays linear) + one map-side-combined MIN. The distance
    relation starts at one row and is node-bounded; broadcast here, a
    shuffle join at web scale (the pagerank_frame posture switch).
    Frontier-only optimization (join only nodes whose d changed) halves
    work on long-diameter graphs; on diameter-4 relational graphs the
    fixed unroll is cheaper than the bookkeeping.

    Production posture: ``bfs_hops_until_settled`` loops the same step
    under ``run_until_settled``, whose settlement check counts a newly
    reached node as a change (the GROWING frontier); pinned equal to
    this entry in tests/test_graph_convergence.py."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    nodes, bw, dist = _hop_graph(edges)
    prev, dist = _unroll(dist, lambda dd: _relax_step(bw, dd, "w"), BFS_ITERS)
    final = nodes.join(dist, "node", "left").select(
        "node", F.coalesce(F.col("d"), F.lit(-1)).alias("d")
    )
    audit = (
        nodes.join(dist.withColumnRenamed("d", "da"), "node", "left")
        .join(prev.withColumnRenamed("d", "db"), "node", "left")
        .filter(
            F.coalesce(F.col("da"), F.lit(-1)) != F.coalesce(F.col("db"), F.lit(-1))
        )
        .agg(F.count(F.lit(1)).alias("n_unsettled"))
    )
    return (
        final.groupBy(F.col("d").cast("long").alias("hops"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(audit))
        .orderBy("hops")
    )


# ---------------------------------------------------------------------------
# Convergence-capped production variants of the iterative family
# ---------------------------------------------------------------------------
#
# The fixed-K REGISTRY entries unroll a FIXED number of steps — the
# differential-testability trade (both engines run the identical plan, so
# results are value-comparable even mid-convergence) — and each AUDITS its
# own settlement in-query. That trade leans on short graph diameters: at
# 100× on a long-diameter graph a fixed unroll would NOT converge. The six
# loops below (CC, BFS, LPA, PageRank, k-core, SSSP) are the production
# posture: each calls its family's graph builder and step function — the
# same ones its fixed entry unrolls — until the state relation stops
# changing (or max_rounds), with a lineage cut per round so the plan never
# grows with the iteration count.
# They are library functions, not registry entries — an until-convergence
# loop is not expressible as one deterministic cross-engine SQL unroll,
# which is exactly why the oracle entries fix their step counts.


def run_until_settled(
    state: DataFrame,
    step_fn: Callable[[DataFrame], DataFrame],
    *,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    max_rounds: int = 50,
    tolerance: float | None = None,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """Iterate ``state = step_fn(state)`` until a fixpoint, with a lineage
    cut per round, and return ``(final_state, rounds_run, settled)``.

    ``rounds_per_check`` (round-11, verdict #1's batching lever; made
    EXACT in optimization round 14): apply the step K times between
    lineage cuts + settlement checks, composing K steps into ONE batch
    whose single settlement count replaces K per-round counts — on a
    long-diameter graph this divides the per-round job-scheduling and
    convergence-count overhead by K. The check compares the batch's LAST
    CONSECUTIVE PAIR (state(t−1), state(t)): ``step_fn`` is
    deterministic, so a fixpoint reached at any round j inside the batch
    propagates to every later round and makes that pair equal — and,
    unlike the earlier state(t) vs state(t−K) formulation, an equal
    consecutive pair is a direct f-fixpoint WITNESS, so oscillating
    steps (a synchronous-LPA 2-cycle) can never be misread as settled,
    at any K, even or odd. On detection, the batch's earlier pairs are
    back-checked in order for the exact first-no-change round, and THAT
    round's state is returned — ``(final_state, rounds_run, settled)``
    are therefore identical to the K = 1 cadence at any K (pinned in
    tests/test_graph_convergence.py), which is what lets the REGISTRY
    entries run K > 1 while their oracles derive the exact round count
    analytically. The back-check costs up to K−1 extra micro counts ONCE
    at the tail; every non-final batch pays one count instead of K. The
    trade is therefore governed by rounds/K: the REGISTRY entries keep
    K = 1 because the shipped corpus settles in 1-6 rounds, where the
    tail back-check dominates the amortized savings (round-14 A/B at
    sf0.1, all five entries: K=4 read 1.2-2.2× SLOWER than K=1, worst on
    k-core which settles in ONE round and paid 4 steps for it); K > 1 is
    the long-diameter lever, where rounds >> K makes the non-final
    batches dominate (the 200-node-chain BENCH_SCALE row).

    Settlement: after each round the new and previous states are
    unioned and grouped by ``key_cols`` + ``value_cols``; every group of
    one row is a change. That counts a key that appears or disappears
    (BFS frontiers GROW, k-core states SHRINK) and any value difference,
    null-safely, with ONE exchange. Only with ``tolerance`` set (the
    PageRank posture, where exact equality of doubles never arrives)
    are the states full-outer-joined on ``key_cols`` instead, with
    explicit per-side presence markers, so values within the tolerance
    count as unchanged. ``value_cols`` may be EMPTY for key-set-only
    states (k-core's surviving-node set): settlement is then pure
    key-set equality.
    ``settled=False`` means the loop hit ``max_rounds`` first; callers
    treat that as the convergence audit failing, the same discipline as
    the fixed entries' ``n_unsettled``.

    Scale posture: the per-round driver traffic is ONE count over the
    (node-cardinality) state relation — the standard Pregel-style
    convergence check; ``localCheckpoint`` bounds the plan at one round's
    depth (on a real cluster with executor loss in play, swap for
    ``spark.sparkContext.setCheckpointDir`` + ``DataFrame.checkpoint`` —
    same call shape, reliable storage). Each round is one job, so a
    converged run costs O(rounds) scheduling overhead — which is why the
    SHORT-diameter oracle entries above prefer the single-job fixed unroll
    and this loop is the long-diameter production path.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    if rounds_per_check < 1:
        raise ValueError("rounds_per_check must be >= 1")
    def count_changed(prev: DataFrame, nxt: DataFrame) -> int:
        if tolerance is None:
            # Single-exchange settlement check (optimization round 14,
            # guide §2.3/2.4: the full-outer join shuffled BOTH micro
            # relations and sorted each side — two exchanges per check;
            # this is one). States are keyed (one row per key by the
            # groupBy contract of every step), so in the union of the two
            # rounds grouped by (key, value): an unchanged key forms a
            # group of exactly 2 and ANY difference — value change,
            # appearing key, disappearing key — leaves a one-sided
            # singleton. GROUP BY is null-safe on both keys and values,
            # exactly like the join path's eqNullSafe + explicit presence
            # markers (a NULL-valued appearing key still groups alone —
            # pinned in tests/test_graph_convergence.py); only
            # ``changed == 0`` is consumed, so the two formulations
            # decide identically and ``rounds_run``/``settled`` are
            # bit-identical.
            cols = [*key_cols, *value_cols]
            return (
                nxt.select(*cols)
                .unionAll(prev.select(*cols))
                .groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__settle_n"))
                .filter(F.col("__settle_n") == 1)
                .count()
            )
        # tolerance path (PageRank-style float states): near-equal
        # values must read "unchanged", which grouping cannot express
        # — keep the full-outer join with explicit presence markers
        # (the join coalesces key columns, so which side is missing
        # must be carried explicitly; a value column cannot stand in,
        # since its legitimate NULLs would read as absence).
        terms: list[Column] = [
            F.col("n._present").isNull() | F.col("c._present").isNull()
        ]
        for vc in value_cols:
            a, b = F.col(f"n.{vc}"), F.col(f"c.{vc}")
            terms.append(
                a.isNull() | b.isNull() | (F.abs(a - b) > F.lit(tolerance))
            )
        return (
            nxt.withColumn("_present", F.lit(1)).alias("n")
            .join(
                prev.withColumn("_present", F.lit(1)).alias("c"),
                on=list(key_cols),
                how="full",
            )
            .filter(reduce(or_, terms))
            .count()
        )

    cur = state.localCheckpoint()
    rounds = 0
    while rounds < max_rounds:
        k = min(rounds_per_check, max_rounds - rounds)
        # Batch body: k−1 un-checkpointed intermediate plans (retained
        # for the settle-round back-check), then the batch's LAST
        # CONSECUTIVE PAIR lazily checkpointed. Lazy (optimization round
        # 14, guide §2.6 scheduling overhead): the settlement count below
        # is the batch's first action, so it materializes BOTH
        # checkpoints in one job (``last`` builds on ``penult``'s cached
        # partitions) — where eager=True paid a separate materialization
        # job per checkpoint.
        plans = [cur]
        for _ in range(k - 1):
            plans.append(step_fn(plans[-1]))
        penult = plans[-1].localCheckpoint(eager=False) if k > 1 else cur
        last = step_fn(penult).localCheckpoint(eager=False)
        if count_changed(penult, last) == 0:
            # The last pair being equal witnesses an f-fixpoint reached
            # at SOME round j in this batch (step_fn is deterministic, so
            # s_j = s_{j-1} propagates forward). Back-check the earlier
            # pairs in order for the exact first-no-change round and
            # return THAT round's state — checkpointed BEFORE its
            # deciding count so the decision and every downstream
            # consumer read the same materialized rows (matters for
            # float states under ``tolerance``, where a re-execution
            # could differ in the last ulp). Runs once, at the tail.
            for i in range(1, k):
                cand = (
                    penult
                    if i == k - 1
                    else plans[i].localCheckpoint(eager=False)
                )
                if count_changed(plans[i - 1], cand) == 0:
                    return cand, rounds + i, True
            return last, rounds + k, True
        cur = last
        rounds += k
    return cur, max_rounds, False


def connected_components_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    max_rounds: int = 50,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """``graph_connected_components``'s min-label propagation, looped to
    convergence instead of the fixed 6-step unroll (the same
    ``_self_loop_graph`` and ``_min_label_step``). Returns
    ``((node, lbl), rounds, settled)``; the fixed entry's output is the
    per-component aggregate of this state. ``rounds_per_check`` > 1 is
    exact for any deterministic step since round 14 (see
    ``run_until_settled``); on a long-diameter graph it
    divides the scheduling + settlement-count overhead by K (measured:
    BENCH_SCALE.json's ``chain_cc_rounds_per_check`` row; end-to-end pin
    in tests/test_graph_convergence.py). On a long-diameter production
    graph, swap the loop BODY for the large-star/small-star alternation
    (Kiveris et al.) — O(log² n) rounds, same convergence harness."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bis, labels = _self_loop_graph(edges)
    bis = bis.localCheckpoint(eager=False)
    return run_until_settled(
        labels,
        lambda lbl: _min_label_step(bis, lbl),
        key_cols=["node"],
        value_cols=["lbl"],
        max_rounds=max_rounds,
        rounds_per_check=rounds_per_check,
    )


def bfs_hops_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    max_rounds: int = 50,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """``graph_bfs_hops``'s min-plus propagation from the smallest node id,
    looped to convergence instead of the fixed 6-step unroll.
    Returns ``((node, d), rounds, settled)`` over REACHED nodes only (the
    fixed entry's hops = -1 bucket is the anti-join against the node
    relation, unchanged by when the loop stops). The frontier grows: the
    settlement check counts a newly reached node, which has no
    previous-round row, as a change. ``rounds_per_check`` > 1 is exact
    for any deterministic step since round 14 (see
    ``run_until_settled``)."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    _, bw, dist = _hop_graph(edges)
    bw = bw.localCheckpoint(eager=False)
    return run_until_settled(
        dist,
        lambda dd: _relax_step(bw, dd, "w"),
        key_cols=["node"],
        value_cols=["d"],
        max_rounds=max_rounds,
        rounds_per_check=rounds_per_check,
    )


def label_propagation_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    max_rounds: int = 50,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """``graph_label_propagation``'s synchronous self-vote LPA, looped to
    convergence instead of the fixed 3-step unroll (the same
    ``_self_loop_graph`` and ``_lpa_step``). The self-vote kills the
    bipartite oscillation that would make "until settled" a livelock on
    pure synchronous LPA (see the fixed entry's docstring). Returns
    ``((node, lbl), rounds, settled)``."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bis, labels = _self_loop_graph(edges)
    bis = bis.localCheckpoint(eager=False)
    return run_until_settled(
        labels,
        lambda lbl: _lpa_step(bis, lbl),
        key_cols=["node"],
        value_cols=["lbl"],
        max_rounds=max_rounds,
        rounds_per_check=rounds_per_check,
    )


def pagerank_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    tolerance: float = 1e-7,
    max_rounds: int = 100,
) -> tuple[DataFrame, int, bool]:
    """``graph_pagerank_supplier``'s power iteration, looped until no
    node's rank moves by more than ``tolerance`` between rounds (the
    family's float member — exact settlement never arrives, so the stop
    is a tolerance band; with damping d the true-fixpoint error at stop
    is bounded by tolerance·d/(1-d)). It runs ``pagerank_frame``'s
    broadcast posture: the same ``_pagerank_graph`` and
    ``_pagerank_step``. Returns ``((node, r), rounds, settled)`` with r
    unrounded."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    _, n, cdf, pr = _pagerank_graph(edges, "v")
    return run_until_settled(
        pr,
        lambda rank: _pagerank_step(cdf, n, F.broadcast(rank)),
        key_cols=["node"],
        value_cols=["r"],
        max_rounds=max_rounds,
        tolerance=tolerance,
    )


KCORE_K = 3
KCORE_ITERS = 6


def _kcore_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bi, nodes0): the bidirectional edges, checkpointed lazily because
    every peel step reads them, and the full node set."""
    bi = _bi_edges(edges).localCheckpoint(eager=False)
    return bi, bi.select(F.col("u").alias("node")).distinct()


def _kcore_step(bi: DataFrame, cur: DataFrame, k: int) -> DataFrame:
    """One peel: keep the nodes with at least ``k`` neighbors inside
    ``cur``. The surviving-node relation semi-restricts BOTH edge
    endpoints (two broadcast semi joins), then one map-side-combined
    COUNT per node with the HAVING filter."""
    return (
        bi.join(F.broadcast(cur), F.col("u") == F.col("node"), "left_semi")
        .join(
            F.broadcast(cur.select(F.col("node").alias("nv"))),
            F.col("v") == F.col("nv"),
            "left_semi",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("dg"))
        .filter(F.col("dg") >= k)
        .select(F.col("u").alias("node"))
    )


def _kcore_oracle() -> str:
    # every step references its predecessor TWICE (both edge endpoints) —
    # with default CTE inlining that doubles the plan subtree per step
    # (2^ITERS copies of the full edge derivation; measured >120 s at
    # sf0.01), so bi and each step are pinned MATERIALIZED: the oracle
    # engine needs the same lineage cut the Spark loop takes with
    # localCheckpoint.
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi)"""
    steps = "".join(
        f""",
        n{k} AS MATERIALIZED (
            SELECT b.u AS node FROM bi b
            JOIN n{k - 1} x ON x.node = b.u
            JOIN n{k - 1} y ON y.node = b.v
            GROUP BY b.u HAVING COUNT(*) >= {KCORE_K}
        )"""
        for k in range(1, KCORE_ITERS + 1)
    )
    counts = " UNION ALL ".join(
        f"SELECT {k} AS step, (SELECT COUNT(*) FROM n{k}) AS n_remaining,"
        f" (SELECT COUNT(*) FROM n{k - 1}) - (SELECT COUNT(*) FROM n{k})"
        f" AS n_dropped"
        for k in range(1, KCORE_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        SELECT CAST(step AS BIGINT) AS step,
               CAST(n_remaining AS BIGINT) AS n_remaining,
               CAST(n_dropped AS BIGINT) AS n_dropped
        FROM ({counts}) ORDER BY step
    """
    )


@query(
    "graph_kcore_peeling",
    category="graph",
    description=f"{KCORE_K}-core decomposition by {KCORE_ITERS}-step synchronous peeling, per-step drop histogram with settlement audit",
    oracle=_kcore_oracle(),
)
def graph_kcore_peeling(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """K-core decomposition — the density-peeling member of the iterative
    family (CC = min-label, BFS = min-plus, LPA = argmax; this is
    REMOVAL): repeatedly delete nodes with degree < 3 in the
    remaining subgraph until no deletion fires; what survives is the
    3-core, the standard coreness screen for 'is this node in a
    dense community or hanging off one'. Same differential trade as the
    siblings: both engines unroll the identical 6 steps and
    the output is the per-step (n_remaining, n_dropped) histogram —
    n_dropped at the final step doubling as the settlement audit (0 at
    every shipped SF proves the fixpoint arrived in-window; pinned
    against an independent Python peel in pytest).

    Plan shape per step: ``_kcore_step``, whose two semi joins against
    the node-cardinality survivor relation are broadcast here and a
    shuffle at web scale. Unlike CC/BFS there is no self-loop trick
    (the state relation legitimately gates both endpoints), so each
    step's result is localCheckpointed to keep lineage LINEAR — the
    two-reference subtree doubling this family already measured
    (4 s vs 0.5 s, see graph_connected_components). Per-step counts are
    1-row aggregates chained by crossJoin, no driver collect. The
    production posture (loop until no drop) is
    ``kcore_until_settled`` on the shared ``run_until_settled``
    harness."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bi, nodes = _kcore_graph(edges)
    summaries = []
    prev_cnt = nodes.agg(F.count(F.lit(1)).alias("n_prev"))
    for k in range(1, KCORE_ITERS + 1):
        nodes = _kcore_step(bi, nodes, KCORE_K).localCheckpoint(eager=False)
        cnt = nodes.agg(F.count(F.lit(1)).alias("n_remaining"))
        summaries.append(
            cnt.crossJoin(F.broadcast(prev_cnt)).select(
                F.lit(k).cast("long").alias("step"),
                F.col("n_remaining"),
                (F.col("n_prev") - F.col("n_remaining")).alias("n_dropped"),
            )
        )
        prev_cnt = cnt.select(F.col("n_remaining").alias("n_prev"))
    return reduce(DataFrame.unionAll, summaries).orderBy("step")


def kcore_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    k: int = KCORE_K,
    max_rounds: int = 50,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """``graph_kcore_peeling``'s peel loop run to convergence on the
    ``run_until_settled`` harness — the long-diameter production
    posture (a K one notch higher already needs 10 rounds at sf0.01
    where the oracle entry's fixed window holds only for 3).
    State = surviving nodes; a disappearing key IS the change signal,
    which the harness's settlement check counts as a one-sided group.
    Returns ``((node,), rounds, settled)``."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    bi, nodes = _kcore_graph(edges)
    # key-set-only state: settlement is the node set itself
    return run_until_settled(
        nodes,
        lambda cur: _kcore_step(bi, cur, k),
        key_cols=["node"],
        value_cols=[],
        max_rounds=max_rounds,
        rounds_per_check=rounds_per_check,
    )


#: link-prediction shortlist size (deterministic total order below).
LP_TOP_K = 20


@query(
    "graph_jaccard_link_prediction",
    category="graph",
    description=f"Link prediction: top-{LP_TOP_K} NON-edges by neighbor-set Jaccard (wedge-expansion common neighbors)",
    oracle=f"""
        WITH {_EDGES_CTE},
        adj AS (SELECT s1 AS node, s2 AS nbr FROM e
                UNION ALL SELECT s2, s1 FROM e),
        deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
        cn AS (
            SELECT a.node AS u, b.node AS v, COUNT(*) AS cn
            FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT c.u, c.v, c.cn, du.d + dv.d - c.cn AS un,
                   CAST(c.cn AS DOUBLE) / (du.d + dv.d - c.cn) AS jac
            FROM cn c
            JOIN deg du ON du.node = c.u
            JOIN deg dv ON dv.node = c.v
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s1 = c.u AND e.s2 = c.v)
        ),
        ranked AS (
            SELECT u, v, cn, un, jac,
                   ROW_NUMBER() OVER (ORDER BY jac DESC, cn DESC, u, v) AS rk
            FROM cand
        )
        SELECT CAST(u AS BIGINT) AS s1, CAST(v AS BIGINT) AS s2,
               CAST(cn AS BIGINT) AS common_neighbors,
               CAST(un AS BIGINT) AS union_size,
               {sql_round_dbl('jac', 6)} AS jaccard
        FROM ranked WHERE rk <= {LP_TOP_K} ORDER BY s1, s2
    """,
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Link prediction by neighbor-set Jaccard — "which suppliers are
    NOT yet co-ordered but share the most co-order partners": for every
    candidate pair with ≥1 common neighbor, score |N(u)∩N(v)| /
    |N(u)∪N(v)|, drop pairs that are already edges, shortlist the top
    20 under a fully tie-broken total order (jaccard desc, common count
    desc, ids). The intersection count comes from the module's wedge
    trick: group the adjacency by hub, expand each hub's sorted
    neighbor set into C(deg, 2) in-row pairs — candidate generation is
    degree-bounded per hub, never an all-pairs node join, exactly the
    common-neighbor semantics of the oracle's adjacency self-join.
    Jaccard is one double division from exact integer counts.

    Plan shape at 100 TB: fact-scale work is only the shared edge
    derivation; everything here runs on graph-cardinality relations
    (adjacency, degree broadcast, wedge pairs). The final top-k window
    is global over the candidate relation — shortlist-sized output,
    and the established two_phase_rank swap applies if candidates ever
    outgrow one task (degree-bounded here). At sf0.001 the thresholded
    co-order graph has 2 edges and no wedges, so the shortlist is EMPTY
    in both engines — the differential still checks agreement on
    emptiness; sf0.01 (the driver gate) yields a full 20-row
    shortlist. Cites reference scope:
    the reference engine has no graph surface (README.md:1-9); this is
    the 'beyond' tier."""
    from pyspark.sql.window import Window as W

    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    adj = edges.select(F.col("s1").alias("node"), F.col("s2").alias("nbr")).unionAll(
        edges.select(F.col("s2").alias("node"), F.col("s1").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    sets = adj.groupBy("node").agg(F.array_sort(F.collect_set("nbr")).alias("ns"))
    pair_structs = F.flatten(
        F.transform(
            "ns",
            lambda x, i: F.transform(
                F.slice("ns", i + 2, F.size("ns")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    cn = (
        sets.select(F.explode(pair_structs).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        cn.join(
            edges,
            (cn["u"] == edges["s1"]) & (cn["v"] == edges["s2"]),
            "leftanti",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))),
            "v",
        )
        .withColumn("un", F.col("du") + F.col("dv") - F.col("cn"))
        .withColumn("jac", F.col("cn").cast("double") / F.col("un"))
    )
    ranked = cand.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.desc("jac"), F.desc("cn"), F.col("u"), F.col("v"))
        ),
    )
    return (
        ranked.filter(F.col("rk") <= LP_TOP_K)
        .select(
            F.col("u").cast("long").alias("s1"),
            F.col("v").cast("long").alias("s2"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("un").cast("long").alias("union_size"),
            round_dbl(F.col("jac"), 6).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# Registry entries for the UNTIL-SETTLED family (round-9 verdict #3)
# ---------------------------------------------------------------------------
#
# The fixed-unroll entries above are the differential-testability trade;
# the *_until_settled library loops are the 100x production posture. These
# entries put the SETTLED variants in front of the driver too: the Spark
# side runs the actual convergence loop (data-dependent round count, one
# count() per round — the Pregel check), and the oracle computes the SAME
# fixpoint independently as a CAPPED MATERIALIZED UNROLL with
# first-unchanged-step detection (all five: CC, BFS, k-core, LPA, SSSP) —
# PLUS the settlement-audit columns. (Rounds 9-10 used recursive
# reachability/shortest-path CTEs for CC/BFS, whose analytic round count
# is elegant but whose closure materializes O(component²) rows — DuckDB
# burned 60+ CPU-minutes at sf0.1; the unroll is CAP × |edges| bounded,
# so round 11 unified the whole family on the capped pattern.)
#
# - ``rounds_run``: the oracle's MIN(step WHERE state(step) ≡
#   state(step−1)) — value-equality per node via FULL JOIN + IS DISTINCT
#   FROM, so appearing keys (BFS's growing frontier) count as change,
#   exactly like run_until_settled's one-sided groups. The Spark side
#   COUNTS the same quantity by looping; the two agreeing is a genuine
#   cross-engine audit of the loop mechanics, not a copied constant.
# - ``settled``: Spark emits the loop's own flag; every capped oracle
#   emits ``rounds IS NOT NULL`` — if convergence is not detected within
#   SETTLED_ORACLE_CAP steps the oracle says settled=false AND
#   rounds_run=NULL, so a graph needing cap..max_rounds rounds fails the
#   differential on BOTH columns loudly instead of producing a
#   silently-confusing TRUE/NULL row (round-10 ADVICE). A loop that hits
#   max_rounds mismatches and the driver records red — that is the audit.

#: Unroll cap for the settled-family oracles (CC/BFS/k-core/LPA/SSSP):
#: DuckDB can only express "iterate until no change" as a capped
#: materialized unroll with stop detection. 24 covers the shipped SFs
#: ~2.4x over (k-core settles in 3 rounds, LPA in 10 at sf0.01); past
#: the cap the oracle's rounds_run goes NULL with settled=false and the
#: row goes red — loud, not silent.
SETTLED_ORACLE_CAP = 24


def _cc_settled_oracle() -> str:
    # capped materialized unroll of the EXACT loop the Spark side runs
    # (min over self+neighbors per step), with first-unchanged-step
    # detection — the k-core/LPA/SSSP pattern. Round 11 replaced the
    # original recursive-reachability formulation: its closure is
    # O(component²) rows, which made the oracle un-runnable at sf0.1
    # (observed 60+ CPU-minutes in DuckDB) while the unroll is
    # CAP × |edges| bounded at any shipped SF.
    steps = "".join(
        f""",
        l{k} AS MATERIALIZED (
            SELECT b.v AS node, MIN(l.lbl) AS lbl
            FROM bis b JOIN l{k - 1} l ON l.node = b.u
            GROUP BY 1
        )"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    changes = " UNION ALL ".join(
        f"""SELECT {k} AS step,
            (SELECT COUNT(*) FROM l{k} a FULL JOIN l{k - 1} b USING (node)
             WHERE a.lbl IS DISTINCT FROM b.lbl) AS nchg"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    return f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bis AS MATERIALIZED (SELECT u, v FROM bi
               UNION ALL SELECT node, node FROM n0),
        l0 AS (SELECT node, node AS lbl FROM n0){steps},
        chg AS ({changes}),
        rr AS (SELECT MIN(step) AS rounds FROM chg WHERE nchg = 0)
        SELECT CAST(l.lbl AS BIGINT) AS component,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(rr.rounds) AS BIGINT) AS rounds_run,
               MAX(rr.rounds) IS NOT NULL AS settled
        FROM l{SETTLED_ORACLE_CAP} l CROSS JOIN rr
        GROUP BY l.lbl ORDER BY component
    """


@query(
    "graph_cc_until_settled",
    category="graph",
    description="Connected components by min-label propagation looped to convergence, with driver-verified round count",
    oracle=_cc_settled_oracle(),
)
def graph_cc_until_settled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``connected_components_until_settled`` as a registry entry: the
    convergence LOOP (not a fixed unroll) runs on the Spark side, and
    the oracle unrolls the IDENTICAL min-with-self-loop step to
    SETTLED_ORACLE_CAP materialized rounds with first-unchanged-step
    detection, so ``rounds_run`` is derived, not trusted. Both engines
    agreeing on it verifies the loop MECHANICS cross-engine, which the
    fixed entries cannot. (rounds 9-10 used a recursive reachability
    CTE + analytic round count instead; its O(component²) closure made
    the oracle un-runnable at sf0.1, so round 11 moved it onto the
    family's capped-unroll pattern — verified green at all three
    shipped SFs.)

    Scale posture: the loop adds one node-cardinality count and one
    lineage cut per round to the fixed entry's step."""
    state, rounds, settled = connected_components_until_settled(spark, sf_dir)
    return (
        state.groupBy(F.col("lbl").cast("long").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .withColumn("rounds_run", F.lit(int(rounds)).cast("long"))
        .withColumn("settled", F.lit(bool(settled)))
        .orderBy("component")
    )


def _bfs_settled_oracle() -> str:
    # capped materialized unroll of the Spark loop (min-plus over the
    # 0-weight-self-loop edge list from the min-id source), detecting the
    # first VALUE-unchanged step with a FULL JOIN so newly-REACHED nodes
    # count as change (the growing-frontier case). Replaces the recursive
    # shortest-path formulation for the same sf0.1-viability reason as
    # the CC twin above.
    steps = "".join(
        f""",
        d{k} AS MATERIALIZED (
            SELECT b.v AS node, MIN(l.d + b.w) AS d
            FROM bw b JOIN d{k - 1} l ON l.node = b.u
            GROUP BY 1
        )"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    changes = " UNION ALL ".join(
        f"""SELECT {k} AS step,
            (SELECT COUNT(*) FROM d{k} a FULL JOIN d{k - 1} b USING (node)
             WHERE a.d IS DISTINCT FROM b.d) AS nchg"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    return f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bw AS MATERIALIZED (SELECT u, v, 1 AS w FROM bi
              UNION ALL SELECT node, node, 0 FROM n0),
        d0 AS (SELECT (SELECT MIN(node) FROM n0) AS node, 0 AS d){steps},
        chg AS ({changes}),
        rr AS (SELECT MIN(step) AS rounds FROM chg WHERE nchg = 0)
        SELECT CAST(m.d AS BIGINT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(rr.rounds) AS BIGINT) AS rounds_run,
               MAX(rr.rounds) IS NOT NULL AS settled
        FROM d{SETTLED_ORACLE_CAP} m CROSS JOIN rr GROUP BY m.d ORDER BY hops
    """


@query(
    "graph_bfs_until_settled",
    category="graph",
    description="BFS hop histogram from the min-id node, frontier looped to convergence, with driver-verified round count",
    oracle=_bfs_settled_oracle(),
)
def graph_bfs_until_settled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bfs_hops_until_settled`` as a registry entry (reached nodes
    only — the fixed entry's ``hops = -1`` bucket is an anti-join
    unaffected by when the loop stops). The min-plus frontier GROWS, so
    this exercises the settlement check's appears-counts-as-changed
    side — which is exactly why the oracle's per-step diffs use a FULL
    JOIN (a newly reached node has no previous-round row and must count
    as change). rounds_run = the first step whose distance relation
    equals its predecessor (= source eccentricity + 1), detected inside
    the capped materialized unroll."""
    state, rounds, settled = bfs_hops_until_settled(spark, sf_dir)
    return (
        state.groupBy(F.col("d").cast("long").alias("hops"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .withColumn("rounds_run", F.lit(int(rounds)).cast("long"))
        .withColumn("settled", F.lit(bool(settled)))
        .orderBy("hops")
    )


def _kcore_settled_oracle() -> str:
    steps = "".join(
        f""",
        n{k} AS MATERIALIZED (
            SELECT b.u AS node FROM bi b
            JOIN n{k - 1} x ON x.node = b.u
            JOIN n{k - 1} y ON y.node = b.v
            GROUP BY b.u HAVING COUNT(*) >= {KCORE_K}
        )"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    counts = " UNION ALL ".join(
        f"SELECT {k} AS step, (SELECT COUNT(*) FROM n{k}) AS n"
        for k in range(0, SETTLED_ORACLE_CAP + 1)
    )
    return f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi){steps},
        cnt AS ({counts}),
        rr AS (SELECT MIN(c.step) AS rounds FROM cnt c
               JOIN cnt p ON p.step = c.step - 1 WHERE p.n = c.n)
        SELECT CAST(n.node AS BIGINT) AS node,
               CAST(rr.rounds AS BIGINT) AS rounds_run,
               rr.rounds IS NOT NULL AS settled
        FROM n{SETTLED_ORACLE_CAP} n CROSS JOIN rr ORDER BY node
    """


@query(
    "graph_kcore_until_settled",
    category="graph",
    description=f"{KCORE_K}-core membership by peeling looped to convergence, with driver-verified round count",
    oracle=_kcore_settled_oracle(),
)
def graph_kcore_until_settled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kcore_until_settled`` as a registry entry: the SHRINKING-state
    member of the settled family (a disappearing node IS the change
    signal — a one-sided group in the settlement check, not a value
    diff). The oracle unrolls 24 materialized peel
    steps and takes rounds_run = the first step whose survivor COUNT
    equals its predecessor's — valid as set equality because peeling is
    monotone (each step selects only nodes already in the previous set),
    exactly matching the loop's first-no-change round."""
    state, rounds, settled = kcore_until_settled(spark, sf_dir)
    return (
        state.select(F.col("node").cast("long").alias("node"))
        .withColumn("rounds_run", F.lit(int(rounds)).cast("long"))
        .withColumn("settled", F.lit(bool(settled)))
        .orderBy("node")
    )


def _lpa_settled_oracle() -> str:
    steps = "".join(
        f""",
        l{k} AS MATERIALIZED (
            SELECT node, lbl FROM (
                SELECT b.v AS node, l.lbl AS lbl,
                       ROW_NUMBER() OVER (PARTITION BY b.v
                           ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
                FROM bis b JOIN l{k - 1} l ON l.node = b.u
                GROUP BY b.v, l.lbl
            ) WHERE rn = 1
        )"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    diffs = " UNION ALL ".join(
        f"SELECT {k} AS step, (SELECT COUNT(*) FROM l{k} a"
        f" JOIN l{k - 1} b USING (node) WHERE a.lbl <> b.lbl) AS ch"
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    return f"""
        WITH {_EDGES_CTE},
        bi0 AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi0),
        bis AS MATERIALIZED (SELECT u, v FROM bi0
               UNION ALL SELECT node, node FROM n0),
        l0 AS MATERIALIZED (SELECT node, node AS lbl FROM n0){steps},
        diffs AS ({diffs}),
        rr AS (SELECT MIN(step) AS rounds FROM diffs WHERE ch = 0)
        SELECT CAST(l.lbl AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MAX(rr.rounds) AS BIGINT) AS rounds_run,
               MAX(rr.rounds) IS NOT NULL AS settled
        FROM l{SETTLED_ORACLE_CAP} l CROSS JOIN rr
        GROUP BY l.lbl ORDER BY community
    """


@query(
    "graph_lpa_until_settled",
    category="graph",
    description="Label propagation looped to its fixpoint (vs the fixed entry's trajectory snapshot), with driver-verified round count",
    oracle=_lpa_settled_oracle(),
)
def graph_lpa_until_settled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``label_propagation_until_settled`` as a registry entry — the
    FIXPOINT communities, where ``graph_label_propagation`` is the
    3-iteration TRAJECTORY SNAPSHOT (it settles at round 10
    on sf0.01; the fixed entry deliberately stops earlier so both
    engines compare mid-flight state). The oracle unrolls
    24 materialized argmax steps with the identical
    (count DESC, label ASC) tie-break and takes rounds_run = the first
    step with zero per-node label diffs — the node set is constant
    (every node self-votes), so an inner join sees every change."""
    state, rounds, settled = label_propagation_until_settled(spark, sf_dir)
    return (
        state.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("rounds_run", F.lit(int(rounds)).cast("long"))
        .withColumn("settled", F.lit(bool(settled)))
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# Resource-allocation link prediction (Zhou, Lü & Zhang 2009)
# ---------------------------------------------------------------------------

#: fixed-point scale for the RA index: score = Σ_w floor(10^12 / deg(w))
#: over common neighbors w — PURE int64 arithmetic (deg ≥ 1, so each term
#: ≤ 10^12 and a node pair would need ~9·10^6 common neighbors to overflow
#: int64), hence bit-identical across engines with no float fold anywhere.
RA_SCALE = 1_000_000_000_000
RA_TOP_K = 20


@query(
    "graph_resource_allocation_links",
    category="graph",
    description=f"Link prediction: top-{RA_TOP_K} non-edges by resource-allocation index (Σ 1/deg over common neighbors), fixed-point exact",
    oracle=f"""
        WITH {_EDGES_CTE},
        adj AS (SELECT s1 AS node, s2 AS nbr FROM e
                UNION ALL SELECT s2, s1 FROM e),
        deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
        wedge AS (
            SELECT a.node AS u, b.node AS v, {RA_SCALE} // dh.d AS t
            FROM adj a
            JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
            JOIN deg dh ON dh.node = a.nbr
        ),
        cn AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
                   CAST(SUM(t) AS BIGINT) AS ra_scaled
            FROM wedge GROUP BY u, v
        ),
        cand AS (
            SELECT u, v, cn, ra_scaled FROM cn c
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s1 = c.u AND e.s2 = c.v)
        ),
        ranked AS (
            SELECT u, v, cn, ra_scaled,
                   ROW_NUMBER() OVER (ORDER BY ra_scaled DESC, cn DESC, u, v) AS rk
            FROM cand
        )
        SELECT CAST(u AS BIGINT) AS s1, CAST(v AS BIGINT) AS s2,
               cn AS common_neighbors, ra_scaled,
               {sql_round_dbl(f'CAST(ra_scaled AS DOUBLE) / {RA_SCALE}.0', 6)}
                   AS ra_index
        FROM ranked WHERE rk <= {RA_TOP_K} ORDER BY s1, s2
    """,
)
def graph_resource_allocation_links(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Resource-allocation link prediction (Zhou/Lü/Zhang 2009) — the
    degree-punishing sibling of the Jaccard entry: a candidate non-edge
    (u, v) scores Σ over common neighbors w of 1/deg(w), so hubs that
    connect everyone contribute almost nothing while rare shared
    partners dominate. Unlike the Jaccard entry's one float division,
    the RA sum is a genuine float SUM over a variable term set — so it
    is computed in FIXED-POINT int64 instead (Σ floor(10^12/deg(w))),
    making the score, its ranking, and the emitted double all
    bit-exact in both engines: no fold-order exposure at any scale.

    Candidate generation reuses the module's wedge trick: each hub
    expands its sorted neighbor set into C(deg, 2) in-row pairs, each
    pair carrying the HUB's 10^12//deg value (deg = size of the hub's
    collected neighbor set — the canonical edge list is duplicate-free,
    so no separate degree aggregation exists) — degree-bounded per hub,
    never an all-pairs node join; the oracle's adjacency self-join is
    the same semantics spelled relationally. Plan shape at 100 TB:
    fact-scale work is only the shared edge derivation; adjacency and
    wedge relations are graph-sized, and the top-k window runs over the
    candidate shortlist domain (the two_phase_rank swap stands by if
    candidates outgrow one task).
    At sf0.001 the thresholded graph has no wedges → EMPTY in both
    engines (agreement-on-emptiness still checked); sf0.01 fills the
    shortlist. Reference scope: no graph surface (README.md:1-9)."""
    from pyspark.sql.window import Window as W

    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    adj = edges.select(F.col("s1").alias("node"), F.col("s2").alias("nbr")).unionAll(
        edges.select(F.col("s2").alias("node"), F.col("s1").alias("nbr"))
    )
    # the canonical edge list is duplicate-free, so deg(hub) IS the size
    # of the collected neighbor set — no separate degree aggregation or
    # join; every emitted wedge pair carries t = 10^12 // deg(hub)
    # computed once per hub from size(ns).
    sets = adj.groupBy("node").agg(
        F.array_sort(F.collect_set("nbr")).alias("ns")
    )
    pair_structs = F.flatten(
        F.transform(
            "ns",
            lambda x, i: F.transform(
                F.slice("ns", i + 2, F.size("ns")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    wedges = sets.select(
        F.explode(pair_structs).alias("p"),
        F.expr(f"{RA_SCALE}L div size(ns)").alias("t"),
    ).select("p.u", "p.v", "t")
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("t").cast("long").alias("ra_scaled"),
    )
    cand = cn.join(
        edges, (cn["u"] == edges["s1"]) & (cn["v"] == edges["s2"]), "leftanti"
    )
    ranked = cand.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.desc("ra_scaled"), F.desc("cn"), F.col("u"), F.col("v"))
        ),
    )
    return (
        ranked.filter(F.col("rk") <= RA_TOP_K)
        .select(
            F.col("u").cast("long").alias("s1"),
            F.col("v").cast("long").alias("s2"),
            F.col("cn").alias("common_neighbors"),
            F.col("ra_scaled"),
            round_dbl(F.col("ra_scaled").cast("double") / float(RA_SCALE), 6).alias(
                "ra_index"
            ),
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford min-plus unroll)
# ---------------------------------------------------------------------------

#: Bellman-Ford relaxation rounds (covers paths of <= 6 edges; settlement
#: audited in-query like the BFS entry).
BF_ITERS = 6
#: integer edge cost: strong co-order ties are cheap to traverse —
#: cost = floor(10^9 / w). Pure int64: a 6-edge path costs <= 6e9, and
#: the min-plus fold never leaves BIGINT, so distances are bit-exact.
BF_COST_SCALE = 1_000_000_000
#: nearest-node shortlist size (fully tie-broken: distance, then node id).
BF_TOP_K = 20


def _weighted_min_plus_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, bw, dist0) for the weighted min-plus family: bidirectional
    integer-cost edges + 0-cost self-loops, and the min-node source
    relation. Single-sourced so the fixed unroll and the convergence
    loop can never disagree on the graph or the cost function (mirror
    of the oracle's ``_EDGES_W_CTE`` + cost projection)."""
    cost = F.expr(f"{BF_COST_SCALE}L div w")
    bi = edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("v"), cost.alias("c")
    ).unionAll(
        edges.select(F.col("s2").alias("u"), F.col("s1").alias("v"), cost.alias("c"))
    )
    nodes = bi.select(F.col("u").alias("node")).distinct()
    bw = bi.unionAll(
        nodes.select(
            F.col("node").alias("u"),
            F.col("node").alias("v"),
            F.lit(0).cast("long").alias("c"),
        )
    )
    dist = nodes.agg(F.min("node").alias("node")).select(
        "node", F.lit(0).cast("long").alias("d")
    )
    return nodes, bw, dist


def _relax_step(bw: DataFrame, dist: DataFrame, cost: str = "c") -> DataFrame:
    """One min-plus relaxation: d(v) = min over edges of d(u) + cost,
    with the node-bounded distance relation broadcast. ``cost`` names the
    edge-cost column: "c" for weighted SSSP, the unit "w" for BFS."""
    relax = bw.join(F.broadcast(dist), F.col("u") == F.col("node")).select(
        "v", (F.col("d") + F.col(cost)).alias("d")
    )
    return relax.groupBy("v").agg(F.min("d").alias("d")).select(
        F.col("v").alias("node"), "d"
    )


def _bellman_ford_oracle() -> str:
    base = f"""
        WITH {_EDGES_W_CTE},
        bi AS MATERIALIZED (
            SELECT s1 AS u, s2 AS v, {BF_COST_SCALE} // w AS c FROM e
            UNION ALL SELECT s2, s1, {BF_COST_SCALE} // w FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bw AS MATERIALIZED (SELECT u, v, c FROM bi
              UNION ALL SELECT node, node, 0 FROM nodes),
        d0 AS (SELECT (SELECT MIN(node) FROM nodes) AS node, 0 AS d)"""
    steps = "".join(
        f""",
        d{k} AS MATERIALIZED (
            SELECT b.v AS node, MIN(l.d + b.c) AS d
            FROM bw b JOIN d{k - 1} l ON l.node = b.u
            GROUP BY 1
        )"""
        for k in range(1, BF_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        ,
        audit AS (
            SELECT CAST(SUM(CASE WHEN COALESCE(a.d, -1) <> COALESCE(b.d, -1)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_unsettled,
                   CAST(SUM(CASE WHEN a.d IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_unreachable
            FROM nodes n
            LEFT JOIN d{BF_ITERS} a USING (node)
            LEFT JOIN d{BF_ITERS - 1} b USING (node)
        ),
        ranked AS (
            SELECT node, d, ROW_NUMBER() OVER (ORDER BY d, node) AS rk
            FROM d{BF_ITERS}
        )
        SELECT CAST(r.node AS BIGINT) AS node,
               CAST(r.d AS BIGINT) AS dist_scaled,
               {sql_round_dbl(f'CAST(r.d AS DOUBLE) / {BF_COST_SCALE}.0', 6)}
                   AS dist,
               a.n_unreachable, a.n_unsettled
        FROM ranked r CROSS JOIN audit a
        WHERE r.rk <= {BF_TOP_K} ORDER BY r.node
    """
    )


@query(
    "graph_sssp_bellman_ford",
    category="graph",
    description=f"Weighted SSSP: {BF_ITERS}-round Bellman-Ford min-plus unroll over integer co-order costs, top-{BF_TOP_K} nearest + settlement audit",
    oracle=_bellman_ford_oracle(),
)
def graph_sssp_bellman_ford(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """WEIGHTED single-source shortest paths — the missing member of the
    min-plus family (``graph_bfs_hops`` counts hops; this costs them):
    edge cost = floor(10^9 / co-order-count), so strongly-tied supplier
    pairs are cheap to traverse and the nearest nodes are the ones
    reachable through strong relationships. Bellman-Ford relaxation
    d(v) = min(d(v), min_u d(u) + c(u,v)) unrolled to a FIXED
    6 rounds in both engines (the family's differential-
    testability trade; ``run_until_settled`` is the production loop,
    same step function), with the family's two audits: ``n_unsettled``
    counts nodes whose distance changed on the final round (0 proves
    the fixpoint on this data) and ``n_unreachable`` counts nodes the
    relaxation never reached. Costs and distances are PURE int64
    min-plus (a 6-edge path ≤ 6e9), so every value is bit-exact — no
    float enters until the final display division.

    Plan shape per round: identical to BFS — one join of the
    node-bounded distance relation onto the weighted bidirectional
    edge list (+0 self-loops keep lineage linear) + one
    map-side-combined MIN; the edge weights ride the SAME
    ``supplier_edges_ckpt`` checkpoint (keep_weight=True), so the weighted
    and unweighted entries can never disagree on the graph. Shortlist
    = top-20 nearest under (distance, node) — deterministic
    total order. Reference scope: no graph surface (README.md:1-9)."""
    from pyspark.sql.window import Window as W

    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir, keep_weight=True)
    nodes, bw, dist = _weighted_min_plus_graph(edges)
    prev, dist = _unroll(dist, lambda dd: _relax_step(bw, dd), BF_ITERS)
    dist = dist.localCheckpoint(eager=False)  # feeds audit + shortlist
    audit = (
        nodes.join(dist.withColumnRenamed("d", "da"), "node", "left")
        .join(prev.withColumnRenamed("d", "db"), "node", "left")
        .agg(
            F.sum(
                (
                    F.coalesce(F.col("da"), F.lit(-1))
                    != F.coalesce(F.col("db"), F.lit(-1))
                ).cast("int")
            )
            .cast("long")
            .alias("n_unsettled"),
            F.sum(F.col("da").isNull().cast("int")).cast("long").alias("n_unreachable"),
        )
    )
    ranked = dist.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("d"), F.col("node")))
    ).filter(F.col("rk") <= BF_TOP_K)
    return (
        ranked.crossJoin(F.broadcast(audit))
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("dist_scaled"),
            round_dbl(F.col("d").cast("double") / float(BF_COST_SCALE), 6).alias(
                "dist"
            ),
            "n_unreachable",
            "n_unsettled",
        )
        .orderBy("node")
    )


def sssp_until_settled(
    spark: SparkSession,
    sf_dir: str,
    *,
    edges: DataFrame | None = None,
    max_rounds: int = 50,
    rounds_per_check: int = 1,
) -> tuple[DataFrame, int, bool]:
    """``graph_sssp_bellman_ford``'s weighted min-plus relaxation looped
    to convergence (the production posture for long/cheap detour paths a
    fixed unroll would miss). Returns ``((node, d), rounds, settled)``
    over reached nodes; the frontier GROWS, and the settlement check
    counts a newly reached node as a change (the BFS posture).
    ``rounds_per_check``
    > 1 is exact for any deterministic step since round 14 (see
    ``run_until_settled``)."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir, keep_weight=True)
    _, bw, dist = _weighted_min_plus_graph(edges)
    bw = bw.localCheckpoint(eager=False)  # reused every round
    return run_until_settled(
        dist,
        lambda dd: _relax_step(bw, dd),
        key_cols=["node"],
        value_cols=["d"],
        max_rounds=max_rounds,
        rounds_per_check=rounds_per_check,
    )


def _sssp_settled_oracle() -> str:
    steps = "".join(
        f""",
        d{k} AS MATERIALIZED (
            SELECT b.v AS node, MIN(l.d + b.c) AS d
            FROM bw b JOIN d{k - 1} l ON l.node = b.u
            GROUP BY 1
        )"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    # value-equality settlement per step (the k-core count trick is not
    # enough here: the reached-node SET can freeze while DISTANCES still
    # improve through longer-but-cheaper paths)
    changes = " UNION ALL ".join(
        f"""SELECT {k} AS step,
            (SELECT COUNT(*) FROM d{k} a FULL JOIN d{k - 1} b USING (node)
             WHERE a.d IS DISTINCT FROM b.d) AS nchg"""
        for k in range(1, SETTLED_ORACLE_CAP + 1)
    )
    return f"""
        WITH {_EDGES_W_CTE},
        bi AS MATERIALIZED (
            SELECT s1 AS u, s2 AS v, {BF_COST_SCALE} // w AS c FROM e
            UNION ALL SELECT s2, s1, {BF_COST_SCALE} // w FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bw AS MATERIALIZED (SELECT u, v, c FROM bi
              UNION ALL SELECT node, node, 0 FROM nodes),
        d0 AS (SELECT (SELECT MIN(node) FROM nodes) AS node, 0 AS d){steps},
        chg AS ({changes}),
        rr AS (SELECT MIN(step) AS rounds FROM chg WHERE nchg = 0),
        ranked AS (
            SELECT node, d, ROW_NUMBER() OVER (ORDER BY d, node) AS rk
            FROM d{SETTLED_ORACLE_CAP}
        )
        SELECT CAST(r.node AS BIGINT) AS node,
               CAST(r.d AS BIGINT) AS dist_scaled,
               CAST(rr.rounds AS BIGINT) AS rounds_run,
               rr.rounds IS NOT NULL AS settled
        FROM ranked r CROSS JOIN rr
        WHERE r.rk <= {BF_TOP_K} ORDER BY r.node
    """


@query(
    "graph_sssp_until_settled",
    category="graph",
    description=f"Weighted SSSP looped to convergence, top-{BF_TOP_K} nearest with driver-verified round count",
    oracle=_sssp_settled_oracle(),
)
def graph_sssp_until_settled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sssp_until_settled`` as a registry entry: the weighted min-plus
    relaxation looped until no distance changes, shortlisting the
    top-20 nearest nodes. The oracle unrolls
    24 materialized relaxation steps and detects the
    first VALUE-unchanged step (the k-core oracle's count equality is
    insufficient here: the reached set can freeze while distances still
    improve through longer-but-cheaper paths), so rounds_run is
    derived, not trusted. Distances are pure int64 min-plus —
    bit-exact."""
    from pyspark.sql.window import Window as W

    state, rounds, settled = sssp_until_settled(spark, sf_dir)
    ranked = state.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("d"), F.col("node")))
    ).filter(F.col("rk") <= BF_TOP_K)
    return (
        ranked.select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("dist_scaled"),
        )
        .withColumn("rounds_run", F.lit(int(rounds)).cast("long"))
        .withColumn("settled", F.lit(bool(settled)))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Multi-source BFS closeness centrality
# ---------------------------------------------------------------------------

#: closeness seeds: the CLOSE_SOURCES smallest node ids (deterministic).
CLOSE_SOURCES = 5


def _closeness_oracle() -> str:
    base = f"""
        WITH {_EDGES_CTE},
        bi AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
               UNION ALL SELECT s2, s1 FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
        bw AS MATERIALIZED (SELECT u, v, 1 AS w FROM bi
               UNION ALL SELECT node, node, 0 FROM nodes),
        seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {CLOSE_SOURCES}),
        d0 AS (SELECT node AS src, node, 0 AS d FROM seeds)"""
    steps = "".join(
        f""",
        d{k} AS MATERIALIZED (
            SELECT l.src, b.v AS node, MIN(l.d + b.w) AS d
            FROM bw b JOIN d{k - 1} l ON l.node = b.u
            GROUP BY 1, 2
        )"""
        for k in range(1, BFS_ITERS + 1)
    )
    return (
        base
        + steps
        + f"""
        ,
        audit AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_unsettled
            FROM d{BFS_ITERS} a
            FULL JOIN d{BFS_ITERS - 1} b USING (src, node)
            WHERE a.d IS DISTINCT FROM b.d
        )
        SELECT CAST(f.src AS BIGINT) AS src,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
               CAST(SUM(f.d) AS BIGINT) AS sum_dist,
               {sql_round_dbl(
                   'CAST(COUNT(*) - 1 AS DOUBLE)'
                   ' / GREATEST(CAST(SUM(f.d) AS DOUBLE), 1.0)', 6)}
                   AS closeness,
               MAX((SELECT n_unsettled FROM audit)) AS n_unsettled
        FROM d{BFS_ITERS} f
        GROUP BY f.src ORDER BY src
    """
    )


@query(
    "graph_closeness_multisource",
    category="graph",
    description=f"Closeness centrality for the {CLOSE_SOURCES} smallest nodes via ONE multi-source BFS, settlement-audited",
    oracle=_closeness_oracle(),
)
def graph_closeness_multisource(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    return closeness_frame(spark, sf_dir, broadcast_dist=True, edges=edges)


def _closeness_step(
    bw: DataFrame, dist: DataFrame, broadcast_dist: bool
) -> DataFrame:
    """One multi-source min-plus relaxation: propagate every seed's
    distances across the weighted edge list and keep the per-(src, node)
    MIN. Factored out so the plan test can pin the join strategy of the
    exact step the loop runs (the loop's lazy checkpoints hide it from
    the final plan)."""
    dist_side = (
        F.broadcast(dist) if broadcast_dist else dist.repartition(8, "node")
    )
    votes = bw.join(dist_side, F.col("u") == F.col("node")).select(
        "src", "v", (F.col("d") + F.col("w")).alias("d")
    )
    return votes.groupBy("src", "v").agg(F.min("d").alias("d")).select(
        "src", F.col("v").alias("node"), "d"
    )


def closeness_frame(
    spark: SparkSession,
    sf_dir: str,
    broadcast_dist: bool = True,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Closeness centrality — (reachable count) / (sum of hop distances)
    — for 5 seed nodes, computed as ONE multi-source BFS:
    the distance relation is keyed (src, node), so all seeds propagate
    through the SAME 6-step min-plus unroll and the same
    per-step join against the weighted edge list — k sources cost one
    extra key column, not k traversals (the batched-probe pattern every
    landmark/centrality sketch at scale uses). Settlement is audited
    exactly like the single-source entries (full-outer distance
    comparison over the last two steps, counted across all sources).
    All distances are integers; closeness is one float division from
    exact integers (GREATEST guard for the isolated-seed case where
    sum_dist = 0 in BOTH engines).

    Plan per step: one join of the (src,node)-keyed distance relation
    (≤ k·|V| rows) onto the edge list + map-side-combined MIN —
    identical shape to graph_bfs_hops with a wider key.
    ``broadcast_dist=True`` (the registered query's path) broadcasts
    the distance relation each step — right whenever k·|V| fits an
    executor. ``broadcast_dist=False`` is the web-graph posture
    (mirroring ``pagerank_frame``'s round-7 switch): the edge list is
    hash-partitioned ONCE on the source endpoint and reused every step,
    and only the distance relation reshuffles to meet it — a plan test
    pins that this path broadcasts nothing and a value test pins both
    variants exactly equal. Reference scope: no graph surface
    (README.md:1-9)."""
    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    nodes, bw, _ = _hop_graph(edges)
    if not broadcast_dist:
        # iteration-invariant edge frame, partitioned once on the join
        # key every step reuses (the pagerank_frame cdf pattern)
        bw = bw.repartition(8, "u").localCheckpoint(eager=False)
    seeds = nodes.orderBy("node").limit(CLOSE_SOURCES)
    dist = seeds.select(
        F.col("node").alias("src"), "node", F.lit(0).alias("d")
    )
    prev, dist = _unroll(
        dist, lambda dd: _closeness_step(bw, dd, broadcast_dist), BFS_ITERS
    )
    dist = dist.localCheckpoint(eager=False)  # feeds audit + rollup
    audit = (
        dist.withColumnRenamed("d", "da")
        .join(prev.withColumnRenamed("d", "db"), ["src", "node"], "full_outer")
        .filter(
            F.coalesce(F.col("da"), F.lit(-1)) != F.coalesce(F.col("db"), F.lit(-1))
        )
        .agg(F.count(F.lit(1)).alias("n_unsettled"))
    )
    return (
        dist.groupBy(F.col("src").cast("long").alias("src"))
        .agg(
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
            F.sum("d").cast("long").alias("sum_dist"),
            round_dbl(
                (F.count(F.lit(1)) - 1).cast("double")
                / F.greatest(F.sum("d").cast("double"), F.lit(1.0)),
                6,
            ).alias("closeness"),
        )
        .crossJoin(F.broadcast(audit))
        .orderBy("src")
    )


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient (top-k)
# ---------------------------------------------------------------------------

#: LCC shortlist size (fully tie-broken: lcc desc, node asc).
LCC_TOP_K = 10


@query(
    "graph_local_clustering_topk",
    category="graph",
    description=f"Per-node local clustering coefficient, top-{LCC_TOP_K} (degree-ordered triangle enumeration, exploded per vertex)",
    oracle=f"""
        WITH {_EDGES_CTE},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e)
            GROUP BY node
        ),
        tri AS (
            SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
            FROM e e1
            JOIN e e2 ON e1.s2 = e2.s1
            JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
        ),
        pernode AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        ),
        scored AS (
            SELECT d.node, d.d, COALESCE(p.t, 0) AS t,
                   2.0 * COALESCE(p.t, 0) / (d.d * (d.d - 1)) AS lcc,
                   ROW_NUMBER() OVER (
                       ORDER BY 2.0 * COALESCE(p.t, 0) / (d.d * (d.d - 1)) DESC,
                                d.node) AS rk
            FROM deg d LEFT JOIN pernode p USING (node)
            WHERE d.d >= 2
        )
        SELECT CAST(node AS BIGINT) AS node, d AS degree,
               t AS n_triangles,
               {sql_round_dbl('lcc', 6)} AS lcc
        FROM scored WHERE rk <= {LCC_TOP_K} ORDER BY node
    """,
)
def graph_local_clustering_topk(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """PER-NODE local clustering coefficient — 'how clique-like is each
    supplier's neighborhood' — where graph_triangle_stats reports only
    the global ratio: lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) over nodes with
    d ≥ 2, shortlisting the top-10. Reuses the module's
    degree-ordered triangle enumeration VERBATIM but keeps the closing
    join INNER instead of semi, so each triangle emits its (u, v, w)
    triple exactly once; exploding the three vertices and counting
    gives T(v) with no extra pair work. The ratio is one double
    division from exact integers, ranked with a node tiebreak; the
    oracle enumerates the same triangles with the naive canonical
    3-way join — a definitionally independent formulation.

    Plan shape at 100 TB: identical to graph_triangle_stats (the wedge
    join is degree-ordered O(m^1.5)-bounded) plus one explode of the
    triangle relation (3 rows per triangle — triangle-cardinality,
    graph-sized) and a micro top-k. Reference scope: no graph surface
    (README.md:1-9)."""
    from pyspark.sql.window import Window as W

    if edges is None:
        edges = supplier_edges_ckpt(spark, sf_dir)
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = F.broadcast(deg).alias("d1")
    d2 = F.broadcast(deg).alias("d2")
    e = (
        edges.join(d1, F.col("s1") == F.col("d1.node"))
        .join(d2, F.col("s2") == F.col("d2.node"))
        .select(
            F.when(
                (F.col("d1.d") < F.col("d2.d"))
                | ((F.col("d1.d") == F.col("d2.d")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
            )
            .otherwise(F.struct(F.col("s2").alias("u"), F.col("s1").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
    )
    w1 = e.alias("w1")
    w2 = e.select(F.col("u").alias("u2"), F.col("v").alias("w")).alias("w2")
    wedges = w1.join(w2, F.col("w1.u") == F.col("w2.u2")).filter(
        F.col("w1.v") != F.col("w2.w")
    )
    closing = e.select(F.col("u").alias("cv"), F.col("v").alias("cw"))
    # INNER close (vs the global entry's semi): each triangle emits its
    # vertex triple exactly once under the orientation
    triangles = wedges.join(
        closing,
        (F.col("w1.v") == F.col("cv")) & (F.col("w2.w") == F.col("cw")),
    ).select(F.col("w1.u").alias("a"), F.col("w1.v").alias("b"), F.col("w2.w").alias("c"))
    pernode = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    lcc = 2.0 * F.col("t") / (F.col("d") * (F.col("d") - 1))
    scored = (
        deg.filter(F.col("d") >= 2)
        .join(F.broadcast(pernode), "node", "left")
        .withColumn("t", F.coalesce(F.col("t"), F.lit(0)))
        .withColumn("lcc_raw", lcc)
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.desc("lcc_raw"), F.col("node"))),
        )
    )
    return (
        scored.filter(F.col("rk") <= LCC_TOP_K)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.col("t").cast("long").alias("n_triangles"),
            round_dbl(F.col("lcc_raw"), 6).alias("lcc"),
        )
        .orderBy("node")
    )
