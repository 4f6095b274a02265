"""Convergence-capped production variants of the iterative graph family.

Six loops run on ``run_until_settled``: CC, BFS, LPA, PageRank, k-core
and SSSP. Their fixed-K REGISTRY entries (graph_connected_components,
graph_bfs_hops, graph_label_propagation, graph_pagerank_supplier,
graph_kcore_peeling, graph_sssp_bellman_ford) unroll a FIXED step count
so both engines run the identical plan, and each audits its own
settlement in-query. Each loop calls the same step function as its
fixed entry (``_min_label_step``, ``_relax_step``, ``_lpa_step``,
``_pagerank_step``, ``_kcore_step``). These tests pin each loop against
its fixed unroll at the shipped SFs, proving the fixed entries' step
counts are sufficient on this data. The until-settled loop is what a
long-diameter 100× graph needs; the fixed unroll is what cross-engine
differential testing needs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

#: The fixed-vs-looped pins run at sf0.01 by default; the sf0.001 twin of
#: each is pure double-coverage (same code paths, smaller graph) and runs
#: under the existing cross-SF sweep gate — part of the round-11 budget
#: work keeping the ungated suite fast without losing the ungated-close
#: coverage (the sweep still runs both).
_CONV_SFS = [
    pytest.param(
        "/root/testdata/sf0.001",
        marks=pytest.mark.skipif(
            not os.environ.get("SPARK_GRAFT_SF_SWEEP"),
            reason="sf0.001 twin runs under SPARK_GRAFT_SF_SWEEP=1",
        ),
    ),
    "/root/testdata/sf0.01",
]

from spark_jdbc_limit_spark.operators.graph import (
    BFS_ITERS,
    CC_ITERS,
    LPA_ITERS,
    _supplier_edges,
    bfs_hops_until_settled,
    connected_components_until_settled,
    label_propagation_until_settled,
    pagerank_until_settled,
    run_until_settled,
)
from spark_jdbc_limit_spark.operators import get_query


def _df_equal(a, b) -> bool:
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    return (
        a.select(cols).exceptAll(b.select(cols)).count() == 0
        and b.select(cols).exceptAll(a.select(cols)).count() == 0
    )


def test_run_until_settled_caps_at_max_rounds(spark):
    """A step that never settles must stop at max_rounds with
    settled=False — the harness's own convergence audit."""
    state = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    final, rounds, settled = run_until_settled(
        state,
        lambda s: s.select("k", (F.col("v") + 1).alias("v")),
        key_cols=["k"],
        value_cols=["v"],
        max_rounds=4,
    )
    assert (rounds, settled) == (4, False)
    assert final.agg(F.min("v")).first()[0] == 4


def test_run_until_settled_null_valued_appearing_key_counts_as_changed(spark):
    """An appearing key whose VALUE is NULL must still count as changed:
    presence comes from explicit markers, not from a value column where
    eqNullSafe(NULL, NULL) would read 'unchanged' (review r9)."""
    calls = {"n": 0}

    def step(s):
        calls["n"] += 1
        if calls["n"] == 1:  # adds a key carrying a NULL value
            return s.unionAll(
                s.sparkSession.createDataFrame([(99, None)], "k long, v long")
            )
        return s

    state = spark.range(2).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    final, rounds, settled = run_until_settled(
        state, step, key_cols=["k"], value_cols=["v"], max_rounds=5
    )
    assert settled and rounds == 2
    assert final.count() == 3


def test_run_until_settled_key_set_only_state(spark):
    """value_cols=[] (key-set states like k-core's surviving nodes):
    settlement is pure key-set equality — a shrinking set keeps counting
    as change, an identical set settles."""
    calls = {"n": 0}

    def step(s):
        calls["n"] += 1
        if calls["n"] <= 2:  # drop one key per round, twice
            mx = s.agg(F.max("k")).first()[0]
            return s.filter(F.col("k") < mx)
        return s

    state = spark.range(5).select(F.col("id").alias("k"))
    final, rounds, settled = run_until_settled(
        state, step, key_cols=["k"], value_cols=[], max_rounds=10
    )
    assert settled and rounds == 3  # two shrink rounds + one clean
    assert final.count() == 3


def test_run_until_settled_batched_checks_monotone(spark):
    """rounds_per_check=K batches K steps between settlement checks (the
    long-diameter scale lever), EXACT since optimization round 14: the
    check compares the batch's last consecutive pair (a direct
    f-fixpoint witness) and back-checks the batch for the exact
    first-no-change round, so rounds_run and the final state are
    identical to cadence-1 at ANY K; a never-settling step still caps at
    max_rounds, and an oscillating step can never be misread as settled
    (no 2-cycle has an equal consecutive pair — the even-K hazard of the
    old state(t) vs state(t−K) check is gone)."""
    state = spark.range(3).select(F.col("id").alias("k"), F.lit(4).alias("v"))
    decay = lambda s: s.select("k", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))  # noqa: E731
    f1, r1, ok1 = run_until_settled(
        state, decay, key_cols=["k"], value_cols=["v"], max_rounds=20
    )
    assert ok1
    assert r1 == 5  # settles at 4, confirmed on round 5
    for K in (2, 3, 7):
        fk, rk, okk = run_until_settled(
            state, decay, key_cols=["k"], value_cols=["v"], max_rounds=20,
            rounds_per_check=K,
        )
        assert okk and rk == r1, f"K={K}: rounds {rk} != exact {r1}"
        assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, fk.collect()))
    # never-settling step caps at max_rounds even mid-batch
    _, rn, okn = run_until_settled(
        state,
        lambda s: s.select("k", (F.col("v") + 1).alias("v")),
        key_cols=["k"], value_cols=["v"], max_rounds=7, rounds_per_check=3,
    )
    assert (rn, okn) == (7, False)
    # 2-cycle (4 <-> 3): even K must NOT read the f² fixpoint as settled
    _, ro, oko = run_until_settled(
        state,
        lambda s: s.select("k", (F.lit(7) - F.col("v")).alias("v")),
        key_cols=["k"], value_cols=["v"], max_rounds=6, rounds_per_check=2,
    )
    assert (ro, oko) == (6, False)


def test_cc_rounds_per_check_end_to_end_on_long_diameter_chain(spark):
    """END-TO-END rounds_per_check pin (round-11 verdict #4): on a
    path graph whose diameter (11) is far past the shipped corpus's ~7,
    the REAL connected_components_until_settled at K=4 must reach the
    identical fixpoint AND the identical exact round count as K=1 — the
    round-14 last-pair + back-check semantics, which is what lets the
    registry entries run batched while their oracles derive the exact
    round analytically. The WALL claim (K=4 cuts the per-round
    scheduling + settlement-count overhead ~Kx on long diameters) is
    measured in BENCH_SCALE.json's ``chain_cc_rounds_per_check`` row on
    a 200-node chain, where the job-count difference dominates; this
    test pins the value contract end-to-end through the production
    entry point."""
    n = 12
    chain = spark.range(n - 1).select(
        F.col("id").alias("s1"), (F.col("id") + 1).alias("s2")
    )
    lbl1, r1, ok1 = connected_components_until_settled(
        spark, "", edges=chain, max_rounds=40
    )
    lbl4, r4, ok4 = connected_components_until_settled(
        spark, "", edges=chain, max_rounds=40, rounds_per_check=4
    )
    assert ok1 and ok4
    # the exact first-no-change round: diameter 11 label propagation + 1
    # confirmation round — identical at BOTH cadences (round-14 contract)
    assert r1 == n
    assert r4 == r1
    # identical fixpoint: every node labeled with the chain's min id
    assert _df_equal(lbl1, lbl4)
    assert lbl1.filter(F.col("lbl") != 0).count() == 0
    assert lbl1.count() == n


def test_run_until_settled_counts_appearing_keys_as_changed(spark):
    """A growing frontier (new key, values elsewhere unchanged) must NOT
    read as settled — the BFS hazard an inner-join check would hide."""
    calls = {"n": 0}

    def step(s):
        calls["n"] += 1
        if calls["n"] == 1:  # round 1 adds a key, changes nothing else
            return s.unionAll(
                s.sparkSession.createDataFrame([(99, 0)], "k long, v long")
            )
        return s

    state = spark.range(2).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    final, rounds, settled = run_until_settled(
        state, step, key_cols=["k"], value_cols=["v"], max_rounds=5
    )
    assert settled and rounds == 2  # round 1 changed (new key), round 2 clean
    assert final.count() == 3


@pytest.mark.parametrize("sf", _CONV_SFS)
def test_cc_until_settled_matches_fixed_unroll(spark, sf):
    labels, rounds, settled = connected_components_until_settled(spark, sf)
    assert settled and rounds <= CC_ITERS + 1
    converged = (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("node").alias("max_node"),
            F.lit(0).cast("long").alias("n_unsettled"),
        )
        .orderBy("component")
    )
    fixed = get_query("graph_connected_components").builder(spark, sf)
    assert _df_equal(converged, fixed)


@pytest.mark.parametrize("sf", _CONV_SFS)
def test_bfs_until_settled_matches_fixed_unroll(spark, sf):
    dist, rounds, settled = bfs_hops_until_settled(spark, sf)
    assert settled and rounds <= BFS_ITERS + 1
    edges = _supplier_edges(spark, sf)
    nodes = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .distinct()
    )
    final = nodes.join(dist, "node", "left").select(
        F.coalesce(F.col("d"), F.lit(-1)).cast("long").alias("hops")
    )
    converged = (
        final.groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .withColumn("n_unsettled", F.lit(0).cast("long"))
        .orderBy("hops")
    )
    fixed = get_query("graph_bfs_hops").builder(spark, sf)
    assert _df_equal(converged, fixed)


def test_lpa_until_settled_matches_fixed_unroll_small(spark):
    """At sf0.001 the LPA fixpoint arrives within the fixed entry's
    LPA_ITERS window, so converged == fixed exactly."""
    sf = "/root/testdata/sf0.001"
    labels, rounds, settled = label_propagation_until_settled(spark, sf)
    assert settled and rounds <= LPA_ITERS + 1
    from pyspark.sql.window import Window as W

    converged = labels.select(
        "node",
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(W.partitionBy("lbl")).cast("long").alias("community_size"),
    )
    fixed = get_query("graph_label_propagation").builder(spark, sf)
    assert _df_equal(converged, fixed)


def test_lpa_until_settled_reaches_fixpoint_beyond_fixed_window(spark):
    """At sf0.01 synchronous LPA needs ~10 rounds to settle — MORE than
    the fixed entry's LPA_ITERS (which, unlike CC/BFS, never claimed
    settlement: it is '{N} synchronous iterations' by definition, no
    audit column). This test pins the production variant's value-add:
    it keeps going and lands on a genuine fixpoint (settled == one more
    step changes nothing), covering every node exactly once."""
    sf = "/root/testdata/sf0.01"
    labels, rounds, settled = label_propagation_until_settled(spark, sf)
    assert settled
    assert LPA_ITERS < rounds <= 20, (
        "if this trips at <= LPA_ITERS, the fixed entry now settles at "
        "sf0.01 and the equality pin above should extend to this SF"
    )
    fixed = get_query("graph_label_propagation").builder(spark, sf)
    assert labels.count() == fixed.count()
    assert labels.groupBy("node").count().filter("count > 1").count() == 0


def test_pagerank_until_settled_brackets_fixed_unroll(spark):
    """PageRank is the family's float member: the tolerance-stopped run
    must (a) settle well under the round cap, (b) rank nodes in the same
    order as the fixed 5-iteration entry, and (c) sit within a
    calibrated envelope of the fixed entry's ranks — tight enough that
    a wrong fixpoint (e.g. the uniform initialization) fails it."""
    sf = "/root/testdata/sf0.01"
    # 1e-6 (was 1e-7, round-12 suite budget): saves ~1/3 of the rounds;
    # the envelope still separates right (7e-4 gap) from wrong (2.5e-2)
    # by >5x each way
    tol = 1e-6
    ranks, rounds, settled = pagerank_until_settled(spark, sf, tolerance=tol)
    assert settled and rounds < 100
    fixed = get_query("graph_pagerank_supplier").builder(spark, sf)
    joined = ranks.join(fixed, "node").select(
        "node", "r", "pagerank", F.abs(F.col("r") - F.col("pagerank")).alias("gap")
    )
    assert joined.count() == fixed.count() == ranks.count()
    # Envelope must be MEANINGFUL, not vacuous (review r9: the
    # geometric-tail constant d^5/(1-d) ~= 2.96 exceeds any possible
    # per-node gap on probability-scale ranks, so it could never fail).
    # Calibration on this graph: converged-vs-5-iter gap measures 7e-4;
    # a WRONG pagerank_until_settled that returned the uniform
    # initialization would gap ~2.5e-2 against the fixed entry's
    # 0.003..0.035 spread. 5e-3 separates the two by 5x each way.
    max_gap = joined.agg(F.max("gap")).first()[0]
    assert max_gap < 5e-3
    # top-3 ordering is stable across the trajectory tail; further down
    # the list sits a genuine near-tie (nodes within ~max_gap of each
    # other) that the extra iterations legitimately reorder — so the pin
    # stops where the ordering is meaningfully separated.
    top_fixed = [r["node"] for r in fixed.orderBy(F.desc("pagerank"), "node").limit(3).collect()]
    top_conv = [r["node"] for r in ranks.orderBy(F.desc("r"), "node").limit(3).collect()]
    assert top_fixed == top_conv


def test_kcore_fixed_unroll_matches_python_peel(spark):
    """Independent ground truth: the per-step (n_remaining, n_dropped)
    histogram must equal a plain Python peel over the same edge list,
    and the final step must report 0 drops (settlement) at sf0.01."""
    sf = "/root/testdata/sf0.01"
    from spark_jdbc_limit_spark.operators.graph import KCORE_ITERS, KCORE_K

    edges = [
        (r["s1"], r["s2"]) for r in _supplier_edges(spark, sf).collect()
    ]
    bi = edges + [(b, a) for a, b in edges]
    nodes = {u for u, _ in bi}
    expect = []
    for _ in range(KCORE_ITERS):
        deg: dict[int, int] = {}
        for u, v in bi:
            if u in nodes and v in nodes:
                deg[u] = deg.get(u, 0) + 1
        new = {n for n in nodes if deg.get(n, 0) >= KCORE_K}
        expect.append((len(new), len(nodes) - len(new)))
        nodes = new
    got = [
        (r["n_remaining"], r["n_dropped"])
        for r in get_query("graph_kcore_peeling").builder(spark, sf).collect()
    ]
    assert got == expect
    assert got[-1][1] == 0, "peeling must have settled inside the fixed window"


@pytest.mark.parametrize("sf", _CONV_SFS)
def test_kcore_until_settled_matches_fixed_unroll(spark, sf):
    """The production peel loop lands on the same core set the fixed
    unroll reports (the unroll's final n_remaining == the settled node
    count), within the fixed window on this data."""
    from spark_jdbc_limit_spark.operators.graph import (
        KCORE_ITERS,
        kcore_until_settled,
    )

    core, rounds, settled = kcore_until_settled(spark, sf)
    assert settled and rounds <= KCORE_ITERS + 1
    fixed = get_query("graph_kcore_peeling").builder(spark, sf).collect()
    assert core.count() == fixed[-1]["n_remaining"]


def test_kcore_until_settled_handles_deeper_k(spark):
    """K one notch above the oracle entry needs ~10 rounds at sf0.01 —
    beyond the fixed window — and the harness keeps going: settled with
    a non-trivial (possibly empty) core, proving the production posture
    is not window-bound."""
    from spark_jdbc_limit_spark.operators.graph import KCORE_ITERS, kcore_until_settled

    core, rounds, settled = kcore_until_settled(
        spark, "/root/testdata/sf0.01", k=4, max_rounds=30
    )
    assert settled
    assert rounds > KCORE_ITERS, "K=4 should need more rounds than the fixed window"


@pytest.mark.parametrize("sf", _CONV_SFS)
def test_sssp_until_settled_matches_fixed_unroll(spark, sf):
    """The weighted min-plus loop converges within the fixed unroll's
    window on the shipped graphs, and its distances equal the fixed
    entry's shortlist (the fixed entry's audit proves n_unsettled = 0,
    so the two must agree wherever both are defined)."""
    from spark_jdbc_limit_spark.operators.graph import (
        BF_ITERS,
        BF_TOP_K,
        sssp_until_settled,
    )

    dist, rounds, settled = sssp_until_settled(spark, sf)
    assert settled and rounds <= BF_ITERS + 1
    fixed = {
        r.node: r.dist_scaled
        for r in get_query("graph_sssp_bellman_ford").builder(spark, sf).collect()
    }
    loop_top = {
        r.node: r.d
        for r in dist.orderBy("d", "node").limit(BF_TOP_K).collect()
    }
    assert loop_top == fixed or set(fixed) <= set(loop_top)
    for node, d in fixed.items():
        assert loop_top.get(node, d) == d


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF_SWEEP"),
    reason="python-twin redundancy (fixed-unroll pin + its oracle run "
    "ungated); runs under SPARK_GRAFT_SF_SWEEP=1",
)
def test_sssp_until_settled_matches_python_dijkstra(spark):
    """Oracle-independent check on graphs the shipped corpus never
    shapes: seeded random weighted graphs, loop distances vs a pure-
    Python Dijkstra (third implementation besides Spark and DuckDB)."""
    import heapq
    import random

    from spark_jdbc_limit_spark.operators.graph import (
        BF_COST_SCALE,
        sssp_until_settled,
    )

    rng = random.Random(20260816)
    for trial in range(3):
        n = rng.randint(6, 12)
        edges = set()
        # random connected-ish graph: a spine plus random chords
        for i in range(1, n):
            edges.add((rng.randrange(i), i))
        for _ in range(n):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        weights = {e: rng.randint(1, 9) for e in edges}
        rows = [(s1, s2, w) for (s1, s2), w in weights.items()]
        edf = spark.createDataFrame(rows, "s1 long, s2 long, w long")

        dist, rounds, settled = sssp_until_settled(spark, "", edges=edf)
        assert settled
        got = {r.node: r.d for r in dist.collect()}

        # python Dijkstra over the same integer costs from the min node
        adj: dict[int, list[tuple[int, int]]] = {}
        for (a, b), w in weights.items():
            c = BF_COST_SCALE // w
            adj.setdefault(a, []).append((b, c))
            adj.setdefault(b, []).append((a, c))
        src = min(adj)
        want = {src: 0}
        pq = [(0, src)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > want.get(u, 1 << 62):
                continue
            for v, c in adj[u]:
                nd = d + c
                if nd < want.get(v, 1 << 62):
                    want[v] = nd
                    heapq.heappush(pq, (nd, v))
        assert got == want, f"trial {trial}: {got} != {want}"
