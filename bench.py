#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Execution uses the noop sink — the full physical plan runs JVM-side
(scans, shuffles, aggregations) without driver collection, so timings
measure the engine, not toPandas serialization.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_jdbc_limit_spark import build_session  # noqa: E402
from spark_jdbc_limit_spark.operators import REGISTRY  # noqa: E402


#: Fixed anchor set: five stable, plan-frozen entries timed FIRST and LAST
#: in every bench run. Their total against the recorded quiet-slot total
#: (ANCHOR_REF_SEC, measured at sf0.1 / 32 cpus on a quiet slot) yields
#: ``anchor_factor`` — the run's machine-contention multiplier. Round 10's
#: driver artifact read 1.6x slower than round 9's for reasons that took
#: forensics (same binaries, ±25-30% machine-day swing); the anchor makes
#: the contention visible IN the artifact: compare ``value_anchor_norm``
#: (total / anchor_factor) across rounds, not raw ``value``.
ANCHOR_QUERIES = (
    "q1_pricing_summary",
    "set_union_distinct",
    "limit_semantics",
    "scan_project_filter_topk",
    "window_topk_per_group",
)
#: Quiet-slot reference total for ANCHOR_QUERIES at sf0.1, 32 cpus.
#: RE-RECORDED round 13 with the SAME procedure the run-time probes use
#: (median of 5 single-shot passes over the set, after one unrecorded
#: warm pass, in a warmed session; `python bench.py --record-anchor-ref`)
#: — the round-11 constant (2.602) was min-of-5 PER QUERY, which made
#: anchor_factor systematically >= 1 on a quiet slot and then read 0.841
#: in round 12 when the machine-day beat the reference slot, flipping
#: value_anchor_norm's direction vs raw (round-12 verdict #1). Recorded
#: value: the QUIETEST of three slots sampled across the round-13
#: session (run medians 2.59 / 2.698 / 3.08 — the documented same-day
#: swing); like-for-like procedure means a comparably quiet slot reads
#: ~1.0 by construction, [0.95, 1.05] is the quiet band, and a factor
#: below it means a slot quieter than the reference day, not a bug.
ANCHOR_REF_SEC = 2.590

#: Interleave an anchor probe into the main rep loop every N query
#: executions (round-11 verdict #3): first/last brackets can both land in
#: quiet windows around a contended MIDDLE — the mid-run series makes
#: that visible in the artifact. ~317 queries x 3 reps = ~950 executions,
#: so 240 yields ~3 interior probes (~8 s overhead total).
ANCHOR_EVERY = 240

#: Reprobe policy (round-11 verdict #2 + #6): after the main passes, any
#: query whose median exceeded REPROBE_SPREAD_X times its own min (rep
#: spread — a contention window landed in >= half the reps) or
#: REPROBE_SPREAD_X times its recorded plain-PySpark baseline gets 3 SOLO
#: re-timings, recorded in the artifact's `reprobe` map — no more human
#: forensics on rep arrays (agg_approx_distinct needed them twice). The
#: five recurring sub-second noise entries that have needed hand retimes
#: across four rounds of BASELINE.md prose are ALWAYS reprobed, so each
#: round's artifact carries their solo rows.
REPROBE_SPREAD_X = 1.8
REPROBE_REPS = 3

#: Cross-ROUND regression trigger (round-13 verdict #1): the spread and
#: vs-baseline triggers only see intra-run noise and the 57-query
#: recorded baseline, so a STABLE slowdown on any other entry escaped
#: them (ann_knn_join_recall_audit read 1.78 s in r12 and 3.1-3.3 s in
#: r13 with median≈min, no baseline row, similarity.py untouched — no
#: reprobe fired, no forensic row existed). Now each query's
#: slot-normalized median (median / this run's provisional anchor
#: factor) is compared against the PREVIOUS round's committed
#: BENCH_FULL.json (git HEAD copy — the artifact the last driver close
#: graded), normalized by THAT run's anchor factor; >VS_PREV_X triggers
#: a solo reprobe whose row records the prev numbers. The absolute
#: floor keeps sub-half-second noise entries (where a 1.5x swing is
#: scheduler jitter, already covered by the spread trigger) out.
VS_PREV_X = 1.5
VS_PREV_MIN_SEC = 0.5
ALWAYS_REPROBE = (
    "agg_approx_distinct",
    "events_tumbling_windows",
    "events_sliding_windows",
    "events_session_windows",
    "window_ranking_trio",
    "multimodal_payload_through_relational",
    # round-13 (verdict #7): spread-triggered with noise_confirmed solo
    # rows in THREE consecutive artifacts (r12: main 1.22 s vs solo
    # 0.466; r13: main 1.79 vs solo 0.482) — the Python-worker startup
    # of the custom DataSource interacts with whatever query runs
    # concurrently on the shared worker pool, so its main-loop reps
    # spread structurally; the always-probe row is the honest number.
    "source_python_datasource",
)

#: Recorded 57-query plain-PySpark baseline at sf0.1 / 32 cpus
#: (BASELINE.md "Recorded baseline", round 1) — the per-query 2x bar the
#: judge reads BENCH against; used here as the reprobe trigger's second
#: criterion so a >1.8x-vs-baseline median self-clears in the artifact.
BASELINE_QUERY_SEC = {
    "q1_pricing_summary": 3.001, "scan_project_filter_topk": 0.427,
    "limit_semantics": 0.369, "count_star_filter": 0.3,
    "filter_predicate_algebra": 0.351, "join_broadcast_dim": 1.264,
    "join_sortmerge_facts": 1.519, "join_semi": 0.509, "join_anti": 0.378,
    "join_outer_coverage": 0.54, "join_multiway_star": 1.074,
    "join_range_hybrid": 0.452, "join_asof_events_orders": 2.342,
    "agg_stats_by_segment": 0.521, "agg_distinct_counts": 0.851,
    "agg_approx_distinct": 1.099, "agg_rollup": 1.21, "agg_cube": 0.71,
    "agg_grouping_sets": 0.492, "agg_pivot": 0.692,
    "window_topk_per_group": 0.767, "window_ranking_trio": 0.723,
    "window_lag_lead": 1.16, "window_running_agg": 0.848,
    "window_range_frame": 4.573, "set_union_distinct": 0.344,
    "set_union_all_counts": 0.329, "set_intersect": 0.339,
    "set_except_all": 0.571, "set_intersect_all": 0.508,
    "set_dropduplicates_subset": 0.575, "scalar_string_funcs": 1.189,
    "scalar_date_funcs": 0.998, "scalar_math_funcs": 0.823,
    "scalar_array_funcs": 0.381, "scalar_json_funcs": 0.998,
    "scalar_map_funcs": 0.505, "scalar_conditional": 0.224,
    "text_token_stats": 0.476, "text_quality_score": 0.566,
    "text_language_id": 0.88, "text_fingerprint": 1.071,
    "dedup_exact": 0.354, "dedup_minhash_lsh_candidates": 1.628,
    "dedup_minhash_verified": 2.473, "dedup_ngram_jaccard_exhaustive": 2.537,
    "dedup_simhash": 1.3, "dedup_embedding_cosine_pairs": 6.518,
    "ann_cosine_topk_bruteforce": 0.465, "ann_lsh_hyperplane_buckets": 1.525,
    "ann_ivf_topk": 5.116, "multimodal_binary_features": 2.406,
    "multimodal_payload_through_relational": 0.255,
    "events_tumbling_windows": 0.739, "events_sliding_windows": 0.352,
    "events_session_windows": 0.878, "events_dedup_keys": 0.333,
}


def _vs_prev_state(prev: dict, sf_val, cpus: int) -> str:
    """``"on"`` when a previous close artifact may define this run's
    regression bar, else ``"off: <why>"``: an artifact recorded at another
    scale factor (a smoke-scale artifact must not define the bar) or core
    count (round-14 verdict #6: medians at different core counts are not
    comparable; a legacy artifact without ``cpus`` cannot be checked and
    is allowed). Printed in the one-line JSON so a bar that switched
    itself off is visible, not only a stderr warning."""
    if prev.get("sf") != sf_val:
        return f"off: artifact sf={prev.get('sf')!r}, run sf={sf_val!r}"
    if prev.get("cpus") is not None and prev.get("cpus") != cpus:
        return f"off: artifact cpus={prev.get('cpus')!r}, run cpus={cpus!r}"
    return "on"


def _prev_norm_from_artifact(prev: dict, sf_val, cpus: int) -> dict[str, float]:
    """Pure core of ``_prev_bench_norm`` (unit-testable without git): the
    per-query slot-normalized regression bar from a previous close
    artifact, or {} with a warning when ``_vs_prev_state`` is off. Per
    query the bar seed is the CONTENTION-ROBUST value min(median,
    reprobe-solo-median) (round-14 verdict #9: a contended committed
    median — e.g. q1 at 5.79 s vs ≤2.6 s solo — silently weakened the
    trigger for that entry; the spread trigger already records solo rows
    for exactly those, so prefer them)."""
    import warnings

    state = _vs_prev_state(prev, sf_val, cpus)
    if state != "on":
        warnings.warn(
            f"bench: committed BENCH_FULL.json gives vs_prev {state}",
            RuntimeWarning,
            stacklevel=3,
        )
        return {}
    factor = prev.get("anchor_factor") or 1.0
    reprobe = prev.get("reprobe") or {}
    out: dict[str, float] = {}
    for name, med in (prev.get("queries") or {}).items():
        solo = (reprobe.get(name) or {}).get("solo")
        if solo:
            med = min(med, statistics.median(solo))
        out[name] = round(med / max(factor, 1e-9), 3)
    return out


def _prev_bench_norm(sf_val, cpus: int) -> tuple[dict[str, float], str]:
    """Per-query slot-normalized bar values from git HEAD's committed
    BENCH_FULL.json (the previous round's close artifact) and the bar's
    state; ({}, "off: <why>") when unavailable / recorded at a different
    scale factor or core count.
    Normalizing both sides by their run's anchor factor makes the
    comparison a machine-swing-free plan signal (the same move as
    value_anchor_norm)."""
    import subprocess
    import warnings

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        committed = subprocess.run(
            ["git", "-C", here, "show", "HEAD:BENCH_FULL.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if committed.returncode != 0:
            raise RuntimeError(committed.stderr.strip() or "git show failed")
        prev = json.loads(committed.stdout)
    except Exception as exc:
        warnings.warn(
            f"bench: no committed BENCH_FULL.json for vs_prev ({exc}); "
            "cross-round regression detection disabled this run",
            RuntimeWarning,
            stacklevel=2,
        )
        return {}, "off: no committed BENCH_FULL.json"
    return _prev_norm_from_artifact(prev, sf_val, cpus), _vs_prev_state(prev, sf_val, cpus)


def _vs_prev_exceeds(
    med: float, provisional_factor: float, prev_norm_median: float | None
) -> bool:
    """The cross-round trigger predicate (round-13 verdict #1), extracted
    so the boundary behavior is unit-testable
    (tests/test_scale_ops.py::test_bench_vs_prev_trigger_boundaries):
    fires when this run's slot-normalized median exceeds VS_PREV_X times
    the previous committed round's, with an absolute floor keeping
    sub-half-second scheduler jitter out."""
    return (
        prev_norm_median is not None
        and med >= VS_PREV_MIN_SEC
        and med / provisional_factor > VS_PREV_X * prev_norm_median
    )


def _time_anchors(spark, sf_dir: str) -> float:
    total = 0.0
    for name in ANCHOR_QUERIES:
        t0 = time.perf_counter()
        REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        total += time.perf_counter() - t0
    return round(total, 3)


def _warm_session(spark, sf_dir: str, cpus: int) -> None:
    """Session warmup shared by the main bench and --record-anchor-ref:
    codegen/compiler init, first-touch parquet footers, every catalog
    table once (OS page cache), the Arrow/Python worker pool, and one
    unrecorded anchor pass (see the warm-pass note in main)."""
    for warm in ("limit_semantics", "q1_pricing_summary"):
        REGISTRY[warm].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    from spark_jdbc_limit_spark.sources.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    spark.range(0, cpus * 10, 1, cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    _time_anchors(spark, sf_dir)


def record_anchor_ref() -> None:
    """Re-record ANCHOR_REF_SEC with the run-time procedure itself
    (round-12 verdict #1): warmed session, one unrecorded warm pass,
    then ANCHOR_REF_PASSES single-shot passes over the anchor set —
    median is the constant. Run on a quiet slot; the printed spread is
    the slot evidence to commit alongside the new value."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="anchor_ref", cpus=cpus, shuffle_partitions=cpus
    )
    _warm_session(spark, sf_dir, cpus)
    passes = [
        _time_anchors(spark, sf_dir)
        for _ in range(int(os.environ.get("SPARK_GRAFT_ANCHOR_PASSES", "5")))
    ]
    print(
        json.dumps(
            {
                "metric": "anchor_ref_single_shot_passes",
                "passes": passes,
                "median": round(statistics.median(passes), 3),
                "min": min(passes),
                "max": max(passes),
                "current_constant": ANCHOR_REF_SEC,
                "sf_dir": sf_dir,
                "cpus": cpus,
            }
        )
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = build_session(app_name="bench", cpus=cpus, shuffle_partitions=cpus)
    # Warm the JVM once (codegen/compiler init plus first-touch parquet
    # footer reads, ~7 s of pure session warm-up measured at sf0.1, would
    # otherwise be misattributed to the first query), every catalog table
    # (OS page cache), the Arrow/Python worker pool, AND one UNRECORDED
    # anchor pass (round-12 verdict #1): the round-12 artifact's first
    # bracket read 3.34 s vs 2.19-2.41 s for every later probe —
    # first-pass whole-plan compilation for the anchor set, not slot
    # contention. Recording it conflated JVM warmup with a contended
    # first bracket; warming keeps every recorded probe like-for-like
    # with the reference procedure (--record-anchor-ref warms the same way).
    _warm_session(spark, sf_dir, cpus)

    # The shared graph-edge checkpoint's materialization cost as an
    # EXPLICIT row (round-14 verdict #7): `supplier_edges_ckpt` memoizes
    # one localCheckpointed edge relation per (session, corpus), so 16 of
    # the 17 graph entries' per-query rows assume a warm checkpoint. Timing
    # the first materialization here (a) makes the standalone cost a named,
    # separable number in the artifact and (b) gives every graph entry
    # uniform warm-memo (marginal-cost) semantics instead of charging the
    # whole materialization to whichever graph entry the registry order
    # happens to run first. Derived from parquet in THIS session — nothing
    # crosses processes.
    from spark_jdbc_limit_spark.operators.graph import supplier_edges_ckpt

    t0 = time.perf_counter()
    supplier_edges_ckpt(spark, sf_dir, keep_weight=True).write.format(
        "noop"
    ).mode("overwrite").save()
    supplier_edges_ckpt_sec = round(time.perf_counter() - t0, 3)

    # Per-query MEDIAN over n reps: a single-shot timing on a shared VM
    # reads contention windows as 10x plan regressions (round-2 bench
    # recorded 11.0s for a query that warm-times 1.37s). Reps run as
    # ROUND-ROBIN PASSES over the whole registry (pass 1 all queries,
    # then pass 2, ...), not back-to-back per query: a multi-second VM
    # noise window then lands in at most one rep of any query, so the
    # recorded MIN stays contention-free (back-to-back reps once
    # recorded 5.1s min for a query that times 2.6s alone — one window
    # swallowed all three samples).
    anchor_first = _time_anchors(spark, sf_dir)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    anchor_every = int(os.environ.get("SPARK_GRAFT_ANCHOR_EVERY", str(ANCHOR_EVERY)))
    anchor_series: list[dict] = [{"at": 0, "sec": anchor_first}]
    all_reps: dict[str, list[float]] = {name: [] for name in REGISTRY}
    n_exec = 0
    for _ in range(reps):
        for name, spec in REGISTRY.items():
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            all_reps[name].append(round(time.perf_counter() - t0, 3))
            n_exec += 1
            if anchor_every > 0 and n_exec % anchor_every == 0:
                anchor_series.append(
                    {"at": n_exec, "sec": _time_anchors(spark, sf_dir)}
                )
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name, samples in all_reps.items():
        timings[name] = round(statistics.median(samples), 3)
        # MIN across reps is the contention-free estimate: a shared-VM
        # noise window inflates individual reps but never deflates one,
        # so min is the robust round-over-round comparison stat while
        # median remains the expected-latency headline.
        mins[name] = round(min(samples), 3)

    # Pipeline-marginal accounting (round-6 verdict #8): the catalog's
    # heaviest entry, dedup_cluster_best_representative, embeds a full CC
    # recompute so its oracle stays self-contained. In production CC is a
    # materialized intermediate, so ALSO time the survivor step against a
    # checkpointed CC relation — the operator's true marginal cost.
    from spark_jdbc_limit_spark.operators.dedup import (
        _dup_survivors,
        best_representative_frame,
        dedup_connected_components,
        dup_span_extract_frame,
    )

    from spark_jdbc_limit_spark.operators.graph import (
        _supplier_edges,
        bfs_hops_until_settled,
        connected_components_until_settled,
        graph_bfs_hops,
        graph_closeness_multisource,
        graph_connected_components,
        graph_jaccard_link_prediction,
        graph_kcore_peeling,
        graph_label_propagation,
        graph_local_clustering_topk,
        graph_resource_allocation_links,
        graph_sssp_bellman_ford,
        graph_triangle_stats,
        kcore_until_settled,
        label_propagation_until_settled,
        pagerank_frame,
    )

    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    edges = _supplier_edges(spark, sf_dir).localCheckpoint()
    w_edges = _supplier_edges(spark, sf_dir, keep_weight=True).localCheckpoint()
    # the suffix-dedup pair shares one surviving-suffix relation in a
    # pipeline; each standalone entry re-derives it for its oracle
    from spark_jdbc_limit_spark.sources.catalog import load_table as _lt

    dup_sv = _dup_survivors(_lt(spark, sf_dir, "documents")).localCheckpoint()
    # the composed curation capstone's maintained intermediate: the eval
    # gram-digest index (benchmark-sized; re-derived in the
    # self-contained entry, materialized once per eval release in
    # production)
    from pyspark.sql import functions as _F

    from spark_jdbc_limit_spark.operators.dedup import _dup_anchors
    from spark_jdbc_limit_spark.operators.pipeline import (
        DECON_EVAL_MOD,
        curate_full_frame,
    )

    _docs = _lt(spark, sf_dir, "documents")
    ev_idx = (
        _dup_anchors(
            _docs.filter(_F.pmod(_F.col("doc_id"), _F.lit(DECON_EVAL_MOD)) == 0)
        )[1]
        .select("ah")
        .distinct()
        .localCheckpoint()
    )

    marginal_builders = {
        "curate_full_pipeline": lambda: curate_full_frame(_docs, ev_grams=ev_idx),
        "dedup_cluster_best_representative": lambda: best_representative_frame(
            spark, sf_dir, cc
        ),
        # the single plan body shared with the registry entry (round-12
        # advice: the inline copy the bench carried could drift)
        "dedup_dup_span_extract": lambda: dup_span_extract_frame(dup_sv),
        # the graph analytics share one materialized edge relation in a
        # pipeline; their standalone entries re-derive it for the oracle
        "graph_pagerank_supplier": lambda: pagerank_frame(spark, sf_dir, edges=edges),
        "graph_label_propagation": lambda: graph_label_propagation(
            spark, sf_dir, edges=edges
        ),
        "graph_triangle_stats": lambda: graph_triangle_stats(
            spark, sf_dir, edges=edges
        ),
        "graph_connected_components": lambda: graph_connected_components(
            spark, sf_dir, edges=edges
        ),
        "graph_bfs_hops": lambda: graph_bfs_hops(spark, sf_dir, edges=edges),
        "graph_kcore_peeling": lambda: graph_kcore_peeling(spark, sf_dir, edges=edges),
        "graph_jaccard_link_prediction": lambda: graph_jaccard_link_prediction(
            spark, sf_dir, edges=edges
        ),
        "graph_resource_allocation_links": lambda: graph_resource_allocation_links(
            spark, sf_dir, edges=edges
        ),
        "graph_closeness_multisource": lambda: graph_closeness_multisource(
            spark, sf_dir, edges=edges
        ),
        "graph_local_clustering_topk": lambda: graph_local_clustering_topk(
            spark, sf_dir, edges=edges
        ),
        # the weighted family shares its OWN materialized relation (the
        # same derivation with the co-order count retained)
        "graph_sssp_bellman_ford": lambda: graph_sssp_bellman_ford(
            spark, sf_dir, edges=w_edges
        ),
    }

    # the until-settled family's marginals: same shared edge relation;
    # the convergence loop's per-round count jobs are part of the
    # operator's cost and stay inside the timed call (the returned state
    # is what a pipeline consumes)
    def _settled_marginal(fn):
        def build():
            state, _rounds, _settled = fn(spark, sf_dir, edges=edges)
            return state

        return build

    marginal_builders.update(
        {
            "graph_cc_until_settled": _settled_marginal(
                connected_components_until_settled
            ),
            "graph_bfs_until_settled": _settled_marginal(bfs_hops_until_settled),
            "graph_kcore_until_settled": _settled_marginal(kcore_until_settled),
            "graph_lpa_until_settled": _settled_marginal(
                label_propagation_until_settled
            ),
        }
    )
    from spark_jdbc_limit_spark.operators.graph import sssp_until_settled

    def _sssp_settled_marginal():
        state, _rounds, _settled = sssp_until_settled(spark, sf_dir, edges=w_edges)
        return state

    marginal_builders["graph_sssp_until_settled"] = _sssp_settled_marginal
    # Marginal reps are round-robin passes like the main loop, so one VM
    # noise window lands in at most one rep of any marginal builder.
    marginal_reps: dict[str, list[float]] = {m: [] for m in marginal_builders}
    for _ in range(reps):
        for mname, build in marginal_builders.items():
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            marginal_reps[mname].append(round(time.perf_counter() - t0, 3))
    pipeline_marginal = {
        mname: round(statistics.median(samples), 3)
        for mname, samples in marginal_reps.items()
    }

    # SOLO reprobe pass (round-11 verdict #2/#6): clears rep-spread and
    # vs-baseline outliers in the artifact itself. Runs BEFORE the last
    # anchor so the bracket still frames every measurement.
    # The vs_prev trigger (round-13 verdict #1) normalizes this run by
    # the PROVISIONAL factor (first bracket / reference): the final
    # factor needs the last bracket, which deliberately runs after the
    # reprobes; first-bracket-vs-final divergence is visible in
    # anchor_series either way.
    prev_norm, vs_prev_state = _prev_bench_norm(sf_val, cpus)
    provisional_factor = max(anchor_first / ANCHOR_REF_SEC, 1e-9)
    reprobe: dict[str, dict] = {}
    for name in REGISTRY:
        samples = all_reps[name]
        med, mn = statistics.median(samples), min(samples)
        base = BASELINE_QUERY_SEC.get(name)
        spread_hit = med > REPROBE_SPREAD_X * mn
        base_hit = base is not None and med > REPROBE_SPREAD_X * base
        pn = prev_norm.get(name)
        med_norm = med / provisional_factor
        prev_hit = _vs_prev_exceeds(med, provisional_factor, pn)
        if not (spread_hit or base_hit or prev_hit or name in ALWAYS_REPROBE):
            continue
        solo = []
        for _ in range(REPROBE_REPS):
            t0 = time.perf_counter()
            REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            solo.append(round(time.perf_counter() - t0, 3))
        solo_min = min(solo)
        triggers = [
            t
            for t, hit in (
                ("spread", spread_hit),
                ("baseline", base_hit),
                ("vs_prev", prev_hit),
            )
            if hit
        ]
        rec = {
            "solo": solo,
            "solo_min": solo_min,
            "main_median": med,
            "main_min": mn,
            "trigger": "+".join(triggers) if triggers else "always",
        }
        if base is not None:
            rec["baseline"] = base
            # the judge's bar: does a contention-free solo timing sit
            # within 2x the recorded plain-PySpark baseline?
            rec["cleared_2x_baseline"] = min(solo_min, mn) <= 2.0 * base
        if pn is not None:
            # cross-round forensic row: cleared when the SOLO timing,
            # slot-normalized, sits back inside the vs_prev bar — a
            # stable (median≈min≈solo) exceedance is the real-regression
            # signature this field exists to surface
            rec["vs_prev"] = {
                "prev_norm_median": pn,
                "this_norm_median": round(med_norm, 3),
                "ratio": round(med_norm / max(pn, 1e-9), 3),
                "solo_min_norm": round(solo_min / provisional_factor, 3),
                "cleared": solo_min / provisional_factor <= VS_PREV_X * pn,
            }
        rec["noise_confirmed"] = solo_min <= 1.25 * mn
        reprobe[name] = rec

    anchor_last = _time_anchors(spark, sf_dir)
    anchor_series.append({"at": n_exec, "sec": anchor_last})
    # min of first/last: the contention-free-er of the two bracketing
    # samples (a noise window at one end shouldn't read as a slow machine)
    anchor_sec = min(anchor_first, anchor_last)
    anchor_factor = round(anchor_sec / ANCHOR_REF_SEC, 3)
    # the mid-run factor (round-11 verdict #3): median of the INTERIOR
    # probes — a contended middle between quiet brackets now shows up as
    # anchor_factor_mid >> anchor_factor instead of hiding
    mids = [p["sec"] for p in anchor_series[1:-1]]
    anchor_factor_mid = (
        round(statistics.median(mids) / ANCHOR_REF_SEC, 3) if mids else None
    )

    total = round(sum(timings.values()), 3)
    total_min = round(sum(mins.values()), 3)
    full = {
        "metric": "total_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "rep_stat": "median",
        "value_min": total_min,
        "queries_min": mins,
        "queries_reps": all_reps,
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": cpus,
        # whether the previous close artifact defined the regression bar
        "vs_prev": vs_prev_state,
        # machine-contention instrumentation: this run's fixed-anchor-set
        # time over the recorded quiet-slot reference, plus the total
        # normalized by it — compare value_anchor_norm across rounds
        "anchor_sec_first": anchor_first,
        "anchor_sec_last": anchor_last,
        "anchor_ref_sec": ANCHOR_REF_SEC,
        "anchor_factor": anchor_factor,
        "anchor_factor_mid": anchor_factor_mid,
        "anchor_series": anchor_series,
        "value_anchor_norm": round(total / max(anchor_factor, 1e-9), 3),
        # solo re-timings of rep-spread / vs-baseline / known-noise rows —
        # the artifact clears its own outliers (round-11 verdict #2/#6)
        "reprobe": reprobe,
        # marginal cost with CC as a materialized pipeline intermediate;
        # NOT added to `value` (the self-contained entry already counts)
        "pipeline_marginal": pipeline_marginal,
        # standalone materialization cost of the shared graph-edge
        # checkpoint (round-14 verdict #7); per-entry graph rows are
        # marginal against this warm memo. NOT added to `value`.
        "supplier_edges_ckpt_sec": supplier_edges_ckpt_sec,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # committed staleness artifact (round-10 verdict #8): how far behind
    # the stalest driver-green entry is, given the rotation's
    # stalest-green-first ordering. Computed before the file is opened,
    # so a failure cannot leave the committed artifact truncated
    from rotation import rotation_stats

    stats = rotation_stats()
    with open(os.path.join(here, "ROTATION.json"), "w") as f:
        json.dump(stats, f, indent=1)
        f.write("\n")
    # The grading driver keeps only the last 2000 chars of stdout; the full
    # 100-query timings dict overflows that and the line becomes
    # unparseable (round-1 BENCH: "parsed": null). Print a compact line
    # whose "queries" holds the SLOWEST queries that fit a 1700-byte
    # budget — they carry the optimization signal — and point at
    # BENCH_FULL.json for the complete per-query map.
    compact_base = {
        k: v
        for k, v in full.items()
        if k not in ("queries_reps", "queries_min", "anchor_series", "reprobe")
    }
    # terse reprobe summary for the stdout line (full rows in BENCH_FULL):
    # solo-min per reprobed query — enough to read the artifact's verdict
    compact_base["reprobe_solo_min"] = {
        n: r["solo_min"] for n, r in reprobe.items()
    }
    # names whose slot-normalized solo timing STILL exceeds 1.5x the
    # previous committed round — the stable-regression shortlist
    compact_base["vs_prev_flagged"] = sorted(
        n
        for n, r in reprobe.items()
        if "vs_prev" in r and not r["vs_prev"]["cleared"]
    )
    head: dict[str, float] = {}
    line = json.dumps({**compact_base, "queries": {}, "queries_full": "BENCH_FULL.json"})
    for name in sorted(timings, key=lambda k: timings[k], reverse=True):
        trial = {**head, name: timings[name]}
        candidate = json.dumps(
            {**compact_base, "queries": trial, "queries_full": "BENCH_FULL.json"},
            separators=(",", ":"),
        )
        if len(candidate) > 1700:
            break
        head = trial
        line = candidate
    print(line)


if __name__ == "__main__":
    if "--record-anchor-ref" in sys.argv:
        record_anchor_ref()
    else:
        main()
