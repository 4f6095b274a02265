"""Operator surface: every query/operator from SURVEY.md §2 as a named,
oracle-paired entry in a typed registry.

Importing this package populates the registry from the per-category
modules; ``all_queries()`` / ``all_oracles()`` back ``__spark_entry__.py``.
"""

from __future__ import annotations

import functools

from spark_jdbc_limit_spark.operators.registry import (
    QuerySpec,
    all_oracles,
    all_queries,
    get_query,
    query,
    REGISTRY,
)

# Register all query modules (import order = catalog order).
from spark_jdbc_limit_spark.operators import relational  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import joins  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import aggregates  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import windows  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import setops  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import scalars  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import dedup  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import similarity  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import text  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import multimodal  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import udfs  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import advanced  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import windowed_events  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import pipeline  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import file_sources  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import graph  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import sqltext  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import sketches  # noqa: E402,F401
from spark_jdbc_limit_spark.operators import stats  # noqa: E402,F401

#: Registry category → SURVEY.md §2B row (or LLM-pipeline area). The
#: registry's categories are finer-grained than §2B's ten rows plus the
#: five LLM areas; this single-sourced map keeps the taxonomy auditable
#: (and tested: every spec.category must be a key here) so the
#: category → coverage-row correspondence never drifts as the registry
#: grows. Fine categories that fold into a coarser row: `scan` is the
#: projections/filters family over the parquet catalog; `subquery`,
#: `reshape`, and `sql_text` are aggregation-shaped SQL-surface demos;
#: `window_events` is the event-analytics half of the windows row;
#: `graph` joins the LLM-pipeline area (iterative analytics for corpus
#: curation: PageRank authority, components-as-dedup-clusters, LPA).
CATEGORY_TO_SURVEY: dict[str, str] = {
    "source": "scans/sources/sinks",
    "scan": "projections/filters",
    "join": "joins",
    "aggregation": "aggregations",
    "subquery": "aggregations",
    "reshape": "aggregations",
    "sql_text": "aggregations",
    "window": "windows",
    "window_events": "windows",
    "sort": "sorts/limits/top-k",
    "setop": "set ops",
    "scalar": "scalar funcs",
    "streaming": "streaming",
    "udf": "UDF/UDAF/UDTF",
    "llm_dedup": "llm:dedup",
    "llm_similarity": "llm:similarity",
    "llm_multimodal": "llm:multimodal",
    "llm_text": "llm:text",
    "llm_pipeline": "llm:pipeline",
    "graph": "llm:pipeline",
}

# Correctness-sampling rotation: the driver samples the first N registry
# entries in iteration order each round and records their three-way
# (rows/schema/hash) result in CORRECTNESS_r{k}.json. Queries that already
# hold a driver-side row rotate to the BACK of the catalog; queries only
# ever verified by the local DuckDB differential (tests/test_oracle.py —
# which covers every entry regardless of order) move to the front and fill
# the sampling window. The sampled set is derived from the recorded
# CORRECTNESS files themselves, so each round's rotation is automatic — no
# hand-maintained name list to fall out of date.

def _driver_sampled_rounds() -> dict[str, int]:
    import glob
    import json
    import os
    import warnings

    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    files = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    # Per name, only the LATEST round's record decides: a green in an old
    # round must not outvote a later red (a regression after a past green
    # would otherwise rotate to the back and its fix never get re-drawn —
    # the same starvation the red-record rule exists to prevent), and a
    # later green supersedes an old red.
    latest: dict[str, tuple[int, dict]] = {}
    for path in files:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else -1
        try:
            with open(path) as f:
                data = json.load(f)
            for n, rec in data.items():
                if not isinstance(rec, dict):
                    continue
                if n not in latest or rnd > latest[n][0]:
                    latest[n] = (rnd, rec)
        except Exception as exc:  # unreadable round file never blocks import...
            # ...but silence here would let already-verified queries creep
            # back into the sampling window unnoticed
            warnings.warn(
                f"rotation: could not read {path!r} ({exc}); its queries may "
                "re-enter the correctness sampling window",
                RuntimeWarning,
                stacklevel=2,
            )
    rounds: dict[str, int] = {}
    # A record whose driver check CRASHED (non-null err other than the
    # by-design 'no_oracle' rows-only marker) is NOT verified: leave it
    # out of the sampled set so it re-enters the next round's window once
    # fixed, instead of rotating to the back unverified. A rows-only
    # 'no_oracle' record carries NO match verdict (the driver writes
    # rows_match: null — it has nothing to compare against), so any
    # non-crashed one counts as sampled — but it goes STALE once the
    # query has since gained an oracle pair (the stronger three-way check
    # hasn't run, so re-queue it). A RED three-way record (any of
    # rows/schema/hash false) is NOT verified: the query must surface at
    # the front of the sample window until the driver itself signs a
    # green row — otherwise a one-round red rotates to the back and the
    # fix never gets a driver signature (this bit round 6-8:
    # sql_shared_text_rollup / join_bloom_prefilter).
    # The VALUE is the verifying record's round — the staleness key the
    # rotation sorts the already-verified block by (round-9 verdict #7).
    for n, (rnd, rec) in latest.items():
        if rec.get("err"):
            if rec["err"] != "no_oracle":
                continue  # crashed check — unverified
            spec = REGISTRY.get(n)
            if spec is not None and spec.oracle is not None:
                continue  # rows-only record, oracle now exists
            rounds[n] = rnd
            continue
        if not (
            rec.get("rows_match", False)
            and rec.get("schema_match", False)
            and rec.get("hash_match", False)
        ):
            continue  # red three-way record — re-queue at front
        rounds[n] = rnd
    if files and not rounds:
        warnings.warn(
            "rotation: CORRECTNESS files present but no sampled names parsed; "
            "registry order will not rotate this round",
            RuntimeWarning,
            stacklevel=2,
        )
    return rounds


def _driver_sampled_names() -> set[str]:
    return set(_driver_sampled_rounds())


def _latest_correctness_round() -> int:
    """Highest round number among the CORRECTNESS_r*.json files present.

    This — not the max round of any GREEN record — is the rotation clock
    (round-11 advice): a round whose sampled entries all ended red would
    not advance a green-derived clock, understating staleness exactly when
    it matters most.
    """
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rounds = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds, default=0)


def rotation_stats() -> dict:
    """Staleness accounting for the committed per-round artifact
    (round-10 verdict #8): the rotation orders the verified block
    stalest-green-first, and this makes the achieved bound a NUMBER —
    ``max_rounds_since_green`` should stay ≤ ceil(n_entries / sample
    window) and shrink as the window re-draws stale entries.

    ``history`` (round-11 verdict #7) is maintained incrementally: each
    bench run appends/overwrites its own round's row in the committed
    ROTATION.json, so the n_entries-vs-staleness trend is visible as the
    registry grows. A build session runs BETWEEN driver rounds (round
    N's CORRECTNESS file exists, N+1's doesn't), so a round's row
    reflects that round's LAST bench run — the registry state the NEXT
    round's driver grading actually sees; past rows are live
    measurements, never retroactive reconstructions.
    """
    import json
    import os
    import subprocess
    import warnings

    rounds = _driver_sampled_rounds()
    known = {n: r for n, r in rounds.items() if n in REGISTRY}
    current = _latest_correctness_round()
    since = {n: current - r for n, r in known.items()}
    stats = {
        "current_round": current,
        "n_entries": len(REGISTRY),
        "n_verified_green": len(known),
        "n_unverified": len(REGISTRY) - len(known),
        "max_rounds_since_green": max(since.values(), default=None),
        "stalest": sorted(since, key=since.get, reverse=True)[:10],
    }
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    # History is rebuilt from BOTH the on-disk artifact and git HEAD's
    # committed copy, merged by round (round-12 advice): a read-modify-
    # write over the working-tree file alone loses the whole trend the
    # first time something clobbers it — which already happened when an
    # sf0.001 smoke run regenerated ROTATION.json and dropped round 11's
    # row. Past rows never change, so the union is always safe; where
    # both sources carry a round, the committed copy wins (it is the
    # state the round's driver grading actually saw).
    def _rows_from(prior: dict) -> list[dict]:
        rows = [
            row
            for row in prior.get("history", [])
            if isinstance(row, dict) and row.get("round") is not None
        ]
        if not rows and prior.get("current_round") is not None:
            # seed from a pre-history artifact (round ≤ 11 format)
            rows = [
                {
                    "round": prior["current_round"],
                    "n_entries": prior.get("n_entries"),
                    "max_rounds_since_green": prior.get("max_rounds_since_green"),
                }
            ]
        return rows

    by_round: dict[int, dict] = {}
    try:
        with open(os.path.join(root, "ROTATION.json")) as f:
            for row in _rows_from(json.load(f)):
                by_round[row["round"]] = row
    except FileNotFoundError:
        pass
    except Exception as exc:
        warnings.warn(
            f"rotation: could not read working-tree ROTATION.json ({exc}); "
            "history rebuilt from the committed artifact only",
            RuntimeWarning,
            stacklevel=2,
        )
    try:
        committed = subprocess.run(
            ["git", "-C", root, "show", "HEAD:ROTATION.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if committed.returncode == 0:
            for row in _rows_from(json.loads(committed.stdout)):
                by_round[row["round"]] = row  # committed row wins
    except Exception as exc:
        warnings.warn(
            f"rotation: could not read HEAD:ROTATION.json ({exc}); history "
            "may be missing rows the working-tree artifact lost",
            RuntimeWarning,
            stacklevel=2,
        )
    by_round[current] = {
        "round": current,
        "n_entries": stats["n_entries"],
        "max_rounds_since_green": stats["max_rounds_since_green"],
    }
    stats["history"] = [by_round[r] for r in sorted(by_round)]
    return stats


#: Within the never-sampled set, carried-over queries outrank later
#: additions (they have waited more rounds for a driver row); additions
#: are queued behind them in the order listed here.
_QUEUE_BEHIND = (
    "text_pii_redaction", "text_ngram_topk", "cdc_upsert_latest",
    "embedding_dim_stats", "join_bucketed_colocated", "ann_pq_topk",
    "mix_epochs_upsample", "text_unigram_logprob", "agg_histogram_prices",
    "dedup_passage_exact", "text_tfidf_topk", "global_rownum_two_phase",
    "source_parquet_partition_pruning", "events_gapfill_locf",
    "scd2_user_type_history", "agg_distinct_two_phase",
    "events_funnel_conversion", "multimodal_audio_features",
    "join_fuzzy_name_match", "events_retention_cohorts",
    "events_view_click_unattributed", "basket_pair_cooccurrence",
    "events_anomaly_zscore", "udf_scalar_iter_model_scoring",
    "join_asof_tolerance", "sample_weighted_priority",
    "dedup_ngram_containment", "events_markov_transitions",
    "text_char_entropy", "source_text_lines", "source_binary_files",
    "q3_shipping_priority", "q6_forecast_revenue",
    "q18_large_volume_customers", "events_window_topk_users",
    "customer_rfm_segmentation", "brand_abc_pareto",
    "dq_expectations_report", "incremental_reaggregation",
    "dedup_exact_provenance", "orders_duplicate_payment_check",
    # round-5 additions: queued BEHIND the round-4 carry-overs above —
    # those have waited longer for a driver row
    "q4_order_priority", "q5_local_supplier_volume", "q10_returned_items",
    "q14_promo_revenue", "q19_discounted_revenue", "graph_triangle_stats",
    "doc_chunk_sliding", "mix_temperature_weights", "ann_knn_join",
    "customer_rfm_segmentation_scalable", "dq_join_key_skew_report",
    "multimodal_image_dhash", "sql_shared_text_rollup",
    "sql_recursive_year_spine", "sql_shared_text_window",
    "events_top_paths_3step", "dedup_cluster_best_representative",
    "dedup_minhash_estimate_audit", "source_python_datasource",
    "events_anomaly_robust_mad", "orders_benford_first_digit",
    "q13_customer_order_distribution", "q17_small_quantity_revenue",
    "q22_dormant_high_balance", "q7_volume_shipping", "q8_market_share",
    "q15_top_supplier", "q21_sole_late_supplier",
    "dedup_semantic_semdedup",
    # round-6 additions: queued behind the round-5 carry-overs
    "ann_pq_rerank_audit", "graph_pagerank_supplier", "events_ewma_hourly",
    "cluster_kmeans_lloyd_step", "multimodal_dhash_near_dup",
    "dq_referential_integrity", "text_zipf_fit", "basket_lift_rules",
    "events_decayed_value", "supplier_hhi_by_nation", "source_xml_roundtrip",
    "embedding_pca_power_iteration", "text_readability_flesch",
    "events_bot_rate_screen", "orders_weekly_trend_forecast",
    "pipeline_quality_gate_report",
    # round-7 additions: queued behind the round-6 carry-overs
    "agg_approx_percentile_audit", "agg_approx_topk_audit",
    "graph_label_propagation", "join_bloom_prefilter",
    "sample_stratified_exact", "graph_connected_components",
    "sort_range_equidepth_audit", "dedup_winnowing_fingerprints",
    "events_ab_test_zscore",
)


#: The driver's per-round correctness sample size — the first this-many
#: registry entries get a driver-signed three-way row each round. The
#: staleness bound the rotation maintains is ceil(n_entries / window).
#: Round-14 decision (round-13 verdict #5): the window is the DRIVER's
#: sampling behavior, not ours to grow, so the bound stays the formula —
#: it self-adjusts (to 8) the moment the registry crosses 350 entries,
#: and tier 1 enforces whatever the formula says at the current count;
#: ROTATION.json's history row records the achieved max each round.
_SAMPLE_WINDOW = 50


@functools.cache
def _changed_modules_since(round_: int) -> set[str] | None:
    """Repo-relative paths changed since round ``round_``'s boundary
    commit (subject ``round {N}: verdict/...``) — committed AND working
    tree. None when git or the boundary commit is unavailable (fresh
    checkout without history, driver sandbox): callers fall back to pure
    staleness order. Memoized per round."""
    import os
    import subprocess
    import warnings

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    changed: set[str] | None = None
    try:
        log = subprocess.run(
            ["git", "-C", root, "log", "--format=%H %s"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        sha = None
        if log.returncode == 0:
            for line in log.stdout.splitlines():
                h, _, subject = line.partition(" ")
                if subject.startswith(f"round {round_}:"):
                    sha = h
                    break  # newest matching boundary commit
        if sha is not None:
            diff = subprocess.run(
                ["git", "-C", root, "diff", "--name-only", sha, "--",
                 "spark_jdbc_limit_spark"],
                capture_output=True,
                text=True,
                timeout=30,
            )
            if diff.returncode == 0:
                changed = {p.strip() for p in diff.stdout.splitlines() if p.strip()}
    except Exception as exc:
        warnings.warn(
            f"rotation: churn lookup for round {round_} failed ({exc}); "
            "falling back to pure staleness order",
            RuntimeWarning,
            stacklevel=2,
        )
    return changed


@functools.cache
def _module_deps(mod_rel: str) -> frozenset[str]:
    """Repo-relative paths of the package modules ``mod_rel`` imports —
    the helper modules whose change must also churn-promote its entries
    (round-13 advice: the tier keyed on the builder's DEFINING module
    only, so ``curate_span_cut_pipeline`` — builder in pipeline.py, cut
    logic in dedup.py — stayed tier 3 through a dedup.py refactor while
    its driver signature certified changed code). Derived by scanning
    the module source for ``from spark_jdbc_limit_spark.* import``
    statements rather than hand-maintained (a static map would drift
    exactly like the name lists this package avoids). One level deep by
    design: transitive helper-of-helper edits are almost always visible
    in the direct helper too, and depth-1 already over-approximates
    (relational.py's shared rounding helpers pull most modules forward
    on a relational edit — safe, since tier 2 never displaces tier 1).
    Memoized per module file."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    deps: set[str] = set()
    try:
        with open(os.path.join(root, mod_rel)) as f:
            src = f.read()
        for m in re.finditer(r"from (spark_jdbc_limit_spark[.\w]*) import", src):
            deps.add(m.group(1).replace(".", "/") + ".py")
    except OSError:
        pass
    deps.discard(mod_rel)
    return frozenset(deps)


def _rotate_registry() -> None:
    rounds = _driver_sampled_rounds()
    sampled = set(rounds) & set(REGISTRY)
    behind = set(_QUEUE_BEHIND)
    fresh = {
        n: s
        for n, s in REGISTRY.items()
        if n not in sampled and n not in behind
    }
    queued = {
        n: REGISTRY[n]
        for n in _QUEUE_BEHIND
        if n in REGISTRY and n not in sampled
    }
    # The already-verified block is ordered in three tiers (round-12
    # verdict #2), each stalest-green-first (ascending verifying round,
    # ties by insertion order):
    #   1. staleness-CRITICAL: entries that must be re-drawn this round
    #      or their rounds-since-green would exceed the bound
    #      ceil(n_entries / _SAMPLE_WINDOW) — the hard invariant
    #      (round-9 verdict #7), pinned in
    #      tests/test_scale_ops.py::test_rotation_staleness;
    #   2. CHURNED: entries whose implementing module — or any package
    #      module it imports (``_module_deps``, round-13 advice) —
    #      changed (committed or working tree) since the round that
    #      greened them: their driver signature certifies code that no
    #      longer exists, so a refactor of dedup.py pulls forward both
    #      the dedup family and the pipeline entries built on its frame
    #      helpers, into whatever window budget tier 1 leaves free;
    #   3. everything else.
    # Tier 2 never displaces tier 1, so churn prioritization cannot
    # break the staleness bound; git unavailable → tier 2 is empty and
    # the order degrades to the round-11 pure-staleness behavior.
    pos = {n: i for i, n in enumerate(REGISTRY)}
    current = _latest_correctness_round()
    bound = max(2, -(-len(REGISTRY) // _SAMPLE_WINDOW))

    def _module_rel(n: str) -> str:
        return REGISTRY[n].builder.__module__.replace(".", "/") + ".py"

    def _tier(n: str) -> int:
        if current - rounds[n] >= bound - 1:
            return 1
        changed = _changed_modules_since(rounds[n])
        if changed is not None:
            mod = _module_rel(n)
            if mod in changed or not _module_deps(mod).isdisjoint(changed):
                return 2
        return 3

    seen = {
        n: REGISTRY[n]
        for n in sorted(sampled, key=lambda n: (_tier(n), rounds[n], pos[n]))
    }
    REGISTRY.clear()
    REGISTRY.update(fresh)
    REGISTRY.update(queued)
    REGISTRY.update(seen)


_rotate_registry()

__all__ = [
    "QuerySpec",
    "REGISTRY",
    "all_oracles",
    "all_queries",
    "get_query",
    "query",
]
