"""Scenario data for ``bench.py --scale`` and ``bench.py --cores``: the
measured entry sets and the replication writer.

``--scale`` (round-9 verdict #1) measures — doesn't argue — how the
heaviest operators' wall-time grows with data volume. The base corpus is
replicated R× with replica-DISJOINT identity:

- ``lineitem``: l_orderkey / l_suppkey / l_partkey shifted per replica →
  the supplier co-order graph becomes R disjoint isomorphic copies (node
  and edge count scale ×R, diameter and degree distribution constant —
  volume scaling with structure held fixed).
- ``orders``: o_orderkey / o_custkey shifted → R× the customer
  population for the two-phase-rank entries.
- ``documents``: doc_id shifted AND every non-leading token prefixed
  with a replica tag, so replicas share (almost) no shingles — the
  near-dup pair space scales ×R (each replica reproduces the base
  corpus's internal duplicates), NOT ×R² as identical replicas would.
- ``embeddings``: vec_id shifted AND the vector cyclically rolled by
  ``rep mod dim`` — a norm-preserving direction change, so LSH buckets
  and IVF cells fill ×R instead of stacking R identical vectors into
  the same cell.

The per-query scaling exponent is the least-squares slope of
log(wall) vs log(R) — ~1.0 is linear, the bar every entry in QUERIES
must meet.

``--cores`` times CORE_QUERIES on the same replicated corpus at one R:
at sf0.1 the suite is scheduling-bound, so only a replicated corpus shows
whether the plans parallelize once data binds.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: The measured set: the verdict's named heavy family. `expected` is the
#: a-priori complexity in the replication regime (R disjoint copies);
#: anything measured materially above its expectation is a finding.
QUERIES: dict[str, str] = {
    "graph_connected_components": "linear",
    "graph_kcore_peeling": "linear",
    "graph_bfs_hops": "linear",
    "graph_pagerank_supplier": "linear",
    "dedup_jaccard_prefix_filter": "linear",
    "dedup_minhash_verified": "linear",
    "dedup_semantic_semdedup": "linear",
    "agg_count_min_frequency_audit": "linear",
    "customer_gini_revenue": "linear",
    "ann_ivf_topk": "linear",
    # kNN join: |Q| and |C| both scale with R, so the EXACT form is
    # inherently R² (measured 2.09 top-decade in round 9/10). Round 11
    # added the cost-based switch (verdict #3): above KNN_BRUTE_MAX_PAIRS
    # the entry generates candidates with corpus-scaled IVF cells and
    # exact-reranks a bounded ~nprobe×cell_target shortlist per query —
    # work linear in n — so the measured posture is now linear, with the
    # brute arm kept for small corpora and the oracle.
    "ann_knn_join": "linear",
    # the until-settled loops: replication preserves per-replica graph
    # structure, so the ROUND COUNT stays constant while per-round work
    # scales xR — wall should track the fixed entries' linear posture
    "graph_cc_until_settled": "linear",
    "graph_kcore_until_settled": "linear",
    # round-10 rework (verdict #2): Spearman's ranks moved onto
    # two_phase_rank because its revenue-cents domain tracks customer
    # cardinality (xR under replication) — this row is the measured
    # proof the rework removed the unbounded single-task window
    "agg_spearman_rank_correlation": "linear",
    # round-10b additions: per-hub wedge expansion (degree constant under
    # disjoint replication), the weighted min-plus loop (round count
    # constant), the DSIR token stream (vocabulary xR via replica tags —
    # the broadcast freq table grows, the posture's stress case), the
    # anchor×corpus binary-quantization join, and the sweep-line running
    # sum under xR boundary points per hour bucket (events now replicate
    # with a +rep µs shift so the netted point set actually grows).
    "graph_resource_allocation_links": "linear",
    "graph_sssp_until_settled": "linear",
    "pipeline_dsir_importance_weights": "linear",
    "embedding_binary_quantization_recall_audit": "linear",
    "events_peak_concurrency_sweep": "linear",
    # session-final additions: the multi-source unroll (k seeds ride one
    # key column — per-round work xR, rounds constant), the per-vertex
    # triangle explode (triangle count scales xR under disjoint copies),
    # and the shingle document-frequency path (vocabulary xR via replica
    # tags, the same posture DSIR stresses)
    "graph_closeness_multisource": "linear",
    "graph_local_clustering_topk": "linear",
    "text_ngram_novelty_cross_doc": "linear",
    # round-11 additions: BH-FDR is one fact shuffle + a segments×buckets
    # micro grid (segment count constant under replication); the Heaps
    # fit is explode + two map-side-combined aggs + bucketed two-phase
    # running sums over the doc-cardinality curve. (The kNN recall-audit
    # entry is deliberately NOT swept: its forced half-probe scans ~n/2
    # candidates per query BY DESIGN — audit tier, like the exhaustive
    # oracles; ann_knn_join's auto path is the swept posture.)
    "stats_bh_fdr_segments": "linear",
    "text_heaps_law_fit": "linear",
    # round-12 addition: suffix positions scale xR; replica token tags
    # keep anchor 8-grams replica-disjoint (any gram spans >= 7 tagged
    # tokens), so shared-anchor buckets — and the CAP-token suffix
    # rebuild they gate — scale xR, never xR² cross-replica.
    "dedup_longest_dup_substring": "linear",
    # the cut step shares the anchor pipeline; covered-position expansion
    # is bounded by duplicated-region mass and the reassembly is
    # array-local per doc
    "dedup_remove_duplicated_spans": "linear",
    # round-13 (verdict #3): the extraction twin — the one heavy entry
    # that had no replication row; shares _dup_survivors with the length
    # entry, span text materializes only for per-doc winners
    "dedup_dup_span_extract": "linear",
    # round-13 additions: the decontamination screen (train anchors ×
    # distinct eval grams — replica tags keep eval gram sets
    # replica-disjoint, so both sides scale xR and the join stays
    # digest-keyed) and its span-cut remedy (same machinery + the
    # covered-position cut, bounded by contaminated mass)
    "pipeline_decontaminate_eval_overlap": "linear",
    "pipeline_decontaminate_span_cut": "linear",
    # the curation capstone (top-4 heaviest entry): gate is scan-local,
    # the cut inherits the anchor pipeline's posture, accounting is a
    # micro-key aggregation — composition must not break sub-linearity
    "curate_span_cut_pipeline": "linear",
    # round-14 addition: the COMPOSED capstone (gate → dup cut + decon
    # cut as one covered-position union → accounting) — one anchor
    # explosion feeds both cover joins, the eval side is distinct gram
    # digests (xR under replica tags), the union aggregate is bounded by
    # covered mass; must inherit the span-cut capstone's posture
    "curate_full_pipeline": "linear",
}

#: Shuffle-heavy subset spanning the operator families (TPC-H joins and
#: aggregations, window, two-phase ranks, dedup/anchor Arrow pipelines,
#: graph propagation, sketch audits): the entries whose 100 TB posture
#: depends on exchanges actually spreading across cores.
CORE_QUERIES = [
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "join_sortmerge_facts",
    "window_range_frame",
    "agg_spearman_rank_correlation",
    "sort_range_equidepth_audit",
    "sort_zorder_skipping_audit",
    "agg_cms_join_size_audit",
    "agg_approx_percentile_audit",
    "text_bm25_retrieval",
    "dedup_minhash_verified",
    "dedup_minhash_estimate_audit",
    "dedup_jaccard_prefix_filter",
    "dedup_longest_dup_substring",
    "curate_span_cut_pipeline",
    "curate_full_pipeline",
    "basket_lift_rules",
    "graph_connected_components",
    "embedding_pca_power_iteration",
    "events_peak_concurrency_sweep",
]


def _replicate(
    spark: SparkSession, base: str, out: str, r: int, files: int | None = None
) -> None:
    """Write the R×-replicated corpus under ``out`` (all scales — R=1
    included — go through this writer so every scale reads the same
    storage layout and the 1× point isn't advantaged by OS cache).

    ``files`` sets each table's file count. Left unset, a table inherits
    its base's 1-3 input partitions, so a replicated table lands as 1-3
    big files that cap SCAN parallelism at 2-4 tasks whatever the core
    count (measured: q1 at 10x read flat 8 s on both 8 and 32 cpus); the
    core-scaling run writes a production-like multi-file layout instead."""

    def put(df, table: str) -> None:
        (df.repartition(files) if files else df).write.mode("overwrite").parquet(
            f"{out}/{table}.parquet"
        )

    # rep must be LONG before any shift product: rep * 100_000_000 in
    # int32 overflows at rep >= 22 (ANSI mode raises, not wraps). A
    # generator can't be cast inline, so the sequence itself is long.
    reps = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(r - 1).cast("long"))
    ).alias("rep")

    d = spark.read.parquet(f"{base}/documents.parquet").select("*", reps)
    put(
        d.select(
            (F.col("doc_id").cast("long") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.regexp_replace(
                    F.col("text"),
                    F.lit(" "),
                    F.concat(F.lit(" r"), F.col("rep").cast("string"), F.lit("_")),
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
        "documents",
    )

    e = spark.read.parquet(f"{base}/embeddings.parquet").select("*", reps)
    put(
        e.select(
            (F.col("vec_id").cast("long") + F.col("rep") * 10_000_000).alias("vec_id"),
            F.expr(
                "concat(slice(embedding, pmod(rep, size(embedding)) + 1,"
                "             size(embedding) - pmod(rep, size(embedding))),"
                "       slice(embedding, 1, pmod(rep, size(embedding))))"
            ).alias("embedding"),
            "label",
        ),
        "embeddings",
    )

    # fact keys shift per replica: order keys by 1e8, the rest by 1e7
    for table, shifts in (
        ("lineitem", {"l_orderkey": 100_000_000, "l_suppkey": 10_000_000,
                      "l_partkey": 10_000_000}),
        ("orders", {"o_orderkey": 100_000_000, "o_custkey": 10_000_000}),
    ):
        raw = spark.read.parquet(f"{base}/{table}.parquet")
        put(
            raw.select("*", reps).select(
                *[
                    (F.col(c).cast("long") + F.col("rep") * shifts[c]).alias(c)
                    if c in shifts
                    else F.col(c)
                    for c in raw.columns
                ]
            ),
            table,
        )

    # events: ids shifted AND ts shifted +rep MICROSECONDS — replicas land
    # in the same hour buckets but at distinct instants, so the sweep-line
    # point set (and per-bucket window work) scales xR instead of netting
    # replicas into the base points. Read through load_table (not raw):
    # the catalog loader normalizes the ts column across testdata
    # generations (e.g. nanos-as-long), which a raw read would corrupt.
    from spark_jdbc_limit_spark.sources.catalog import load_table as _lt

    ev = _lt(spark, base, "events").select("*", reps)
    put(
        ev.select(
            (F.col("event_id").cast("long") + F.col("rep") * 100_000_000).alias(
                "event_id"
            ),
            # raw parquet reads give TIMESTAMP_NTZ; unix_micros needs
            # TIMESTAMP. The session is UTC, so the round-trip preserves
            # the wall clock.
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp")) + F.col("rep")
            )
            .cast("timestamp_ntz")
            .alias("ts"),
            (F.col("user_id").cast("long") + F.col("rep") * 10_000_000).alias(
                "user_id"
            ),
            "event_type",
            "value",
            "props",
        ),
        "events",
    )

    for t in ("region", "nation", "customer", "supplier", "part"):
        put(spark.read.parquet(f"{base}/{t}.parquet"), t)
