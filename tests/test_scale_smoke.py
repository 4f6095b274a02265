"""Env-gated scale smoke: run the heaviest operators on a synthetically
10×-replicated corpus (documents ~5k rows → ~50k at sf0.01 gate scale;
run against sf0.1 for ~5M events / 50k docs) and assert they complete
with structure-level invariants intact.

This is NOT a correctness gate (the DuckDB differential owns that) — it
is the memory/convergence/plan-shape canary for the 100 TB story: hot
paths that secretly buffer whole partitions, quadratic pair blowups, or
non-converging loops fail HERE first, before any cluster sees them.

Run with:  SPARK_GRAFT_SCALE_SMOKE=1 python -m pytest tests/test_scale_smoke.py -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators import get_query

_SMOKE = bool(os.environ.get("SPARK_GRAFT_SCALE_SMOKE"))
REPLICAS = 10

pytestmark = pytest.mark.skipif(
    not _SMOKE, reason="set SPARK_GRAFT_SCALE_SMOKE=1 to run the 10x scale smoke"
)


@pytest.fixture(scope="module")
def big_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Replicate documents/events/embeddings REPLICAS× with shifted keys
    and deterministically mutated text (replica tag words appended), so
    replicas are near-dups of the originals — exactly the regime the
    dedup family must handle without pair-space blowup."""
    out = str(tmp_path_factory.mktemp("scale_smoke"))
    reps = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep")

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("*", reps)
    d.select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("rep"), "rep")))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select("*", reps)
    e.select(
        (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("rep") * 10_000_000).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")

    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("*", reps)
    v.select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        "embedding",
        "label",
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # the relational tables ride through unreplicated (queries under test
    # here are the documents/events/embeddings-heavy ones)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh_candidates",
        "dedup_minhash_verified",
        "dedup_connected_components",
        "dedup_passage_exact",
        "dedup_simhash",
        "text_tfidf_topk",
        "text_char_entropy",
        "events_sessionize_gap",
        "events_retention_cohorts",
        "window_range_frame",
        "ann_ivf_topk",
        "dedup_semantic_semdedup",
        "udf_scalar_iter_model_scoring",
        # round-6 additions: quadratic-risk / iterative / Arrow-partial ops
        "ann_pq_rerank_audit",
        "cluster_kmeans_lloyd_step",
        "graph_pagerank_supplier",
        "multimodal_dhash_near_dup",
        "events_decayed_value",
        "text_zipf_fit",
        # round-7 additions: iterative LPA, two-phase packing, the ANN
        # recall audits (brute-force arm + sketch arm in one plan)
        "graph_label_propagation",
        "pack_tokens_sequential",
        "ann_pq_topk",
        "graph_connected_components",
        # round-7b: prefix-join pair-space risk, skyline bucket windows,
        # posting-list retrieval
        "dedup_jaccard_prefix_filter",
        "sort_pareto_skyline",
        "text_bm25_retrieval",
        "text_bigram_perplexity",
        "ann_hybrid_rrf_fusion",
        # round-8 additions: pair-join fan-in over 10x-replicated events,
        # and the min-plus iterative twin of CC
        "events_attribution_multitouch",
        "graph_bfs_hops",
        # round-9b additions: the 32x replicate explode (bootstrap), the
        # value-domain claim of quantile normalization under 10x docs,
        # the vocabulary shuffle, and the payload-local fingerprint path.
        # (graph_jaccard_link_prediction is NOT here: lineitem rides
        # through unreplicated, and at this fixture's sf0.001 the
        # thresholded graph has 2 edges — the entry's documented
        # empty-shortlist degeneration would trip the generic n > 0
        # assert while exercising nothing the other graph rows don't.)
        "agg_poisson_bootstrap_ci",
        "pipeline_quantile_normalize_sources",
        "text_vocabulary_hapax",
        "multimodal_audio_fingerprint",
        # round-10 additions: the convergence loops under 10x volume —
        # lineitem rides through unreplicated here, so these smoke the
        # loop mechanics (rounds bounded, lineage cut per round), while
        # `bench.py --scale` measures them on the replicated graph.
        # (graph_kcore_until_settled is NOT here: at this fixture's
        # sf0.001 the thresholded graph's 3-core is legitimately EMPTY —
        # the settled entry emits surviving nodes, zero of them — the
        # same degeneration the link-prediction exclusion above notes.)
        "graph_cc_until_settled",
        "graph_lpa_until_settled",
        # round-10b additions: the DSIR vocabulary/token-stream path under
        # 10x docs, the sweep-line two-phase running sum under 10x events,
        # the anchor×corpus binary-quantization join under 10x embeddings,
        # and the weighted min-plus loop's round mechanics (lineitem rides
        # through unreplicated; graph_sssp_bellman_ford's fixed unroll is
        # covered by the until-settled twin's identical step function).
        "pipeline_dsir_importance_weights",
        "events_peak_concurrency_sweep",
        "embedding_binary_quantization_recall_audit",
        "graph_sssp_until_settled",
        # round-14: the composed capstone — its (doc_id, pos) union
        # aggregate and collect_set position sets are the round's new
        # bounded-state claims; replicas make the eval slice and the
        # duplicated-anchor mass both scale xR
        "curate_full_pipeline",
    ],
)
def test_heavy_op_survives_10x(spark, big_dir, name):
    df = get_query(name).builder(spark, big_dir)
    n = df.count()
    assert n > 0, f"{name} produced no rows at 10x"


def test_replicated_dedup_finds_cross_replica_dups(spark, big_dir):
    """Replicas ARE near-dups of their originals (one appended tag word on
    a few-hundred-word doc → jaccard ≫ 0.5), so the verified near-dup set
    at 10x must contain cross-replica pairs — the smoke that the LSH
    bands actually bucket near-identical docs together at volume."""
    pairs = get_query("dedup_minhash_verified").builder(spark, big_dir)
    cross = pairs.filter(
        (F.col("d1") % 10_000_000) == (F.col("d2") % 10_000_000)
    ).count()
    assert cross > 0


def test_semdedup_drops_cross_replica_copies(spark, big_dir):
    """Embedding replicas are bit-identical vectors under shifted vec_ids,
    so every replica lands in its original's LSH bucket at cosine exactly
    1.0 ≥ eps — the keep rule must retain at most one row per distinct
    vector (the original can itself be dropped by a true neighbor, never
    kept in duplicate). Also the many-tiny-buckets × replication shape is
    the per-group-overhead regime the mapInPandas batching exists for."""
    from spark_jdbc_limit_spark.operators.dedup import dedup_semantic_semdedup

    res = dedup_semantic_semdedup(spark, big_dir)
    agg = res.agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("kept").alias("n_kept")
    ).head()
    assert agg.n_total % REPLICAS == 0, "replication fixture changed shape"
    n_originals = agg.n_total // REPLICAS
    assert 0 < agg.n_kept <= n_originals, (
        f"kept {agg.n_kept} of {agg.n_total}: replica copies must all drop"
    )


def test_cms_cell_table_is_volume_invariant(spark, sf_dir, tmp_path_factory):
    """The point of a count-min sketch: its state is d×w cells no matter
    how much data flows in. big_dir deliberately does NOT replicate
    lineitem (the dedup family needs intact TPC-H keys), so this test
    builds its OWN 10× lineitem — rows ×10 AND distinct partkeys ×10 via
    shifted keys — runs the full audit query over it, and asserts the
    sketch invariants held at volume: every key still never
    underestimated, and the cell relation (same hash arithmetic over the
    10× key set) stayed within CMS_D * CMS_W rows."""
    from spark_jdbc_limit_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        cms_cell_structs,
    )

    out = str(tmp_path_factory.mktemp("cms_10x"))
    reps = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey", reps)
    li.select(
        (F.col("l_partkey") + F.col("rep") * 10_000_000).alias("l_partkey")
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    pdf = get_query("agg_count_min_frequency_audit").builder(spark, out).toPandas()
    base_keys = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey"
    ).distinct().count()
    assert len(pdf) == REPLICAS * base_keys  # 10x the key space, all audited
    assert (pdf["est_n"] >= pdf["exact_n"]).all()

    cells = (
        spark.read.parquet(f"{out}/lineitem.parquet")
        .select(cms_cell_structs("l_partkey").alias("x"))
        .select("x.i", "x.bucket")
        .distinct()
        .count()
    )
    assert cells <= CMS_D * CMS_W


def test_stream_ingest_gate_survives_10x(spark, big_dir):
    """The streaming ingest dedup gate run as a REAL multi-trigger
    Structured Streaming job over the 10x-replicated corpus (round-13
    verdict #4: the gate was stream==batch pinned at test scale only).
    The replicated documents.parquet is a DIRECTORY of part files, so
    maxFilesPerTrigger=1 yields several micro-batches — static-index
    re-resolution runs per trigger, the exact cost path `bench.py --levers`
    measures. Pins: stream rows == the oracle-checked batch twin's at
    10x, replicas make the near-dup probe non-vacuous, and the
    materialized-index variant (the production posture) emits the SAME
    rows as the derived-relation formulation."""
    from spark_jdbc_limit_spark.streaming import (
        materialize_corpus_index,
        run_stream_to_memory,
        stream_ingest_dedup_gate,
    )
    from tests.oracle_utils import compare_frames

    got = run_stream_to_memory(
        stream_ingest_dedup_gate(spark, big_dir), "complete"
    ).toPandas()
    want = get_query("dedup_incremental_new_batch").builder(spark, big_dir).toPandas()
    compare_frames(got, want, "10x stream ingest gate vs batch twin")
    assert got["has_near_dup_candidate"].sum() > 0

    idx = f"{big_dir}/ingest_index"
    materialize_corpus_index(spark, big_dir, idx)
    got_idx = run_stream_to_memory(
        stream_ingest_dedup_gate(spark, big_dir, index_dir=idx), "complete"
    ).toPandas()
    compare_frames(got_idx, want, "10x stream ingest gate (materialized index)")
