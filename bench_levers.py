"""Lever scenarios for ``bench.py --levers``: targeted A/B experiments
whose rows land in BENCH_SCALE.json's ``levers`` map (the
``chain_cc_rounds_per_check`` row is the round-12 precedent).

Each lever builds its corpus and returns ``(facts, arms, fast)``: the
row's fixed facts, the two arms (name → zero-argument builder, in
alternation order), and the arm whose speedup the row reports. bench.py
first checks that both arms return the same rows on that corpus (the
lemma a lever relies on must hold on the shape being timed, not just on
the shipped corpora), then times the arms in alternating passes in ONE
session (machine-days on a shared VM differ 1.2-1.5x — never A/B across
sessions).

Round-13 lever — ``suffix_adjacency_hot_boilerplate`` (round-12 verdict
#4): at sf0.1 the suffix-dedup adjacency plan TIES its exhaustive
all-pairs-within-bucket twin (BASELINE_TOP20: 1.02x/1.00x) because anchor
buckets hold only 2-7 suffixes — the plan's claimed advantage (quadratic
pair blowup on hot boilerplate anchors) had no measured demonstration.
This synthesizes exactly that shape: one fixed 50-token licence block
injected into ~30% of the sf0.01 documents (deterministic by doc_id, no
randomness — scripts here must stay replayable), so every anchor inside
the block lands its bucket one suffix PER INJECTED DOC. With ~1.8k
injected docs, the exhaustive twin pushes ~bucket² ≈ 3.4M pairs per block
anchor through the LCP fold while the adjacency plan windows ~bucket rows.

Round-14 lever — ``stream_ingest_static_index``: see its function.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.dedup import (
    DUP_ANCHOR_L,
    _dup_survivors,
    longest_dup_substring_frame,
)
from spark_jdbc_limit_spark.sources.catalog import load_table

#: The injected block: 50 distinct pseudo-legal tokens, no collision with
#: the corpus vocabulary (``lic##`` prefix), so every duplicated run it
#: creates is attributable to the injection.
LICENSE_BLOCK = " ".join(f"lic{i:02d}" for i in range(50))
#: Injection rate ~30% via doc_id decile (deterministic, engine-exact).
INJECT_DECILES = 3
#: Insert after this many leading tokens (docs shorter than this get the
#: block appended) — mid-document, so the block's anchors coexist with
#: the doc's own text on both sides.
INJECT_AT = 5


def _boilerplate_corpus(spark, base: str):
    d = load_table(spark, base, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    injected = F.concat_ws(
        " ",
        F.array_join(F.slice(w, 1, INJECT_AT), " "),
        F.lit(LICENSE_BLOCK),
        F.array_join(
            F.slice(w, INJECT_AT + 1, F.greatest(F.size(w) - INJECT_AT, F.lit(0))),
            " ",
        ),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < INJECT_DECILES, injected)
        .otherwise(F.col("text"))
        .alias("text"),
    )


def lever_suffix_adjacency(spark, base: str, work: str):
    """The round-13 hot-boilerplate A/B (docstring above): suffix-dedup
    adjacency plan vs its exhaustive all-pairs twin on a corpus with a
    genuinely hot anchor bucket."""
    from bench_baseline import naive_longest_dup_substring

    # materialize the synthetic corpus once (both arms read the same
    # parquet, like the scale bench's replicated corpora)
    path = f"{work}/boilerplate.parquet"
    _boilerplate_corpus(spark, base).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    # bucket-shape evidence: the injected block must actually create hot
    # anchor buckets (size ~= n_injected), or the lever measures nothing
    bstats = (
        _dup_survivors(docs)
        .groupBy("ah")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.max("n").alias("max_bucket"),
            F.avg("n").alias("avg_bucket"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .collect()[0]
    )
    arms = {
        "adjacency": lambda: longest_dup_substring_frame(docs),
        "exhaustive": lambda: naive_longest_dup_substring(spark, base, docs=docs),
    }
    facts = {
        "corpus": base,
        "n_docs": docs.count(),
        "n_injected": docs.filter(F.col("text").contains("lic00")).count(),
        "block_tokens": len(LICENSE_BLOCK.split()),
        "anchor_l": DUP_ANCHOR_L,
        "max_bucket": bstats["max_bucket"],
        "avg_bucket": round(bstats["avg_bucket"], 2),
        "n_buckets": bstats["n_buckets"],
        "note": (
            "one 50-token licence block injected into ~30% of sf0.01 docs "
            "(deterministic by doc_id decile): block anchors bucket one "
            "suffix per injected doc, so the exhaustive twin generates "
            "~bucket^2 LCP pairs per block anchor while the adjacency "
            "plan windows ~bucket rows; arms verified value-identical on "
            "this corpus before timing, alternating reps in one session"
        ),
    }
    return facts, arms, "adjacency"


#: Part-file count for the streaming-ingest lever's corpus: with
#: maxFilesPerTrigger=1 this is the micro-batch count, so the derived
#: arm re-resolves (recomputes) the corpus digest/band index this many
#: times while the materialized arm re-reads two small parquet files.
INGEST_STREAM_FILES = 6


def lever_stream_ingest_static_index(spark, base: str, work: str):
    """Round-13 verdict #4's missing scale row: the streaming ingest
    gate's per-trigger static-index re-resolution cost. The gate's
    static sides (corpus content digests + distinct band buckets) are
    re-resolved EVERY micro-batch; formulated as derivations over the
    corpus table that means recomputing md5 + minhash over the whole
    corpus per trigger — cost grows with corpus size × trigger count.
    The production posture (``materialize_corpus_index``) maintains the
    index as parquet, so re-resolution is a footer read + scan of two
    benchmark-of-corpus-digest-sized relations. Both arms run the REAL
    multi-trigger Structured Streaming job (maxFilesPerTrigger=1 over an
    {INGEST_STREAM_FILES}-part corpus)."""
    from spark_jdbc_limit_spark.streaming import (
        materialize_corpus_index,
        run_stream_to_memory,
        stream_ingest_dedup_gate,
    )

    # corpus as a directory of part files → one micro-batch per file
    corpus = f"{work}/ingest_corpus"
    load_table(spark, base, "documents").repartition(INGEST_STREAM_FILES).write.mode(
        "overwrite"
    ).parquet(f"{corpus}/documents.parquet")
    idx = f"{corpus}/index"
    materialize_corpus_index(spark, corpus, idx)
    arms = {
        "derived": lambda: run_stream_to_memory(
            stream_ingest_dedup_gate(spark, corpus), "complete"
        ),
        "materialized": lambda: run_stream_to_memory(
            stream_ingest_dedup_gate(spark, corpus, index_dir=idx), "complete"
        ),
    }
    facts = {
        "corpus": base,
        "n_docs": spark.read.parquet(f"{corpus}/documents.parquet").count(),
        "n_stream_files": INGEST_STREAM_FILES,
        "note": (
            "real multi-trigger availableNow run of the ingest dedup gate "
            "(one micro-batch per part file): the derived arm recomputes "
            "the corpus digest/band-bucket index per trigger, the "
            "materialized arm re-reads the maintained parquet index — the "
            "per-trigger re-resolution cost is the difference / trigger "
            "count, and it is the term that grows with corpus size at "
            "fixed trigger cadence; arms verified row-identical first, "
            "alternating reps in one session"
        ),
    }
    return facts, arms, "materialized"


LEVERS = {
    "suffix_adjacency_hot_boilerplate": lever_suffix_adjacency,
    "stream_ingest_static_index": lever_stream_ingest_static_index,
}
