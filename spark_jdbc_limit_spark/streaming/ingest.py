"""Streaming ingest-time dedup gate (SURVEY.md §2B "streaming" × the
LLM-dedup north star; no reference analogue — the reference is batch-only
JDBC plumbing, /root/reference/README.md:1-9).

The batch twin is ``dedup_incremental_new_batch`` (operators/dedup.py):
a newly arrived document batch is screened against the STANDING corpus —
exact content-digest probe + minhash band-bucket near-dup probe — without
ever re-deduplicating the corpus against itself. This module runs the
SAME semantics as a real Structured Streaming job, the shape a 100 TB
pipeline actually deploys (dedup on ingest, not as a periodic batch over
the accumulated corpus):

- the incoming documents are a FILE-SOURCE STREAM (at production scale:
  the crawl landing bucket), micro-batch by micro-batch;
- the corpus digest set and the corpus's DISTINCT band-bucket keys are
  STATIC relations — the materialized index an ingest pipeline maintains
  (re-resolved per trigger, so an index refresh between triggers is
  picked up automatically);
- both probes are stream-static LEFT joins (stateless — no watermark
  needed, no stream-stream pairing), and the per-document verdict is a
  two-flag aggregation in complete mode.

Why the union+aggregate shape instead of the batch twin's two marker
joins onto the batch relation: the twin joins the batch against two
relations DERIVED FROM ITSELF, which in streaming would be a
stream-stream self-join (needs event time + watermarks that documents
don't have). Unioning the two probes' flag rows and taking per-doc MAX
is the same result with only stream-static joins and one aggregation.

tests/test_streaming.py::test_ingest_dedup_gate_stream_matches_batch
pins the stream's rows EQUAL to the oracle-checked batch twin's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_jdbc_limit_spark.operators.dedup import (
    INCR_BATCH_MOD,
    corpus_probe_index,
    minhash_band_buckets,
)
from spark_jdbc_limit_spark.sources.catalog import load_table


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the 'newly crawled
    docs' side of the ingest gate). Schema is derived from one batch
    footer read via ``load_table`` (round-13 advice: a hardcoded
    StructType would break the stream — while the schema-inferring batch
    path kept working — if a regenerated corpus changed a physical type,
    the way events.ts has drifted across harness generations; see
    sources/catalog.py)."""
    import os

    schema = T.StructType(
        [
            f
            for f in load_table(spark, sf_dir, "documents").schema.fields
            if f.name in ("doc_id", "text", "lang", "source", "n_chars")
        ]
    )
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        # Spark-written corpus (the 10x replication smoke, production
        # landing buckets): documents.parquet is a DIRECTORY of part
        # files — stream the directory itself; maxFilesPerTrigger=1 then
        # yields one micro-batch per part file, exactly the multi-trigger
        # shape whose per-trigger cost the ingest lever measures
        return reader.parquet(path)
    # harness-generated corpus: a single file next to the other tables
    return reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)


def materialize_corpus_index(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Write the standing corpus's dedup index — distinct content digests
    and distinct minhash band buckets — as two parquet relations. This is
    the index a production ingest pipeline MAINTAINS (appending each
    accepted batch's digests/buckets): the gate's static sides then
    re-resolve per trigger as a cheap parquet scan instead of recomputing
    digest + minhash over the WHOLE corpus every micro-batch, which is
    the part of the derived-relation formulation whose cost grows with
    corpus size (measured by the ``stream_ingest_static_index`` lever,
    ``bench.py --levers``)."""
    digests, bands = corpus_probe_index(load_table(spark, sf_dir, "documents"))
    digests.write.mode("overwrite").parquet(f"{out_dir}/digests.parquet")
    bands.write.mode("overwrite").parquet(f"{out_dir}/bands.parquet")


def stream_ingest_dedup_gate(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> DataFrame:
    """Per newly-ingested document (the deterministic doc_id % 5 == 0
    slice of the stream, ``INCR_BATCH_MOD``): ``is_exact_dup`` (its
    content digest exists in the standing corpus) and
    ``has_near_dup_candidate`` (any of its minhash band buckets is
    occupied by the corpus). Same flags, same integer arithmetic, same
    survivor semantics as the batch twin — the probes cost
    O(new docs × bucket lookups), never corpus².

    ``index_dir``: a ``materialize_corpus_index`` output — the static
    probe sides become parquet scans of the maintained index (the
    production posture at 100 TB: per-trigger static re-resolution costs
    a footer read + pruned scan, independent of corpus text volume).
    Default None derives both relations from the corpus table in-plan —
    identical rows (pinned by tests/test_streaming.py), re-derived per
    trigger."""
    incoming = documents_stream(spark, sf_dir).filter(
        F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == 0
    )
    if index_dir is not None:
        cmd5 = spark.read.parquet(f"{index_dir}/digests.parquet")
        cbands = spark.read.parquet(f"{index_dir}/bands.parquet")
    else:
        cmd5, cbands = corpus_probe_index(load_table(spark, sf_dir, "documents"))
    exact_rows = (
        incoming.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
        )
        .join(cmd5.withColumn("e_hit", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            F.coalesce("e_hit", F.lit(0)).alias("e"),
            F.lit(0).alias("n"),
        )
    )
    near_rows = (
        minhash_band_buckets(incoming, spread=False)
        .join(cbands.withColumn("n_hit", F.lit(1)), ["band_id", "band_hash"], "left")
        .select(
            "doc_id",
            F.lit(0).alias("e"),
            F.coalesce("n_hit", F.lit(0)).alias("n"),
        )
    )
    return (
        exact_rows.unionByName(near_rows)
        .groupBy("doc_id")
        .agg(
            F.max("e").cast("int").alias("is_exact_dup"),
            F.max("n").cast("int").alias("has_near_dup_candidate"),
        )
    )


def stream_decontamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-overlap decontamination screen run AT INGEST TIME — the
    other half of the curation-on-arrival story (the dedup gate above):
    each micro-batch of incoming training documents is screened against
    the held-out eval set's 8-gram digests BEFORE it enters
    the corpus, so a leaked benchmark passage never needs a corpus-wide
    retroactive sweep. Semantics are EXACTLY the batch entry
    ``pipeline_decontaminate_eval_overlap`` (same anchors, same
    11-slice, same flags) — pinned stream==batch by
    tests/test_streaming.py.

    Plan: the incoming side explodes to (doc_id, gram-digest) rows
    map-locally; the eval side is a STATIC distinct-digest relation
    (benchmark-bounded — in production the maintained index, broadcast
    onto every micro-batch); one stream-static LEFT join + a per-doc
    aggregation in complete mode. Stateless probes, no watermark, no
    stream-stream pairing — the same shape that lets the dedup gate run
    at 100 TB ingest rates."""
    from spark_jdbc_limit_spark.operators.dedup import _dup_anchors
    from spark_jdbc_limit_spark.operators.pipeline import DECON_EVAL_MOD

    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    incoming = documents_stream(spark, sf_dir).filter(~is_eval)
    _, tr_anchors = _dup_anchors(incoming)
    ev_grams = (
        _dup_anchors(load_table(spark, sf_dir, "documents").filter(is_eval))[1]
        .select("ah")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tr_anchors.join(ev_grams, "ah", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contaminated"),
            F.max(F.coalesce("hit", F.lit(0))).cast("int").alias("is_contaminated"),
        )
    )
