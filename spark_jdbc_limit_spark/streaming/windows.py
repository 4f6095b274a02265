"""Streaming window operators over the events table.

Scale design: every aggregation is keyed (window × event_type or user_id) —
state is bounded by the watermark, which evicts windows older than the
lateness bound; ``dropDuplicatesWithinWatermark`` keeps only in-horizon
keys. On a real cluster these run against a Kafka/file-drop source with
the same code — the source swap is one line.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with a proper event-time
    TimestampType column. A stream source needs an explicit schema: it
    reads with the catalog's memoized events schema and normalizes ``ts``
    as the batch load does (``sources.catalog.normalize_ts``).
    """
    from spark_jdbc_limit_spark.sources.catalog import normalize_ts, table_schema

    schema = table_schema(spark, sf_dir, "events")
    # File-stream sources need a DIRECTORY; select the events file by glob.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw, schema["ts"].dataType)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type, 10-minute watermark."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute length, 5-minute slide."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user: 30-minute inactivity gap. The only
    streaming op with MERGING state (sessions coalesce as events arrive)."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows (SPARK-36465) as a STREAM: the same
    per-event-type gap expression as the batch entry
    ``events_session_dynamic_gap`` — merging state where each arriving
    event extends its session by its OWN duration, the policy shape
    product sessionization actually runs."""
    from spark_jdbc_limit_spark.operators.windowed_events import (
        DYN_GAP_LONG,
        DYN_GAP_MED,
        DYN_GAP_SHORT,
    )

    ev = events_stream(spark, sf_dir)
    gap = (
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            F.lit(f"{DYN_GAP_LONG} minutes"),
        )
        .when(F.col("event_type") == "error", F.lit(f"{DYN_GAP_SHORT} minutes"))
        .otherwise(F.lit(f"{DYN_GAP_MED} minutes"))
    )
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) with watermark-bounded state."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def run_stream_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion against its (finite) file
    source via a memory sink; returns a batch DataFrame of the results."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_enriched_with_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of events joins the static
    customer dimension (broadcast — the stream side never shuffles).
    Static side is re-resolved per batch, so a dim refresh between
    triggers is picked up automatically; no watermark needed because the
    join is stateless (inner, static right side)."""
    from spark_jdbc_limit_spark.sources.catalog import load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "segment", F.round("value", 2).alias("value_r")
    )


def stream_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — the last major Structured Streaming
    primitive: views buffered in state pair with the same user's clicks
    arriving within the attribution window. BOTH sides carry watermarks
    and the join condition bounds event time in BOTH directions, which is
    what lets Spark evict state (an unbounded-time stream-stream join
    would buffer forever). State size ≈ one watermark-horizon of each
    side per user — bounded regardless of stream length, the property
    that keeps this runnable against a 100 TB/day feed."""
    from spark_jdbc_limit_spark.operators.windowed_events import ATTRIBUTION_WINDOW_MIN

    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", f"{ATTRIBUTION_WINDOW_MIN} minutes")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        # watermark delay derived from the SAME constant as the join bound:
        # a wider attribution window must also widen state retention, or
        # multi-batch runs silently drop matches the batch twin keeps
        .withWatermark("c_ts", f"{ATTRIBUTION_WINDOW_MIN} minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user_id
            AND c_ts >= v_ts
            AND c_ts <= v_ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} minutes
            """
        ),
    )
    return joined.select(
        "view_id",
        "click_id",
        "user_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )


def stream_view_click_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: like stream_view_click_join, but a
    view with no click inside the attribution window is still emitted —
    with NULL click columns — once the click-side watermark passes the
    window's end and Spark can PROVE no match is coming. That proof is
    the whole trick: outer results are held back exactly one
    watermark-horizon, then released; without both watermarks and the
    two-sided time bound the unmatched rows could never be finalized.
    The batch twin (events_view_click_unattributed) pins the row set."""
    from spark_jdbc_limit_spark.operators.windowed_events import ATTRIBUTION_WINDOW_MIN

    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", f"{ATTRIBUTION_WINDOW_MIN} minutes")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{ATTRIBUTION_WINDOW_MIN} minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user_id
            AND c_ts >= v_ts
            AND c_ts <= v_ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} minutes
            """
        ),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        "click_id",
        "user_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )


def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the d×w cell relation of
    ``operators/sketches.py::agg_count_min_frequency_audit``, maintained
    incrementally over the event stream (keys = user_id). CMS cells are
    plain sums, so the streaming aggregate IS the sketch — state is
    bounded by d·w cells no matter how long the stream runs, the
    canonical fixed-memory frequency tracker for an unbounded stream.
    The stream==batch test pins mergeability: cells accumulated
    trigger-by-trigger equal cells computed over the data at rest."""
    from spark_jdbc_limit_spark.operators.sketches import cms_cell_structs

    ev = events_stream(spark, sf_dir).filter(F.col("user_id").isNotNull())
    hb = cms_cell_structs("user_id").alias("hb")
    return (
        ev.select(hb)
        .select("hb.i", "hb.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


#: Fingerprint canonical columns for the event stream — the streaming
#: twin of operators/aggregates.py::agg_table_fingerprint (customer).
FP_EVENT_COLS = ["CAST(event_id AS STRING)", "CAST(user_id AS STRING)", "event_type"]


def stream_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming table fingerprint: the XOR / modular-sum / count
    channels of ``agg_table_fingerprint``, maintained incrementally per
    event_type. All three channels are commutative-monoid folds, so the
    streaming aggregate IS the fingerprint — state is one 24-byte row
    per group no matter how long the stream runs, which is what makes
    continuous replication verification (fingerprint the stream as it
    lands, compare against the source table's fingerprint on any
    schedule) a constant-memory operation. The stream==batch test pins
    that trigger-by-trigger accumulation equals the at-rest fold."""
    from spark_jdbc_limit_spark.operators.aggregates import _FP_SUM_MOD, _fp_rowhash_sql

    h, poly = _fp_rowhash_sql(FP_EVENT_COLS)
    ev = events_stream(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return (
        ev.select("event_type", F.expr(h).alias("h"))
        .select("event_type", F.expr(poly).alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(v)").alias("xor_fp"),
            F.sum(F.col("v") % _FP_SUM_MOD).alias("sum_fp"),
        )
    )


def stream_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user feature store: the SAME conditional-aggregation
    body as the batch reshape_user_feature_matrix entry (imported, not
    copied), running as a complete-mode streaming aggregation — each
    trigger updates every user's fixed-width feature row. State is one
    row per user (bounded by the entity universe, not the stream); on a
    real cluster this is the online half of a feature store, and the
    stream==batch pin in tests/test_streaming.py is exactly the
    online/offline consistency check feature platforms audit."""
    from spark_jdbc_limit_spark.operators.advanced import user_feature_agg

    return user_feature_agg(events_stream(spark, sf_dir))
