"""Custom stateful streaming operators (SURVEY.md §2B "stateful ops") and
the exactly-once foreachBatch sink.

``applyInPandasWithState`` is the engine's arbitrary-state primitive: per
key, an Arrow-batched pandas function folds new rows into a typed state
tuple. State lives in the state store (RocksDB/HDFS-backed on a cluster),
partitioned by key — the same scale shape as every keyed aggregation.

The foreachBatch sink routes each micro-batch through
:func:`spark_jdbc_limit_spark.sinks.write_parquet_atomic` into an
epoch-keyed directory: replays of a failed epoch overwrite the same
directory (idempotent), which upgrades at-least-once delivery to
effectively-once output — the streaming analogue of the reference's
all-or-nothing write goal (reference: ExtJdbcUtils.scala:70-109).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_jdbc_limit_spark.sources.catalog import NANOS_AS_LONG, normalize_ts

#: The stateful-stream fixtures feed a LONG-nanos ``ts`` directory (the
#: fixture normalizes whatever the catalog's events generation is back to
#: raw nanos), so this source keeps the long schema unconditionally.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

RUNNING_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_so_far", T.LongType()),
        T.StructField("total_value_cents", T.LongType()),
    ]
)
RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _fold_user_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold new events into (count, total): value is accumulated in integer
    CENTS so state totals are exact across any batch arrival order."""
    n, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events_so_far": [n], "total_value_cents": [total]}
    )


def events_file_stream(spark: SparkSession, src_dir: str, files_per_trigger: int = 1) -> DataFrame:
    spark.conf.set(NANOS_AS_LONG, "true")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )
    return normalize_ts(raw, T.LongType())


def stream_user_running_totals(spark: SparkSession, src_dir: str) -> DataFrame:
    """Per-user running (count, total) via applyInPandasWithState — emits
    one updated row per user per micro-batch."""
    ev = events_file_stream(spark, src_dir)
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _fold_user_state,
            RUNNING_OUTPUT_SCHEMA,
            RUNNING_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


try:  # Spark ≥ 4.0 arbitrary-state API
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
except ImportError:  # pragma: no cover — older Spark keeps the legacy path only
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = None  # type: ignore[assignment]


def transform_with_state_available() -> bool:
    """True when ``transformWithStateInPandas`` can actually run:
    the API exists AND the ``protobuf`` package is importable — Spark's
    TransformWithState Python driver worker speaks a protobuf-framed
    state-server protocol and crashes at query start without it."""
    import importlib.util

    if StatefulProcessorHandle is None:
        return False
    try:
        # find_spec imports the parent package, which may itself be absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


class RunningTotalsProcessor(StatefulProcessor):
    """transformWithState twin of :func:`_fold_user_state`: per-user
    (count, cents-total) in a named ValueState. Same integer-cents
    accumulation, so both implementations converge to the identical batch
    ground truth regardless of micro-batch arrival order."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("totals", RUNNING_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, total = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            total += int((pdf["value"] * 100).round().astype("int64").sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_so_far": [n], "total_value_cents": [total]}
        )

    def close(self) -> None:
        pass


def stream_user_running_totals_tws(spark: SparkSession, src_dir: str) -> DataFrame:
    """Per-user running totals on Spark 4's ``transformWithStateInPandas``
    (the successor of ``applyInPandasWithState``: named state variables,
    timers, TTL, and an evolvable StatefulProcessor lifecycle). Semantics
    and output schema are identical to :func:`stream_user_running_totals`;
    the converge-to-batch test drives both (skipping this path where
    ``protobuf`` is unavailable — check
    :func:`transform_with_state_available` first; Spark's TWS Python
    driver worker needs it). transformWithState requires the RocksDB
    state store provider — the production-scale choice anyway
    (incremental checkpoints, state larger than executor memory)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = events_file_stream(spark, src_dir)
    return ev.groupBy("user_id").transformWithStateInPandas(
        RunningTotalsProcessor(),
        RUNNING_OUTPUT_SCHEMA,
        "Update",
        "None",
    )


def run_stream_foreach_batch_atomic(
    stream_df: DataFrame, target: str, checkpoint: str
) -> None:
    """Drive a (finite) stream into epoch-keyed atomic parquet publishes."""
    from spark_jdbc_limit_spark.sinks import write_parquet_atomic

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # overwrite per epoch → a retried epoch replaces, never duplicates
        write_parquet_atomic(batch_df, f"{target}/epoch={epoch_id}", mode="overwrite")

    q = (
        stream_df.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- CDC latest-state keeper (streaming twin of cdc_upsert_latest) ---------
LATEST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_type", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)
LATEST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("etype", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _fold_latest_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keep only the (ts, event_id)-max row per key — the streaming CDC
    upsert. State is one fixed-size tuple per key (bounded regardless of
    stream length, unlike buffering approaches), and the version order
    (ts, then event_id) is identical to the batch twin's ``max_by``
    struct comparison, so any arrival order converges to the same row."""
    cur = state.get if state.exists else None
    for pdf in pdfs:
        if not len(pdf):
            continue
        # normalize to MICROseconds regardless of the datetime64 unit
        # pandas hands over (ns today; the int64 view of ns would be 1000x
        # the last_ts_us contract)
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        best = pdf.assign(__ts_us=ts_us).sort_values(["__ts_us", "event_id"]).iloc[-1]
        cand = (
            int(best["__ts_us"]),
            int(best["event_id"]),
            str(best["event_type"]),
            float(best["value"]),
        )
        if cur is None or (cand[0], cand[1]) > (cur[0], cur[1]):
            cur = cand
    if cur is not None:
        state.update(cur)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [cur[1]],
                "last_ts_us": [cur[0]],
                "last_type": [cur[2]],
                "last_value": [cur[3]],
            }
        )


def stream_user_latest_state(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming CDC compaction: per-user latest row via
    applyInPandasWithState (the streaming twin of the batch
    ``cdc_upsert_latest`` registry query — same (ts, event_id) version
    order, converges to the identical result for any micro-batch split)."""
    ev = events_file_stream(spark, src_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _fold_latest_state,
        LATEST_OUTPUT_SCHEMA,
        LATEST_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
