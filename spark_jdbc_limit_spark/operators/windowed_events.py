"""Batch twins of the streaming window operators (SURVEY.md §2B
"streaming", build plan M4): identical window semantics expressed in batch
mode so the DuckDB oracle can verify them. tests/test_streaming.py
additionally proves the REAL streams (streaming/windows.py) produce the
same rows as these twins on the same files.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import round_dbl, sql_round_dbl
from spark_jdbc_limit_spark.sources.catalog import load_table

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "events_tumbling_windows",
    category="streaming",
    description="Tumbling 5-minute windows per event type (batch twin)",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{TS_FMT_DUCK}') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def events_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("window.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_windows",
    category="streaming",
    description="Sliding windows: 10-minute length, 5-minute slide (batch twin)",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL '5 minutes', ts) - (k * INTERVAL '5 minutes'),
                        '{TS_FMT_DUCK}') AS window_start,
               COUNT(*) AS n_events
        FROM events, UNNEST([0, 1]) AS t(k)
        GROUP BY 1
        ORDER BY 1
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A row falls in length/slide = 2 overlapping windows; Spark expands
    rows internally (Expand node) — the oracle does the same with UNNEST."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("window.start", TS_FMT_SPARK).alias("window_start"),
            "n_events",
        )
        .orderBy("window_start")
    )


@query(
    "events_session_windows",
    category="streaming",
    description="Session windows per user, 30-minute gap (batch twin)",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), islands AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM ordered
        )
        SELECT strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
               strftime(MAX(ts) + INTERVAL '30 minutes', '{TS_FMT_DUCK}') AS session_end,
               user_id,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window in batch mode — sessions close after 30 idle minutes;
    window.end = last event + gap (same convention as the oracle's
    gaps-and-islands formulation)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("session_window.start", TS_FMT_SPARK).alias("session_start"),
            F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
            "user_id",
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "events_dedup_keys",
    category="streaming",
    description="Dedup on (user_id, event_type) — batch twin of streaming dedup",
    oracle="""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type
    """,
)
def events_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct().orderBy("user_id", "event_type")


@query(
    "events_enrich_dim_join",
    category="streaming",
    description="Events enriched with the customer dimension (batch twin of the stream-static join)",
    oracle="""
        SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
               ROUND(e.value, 2) AS value_r
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        ORDER BY e.event_id
    """,
)
def events_enrich_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment of the event stream, batch mode. The streaming
    twin (streaming/windows.py::stream_enriched_with_dim) runs the SAME
    join per micro-batch with the dim broadcast — the standard pattern for
    attaching slowly-changing reference data to a 100 TB/day stream
    without shuffling the stream side."""
    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "segment", F.round("value", 2).alias("value_r")
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, in microseconds


@query(
    "events_sessionize_gap",
    category="streaming",
    description="Batch gap-based sessionization: 30-min inactivity splits sessions",
    oracle=f"""
        WITH o AS (
            SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, us,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
            FROM o
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(us) AS start_us,
               MAX(us) AS end_us,
               MAX(us) - MIN(us) AS duration_us
        FROM s
        GROUP BY user_id, session_id
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic event-stream sessionization, in batch: a session breaks
    after 30 minutes of inactivity; session ids are a running sum of break
    flags. Two window passes + one aggregate, all on the SAME partition
    key (user_id) — Catalyst plans ONE exchange and reuses its
    partitioning for both windows and the final groupBy, which is the
    shape that matters at 100 TB (users ≫ cores, so no skew; state never
    leaves the executor). Integer microsecond arithmetic end to end so
    the DuckDB twin is bit-exact (timestamps are NTZ; session pins UTC)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > SESSION_GAP_US), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        ev.select("user_id", "event_id", "ts", us.alias("us"), brk.alias("brk"))
        .select("user_id", "us", F.sum("brk").over(run).alias("session_id"))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


ATTRIBUTION_WINDOW_MIN = 10


@query(
    "events_view_click_attribution",
    category="streaming",
    description=f"View→click attribution join within {ATTRIBUTION_WINDOW_MIN} min (batch twin of the stream-stream join)",
    oracle=f"""
        SELECT v.event_id AS view_id,
               c.event_id AS click_id,
               v.user_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        FROM events v
        JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} minutes
    """,
)
def events_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution join every event pipeline runs: each view pairs
    with the same user's clicks in the next N minutes. Equi-key on
    user_id (hash join) with the time range as a post-join predicate —
    never a cross join. This is the batch twin of
    streaming/windows.py::stream_view_click_join, whose stream-stream
    state is exactly this join with watermark-bounded buffers;
    tests/test_streaming.py pins stream == batch row sets."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("v_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    win_us = ATTRIBUTION_WINDOW_MIN * 60 * 1_000_000
    return (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_us") >= F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + win_us),
        )
        .select(
            "view_id",
            "click_id",
            "user_id",
            (F.col("c_us") - F.col("v_us")).alias("lag_us"),
        )
    )


@query(
    "events_gapfill_locf",
    category="window_events",
    description="Hourly rollup with dense gap-fill (zero counts) + LOCF of avg value",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   FLOOR(AVG(value) * 10000.0 + 0.5) / 10000.0 AS avg_value
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type,
                   unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
                       AS bucket
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN bounds b
        )
        SELECT s.event_type, s.bucket,
               COALESCE(h.n_events, 0) AS n_events,
               LAST_VALUE(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.bucket
                   ROWS UNBOUNDED PRECEDING
               ) AS value_locf
        FROM spine s
        LEFT JOIN hourly h
            ON s.event_type = h.event_type AND s.bucket = h.bucket
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification — the hypertable/ticker rollup pattern:
    hourly aggregate, then a DENSE time spine so silent hours appear as
    zero-count rows, then LOCF so each gap row carries the latest
    observed hourly average forward (dashboards and ML feature frames
    both need the dense grid, not the sparse raw rollup).

    Scale shape: the raw scan collapses in ONE partial-aggregated hash
    agg to (type, hour) — at 100 TB the post-agg relation is
    buckets × types (thousands of rows per year), so everything after
    the first shuffle is micro-data. The spine is declarative —
    ``sequence(min_hour, max_hour, 1 hour)`` exploded against the
    distinct-types relation, both 1-row/5-row broadcasts, never a
    driver-side range loop — and the gap join + LOCF window run on the
    micro relation. Bucket boundary rule: aggregate THEN densify;
    densifying the raw stream first would explode the scan."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.floor(F.avg("value") * 10000.0 + F.lit(0.5)) / 10000.0
        ).alias("avg_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    filled = spine.join(hourly, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
    )


BOT_RATE_MULT = 1.2  #: flag users above this multiple of the median rate
BOT_MIN_EVENTS = 20  #: rate is meaningless on tiny samples


@query(
    "events_bot_rate_screen",
    category="window_events",
    description=f"Bot/abuse screen: sustained per-user event rate, flagged at >{BOT_RATE_MULT}x the median rate over ≥{BOT_MIN_EVENTS} events",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   epoch(MAX(ts)) - epoch(MIN(ts)) AS span_sec
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT user_id, n_events, span_sec,
                   CASE WHEN span_sec > 0
                        THEN n_events * 60.0 / span_sec END AS rate
            FROM u
        ),
        med AS (SELECT quantile_cont(rate, 0.5) AS m FROM r)
        SELECT user_id, n_events,
               {sql_round_dbl('span_sec', 1)} AS active_span_sec,
               {sql_round_dbl('rate', 4)} AS events_per_min,
               CAST(CASE WHEN n_events >= {BOT_MIN_EVENTS}
                          AND rate > {BOT_RATE_MULT} * med.m
                         THEN 1 ELSE 0 END AS INT) AS flagged
        FROM r CROSS JOIN med
    """,
)
def events_bot_rate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abuse/bot screening — the first data-quality pass on any
    behavioral corpus headed for training: per user, the SUSTAINED
    event rate (events per minute over the user's full active span),
    flagged when it exceeds 1.2× the corpus MEDIAN rate
    (over ≥20 events; single-instant users are unrated).
    The threshold is corpus-ADAPTIVE, not absolute — the same design
    lesson as the triangle edge cut (graph.py): any constant
    events/minute bar that catches bots at one traffic level is
    vacuous or catastrophic at another, while 'well above the typical
    user' survives scale-up. Plan: ONE partial-aggregated hash pass
    collapses the stream to user cardinality (min/max/count all
    re-aggregatable); the median is an exact percentile over that
    micro relation, broadcast back as a one-row threshold — at 100 TB
    the whole screen costs a scan plus user-cardinality work. Flagged
    users feed dedup/sampling as a broadcast anti-join exclusion list
    (the decontaminate shape). Flag-boundary margins: rates are
    continuous and no user sits at the multiplier boundary on shipped
    SFs (flag counts 1/8/97 at sf0.001/0.01/0.1 — non-vacuous at
    every scale)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts").cast("double") - F.min("ts").cast("double")).alias(
            "span_sec"
        ),
    )
    r = u.select(
        "user_id",
        "n_events",
        "span_sec",
        F.when(
            F.col("span_sec") > 0, F.col("n_events") * 60.0 / F.col("span_sec")
        ).alias("rate"),
    )
    med = r.agg(F.expr("percentile(rate, 0.5)").alias("m"))
    return r.crossJoin(F.broadcast(med)).select(
        "user_id",
        "n_events",
        round_dbl(F.col("span_sec"), 1).alias("active_span_sec"),
        round_dbl(F.col("rate"), 4).alias("events_per_min"),
        F.when(
            (F.col("n_events") >= BOT_MIN_EVENTS)
            & (F.col("rate") > BOT_RATE_MULT * F.col("m")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("flagged"),
    )


DECAY_HALFLIFE_DAYS = 7.0  #: recency half-life for the decayed-value score


@query(
    "events_decayed_value",
    category="window_events",
    description=f"Per-user exponentially time-decayed value ({DECAY_HALFLIFE_DAYS:g}-day half-life) vs raw total",
    oracle=f"""
        WITH ref AS (SELECT MAX(ts) AS tmax FROM events)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_round_dbl('SUM(value)', 4)} AS raw_value,
               {sql_round_dbl(
                   'SUM(value * POWER(0.5,'
                   ' (epoch(ref.tmax) - epoch(ts)) / 86400.0'
                   f' / {DECAY_HALFLIFE_DAYS}))', 4)} AS decayed_value
        FROM events CROSS JOIN ref
        GROUP BY user_id
    """,
)
def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value — the time-decay aggregate behind
    engagement scores, decayed LTV, and freshness-weighted training
    mixes: each event's value contributes value · 0.5^(age/half-life),
    with age measured in days back from the corpus watermark (MAX ts —
    a one-row broadcast, so the score is reproducible rather than
    wall-clock-dependent). One scan, one partial-aggregated hash
    aggregate per user; the decay factor is computed per row in codegen
    (no window, no self-join), so at 100 TB this costs exactly what a
    plain SUM does, plus a pow() per row. Epoch seconds are extracted
    with fractional precision in BOTH engines (timestamp→double cast /
    epoch()), so decay exponents are identical doubles; libm pow may
    differ in the last ulp across engines, absorbed by the 1e-4 display
    round like every float score here."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("tmax"))
    age_days = (
        F.col("tmax").cast("double") - F.col("ts").cast("double")
    ) / 86400.0
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_dbl(F.sum("value"), 4).alias("raw_value"),
            round_dbl(
                F.sum(
                    F.col("value")
                    * F.pow(F.lit(0.5), age_days / DECAY_HALFLIFE_DAYS)
                ),
                4,
            ).alias("decayed_value"),
        )
    )


EWMA_LAGS = 8  #: finite EWMA horizon (weights 0.5^j, j < EWMA_LAGS)


@query(
    "events_ewma_hourly",
    category="window_events",
    description=f"EWMA smoothing of hourly event counts ({EWMA_LAGS}-lag horizon, decay 0.5) per event type",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, bucket, n_events,
                   {", ".join(
                       f"LAG(n_events, {j}) OVER (PARTITION BY event_type"
                       f" ORDER BY bucket) AS l{j}"
                       for j in range(EWMA_LAGS)
                   )}
            FROM hourly
        )
        SELECT event_type, bucket, n_events,
               FLOOR((({
                   " + ".join(
                       f"CASE WHEN l{j} IS NOT NULL THEN {0.5 ** j!r} * l{j}"
                       f" ELSE 0.0 END"
                       for j in range(EWMA_LAGS)
                   )})
                 / ({
                   " + ".join(
                       f"CASE WHEN l{j} IS NOT NULL THEN {0.5 ** j!r}"
                       f" ELSE 0.0 END"
                       for j in range(EWMA_LAGS)
                   )})) * 10000.0 + 0.5) / 10000.0 AS ewma
        FROM lagged
    """,
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA trend smoothing — the monitoring/forecasting primitive: per
    event type, each hour's count blended with its 8-hour
    history under geometric decay 0.5^j, renormalized over the lags
    that actually exist (so early hours aren't biased toward zero).
    The infinite-memory EWMA recurrence y_t = αx_t + (1−α)y_{{t−1}} is
    inherently sequential; truncating to a finite horizon makes it a
    BOUNDED window expression — 8 ``lag()`` taps over one
    (type, hour)-ordered window — which is embarrassingly parallel and
    ANSI-verifiable, at the cost of a ≤0.5^8 ≈ 0.4% tail
    truncation. Aggregate-first discipline: the raw stream collapses to
    the (type, hour) micro relation in one partial-aggregated pass;
    the window runs over thousands of rows regardless of corpus size.
    Smoothing runs over OBSERVED hours (lag-1 = previous hour with
    traffic, identically in both engines); compose with
    ``events_gapfill_locf`` upstream for a dense-grid EWMA. Exactness:
    weights are powers of two and counts are integers, so every
    product and the left-to-right sums are EXACT in f64 in both
    engines — the comparison is bit-exact before the display round."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lags = [F.lag("n_events", j).over(w) for j in range(EWMA_LAGS)]
    num = reduce(
        lambda a, b: a + b,
        [
            F.when(lags[j].isNotNull(), F.lit(0.5**j) * lags[j]).otherwise(0.0)
            for j in range(EWMA_LAGS)
        ],
    )
    den = reduce(
        lambda a, b: a + b,
        [
            F.when(lags[j].isNotNull(), F.lit(0.5**j)).otherwise(0.0)
            for j in range(EWMA_LAGS)
        ],
    )
    return hourly.select(
        "event_type",
        "bucket",
        "n_events",
        (F.floor((num / den) * 10000.0 + F.lit(0.5)) / 10000.0).alias("ewma"),
    )


@query(
    "scd2_user_type_history",
    category="window_events",
    description="SCD type-2 history: change-suppressed validity intervals per user",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type, ts AS valid_from, event_id
            FROM ordered
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type, valid_from,
               LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) AS valid_to,
               (LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) IS NULL) AS is_current
        FROM changes
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a changelog: collapse
    consecutive identical attribute values (change suppression via lag),
    then stamp each surviving change with its validity interval
    [valid_from, valid_to) via lead; the open interval is the current row.
    This is the MERGE-free way to maintain dimension history at scale —
    pure windows, no driver state.

    Both window passes use the SAME (user_id → ts, event_id) partitioning
    and sort, so Catalyst plans ONE exchange + one sort and runs lag and
    lead in consecutive Window nodes without re-shuffling; the
    change-suppression filter between them only shrinks the data. Keys
    are users — millions of small partitions, no skewed giant, and the
    deterministic (ts, event_id) tiebreak makes intervals reproducible
    run-over-run."""
    ev = load_table(spark, sf_dir, "events")
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w_ev).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w_ch = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    valid_to = F.lead("valid_from").over(w_ch)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "events_funnel_conversion",
    category="window_events",
    description="Ordered view→click→purchase funnel: per-stage user conversion counts",
    oracle="""
        WITH stages AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_viewed,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                                  AND t_purchase > t_click
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_purchased_after
        FROM stages
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel — the flagship product-analytics query:
    how many users progressed view → click → purchase IN THAT ORDER
    (first-touch timestamps must strictly increase stage over stage).

    One conditional-MIN aggregate per stage collapses the whole event
    stream to a single row per user — map-side partials reduce each scan
    task's slice before the only shuffle (keyed by user_id: millions of
    keys, no skew) — then the funnel predicates are row-local comparisons
    and the final global roll-up is a partial-aggregated count. NULL
    comparison semantics make the strict-order predicate self-guarding:
    ``t_click > t_view`` is NULL-safe false when either stage is missing,
    in both engines."""
    ev = load_table(spark, sf_dir, "events")
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    stages = ev.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    as_int = lambda c: F.sum(c.cast("int")).cast("long")
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        as_int(viewed).alias("n_viewed"),
        as_int(clicked).alias("n_clicked_after"),
        as_int(purchased).alias("n_purchased_after"),
    )


@query(
    "events_retention_cohorts",
    category="window_events",
    description="Cohort retention matrix: first-activity week x active week user counts",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
            FROM events
        )
        SELECT f.cohort_week,
               CAST(datediff('week', f.cohort_week, a.active_week) AS BIGINT)
                   AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM activity a JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple: bucket every user
    by the week of their FIRST event, then count how many of each cohort
    are active 0, 1, 2… weeks later. The (cohort_week, week_offset)
    matrix is what retention curves and triangle charts are drawn from.

    Three aggregates, all user-keyed so they reuse one clustering: first
    touch per user (min — partial-aggregated), distinct active weeks per
    user (dedup on the pair, same skew-safe shape as
    ``agg_distinct_two_phase``), and the final cohort×offset roll-up over
    user-level rows — at 100 TB the only full-data shuffle is the first
    user_id one; everything after is per-user micro-data. The offset is
    whole weeks between week-truncated stamps, so both engines compute
    exact integer bucket arithmetic, no calendar edge cases."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    joined = activity.join(firsts, "user_id")
    return joined.groupBy(
        "cohort_week",
        (
            F.floor(
                (
                    F.unix_timestamp("active_week")
                    - F.unix_timestamp("cohort_week")
                )
                / (7 * 24 * 3600)
            )
        ).alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))


@query(
    "events_view_click_unattributed",
    category="streaming",
    description=f"Left-outer attribution: views with NO click within {ATTRIBUTION_WINDOW_MIN} min (batch twin)",
    oracle=f"""
        SELECT v.event_id AS view_id,
               c.event_id AS click_id,
               v.user_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} minutes
    """,
)
def events_view_click_unattributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTER half of attribution — the rows the inner join hides:
    every view appears, with NULL click columns when no click followed
    within the window (funnel-drop measurement needs exactly these).
    Same equi-key + time-range shape as the inner twin; the left-outer
    is what the streaming version
    (streaming/windows.py::stream_view_click_left_outer) emits once the
    watermark proves no match can still arrive — stream == batch is
    pinned in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("v_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    win_us = ATTRIBUTION_WINDOW_MIN * 60 * 1_000_000
    return (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_us") >= F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + win_us),
            "left",
        )
        .select(
            "view_id",
            "click_id",
            "user_id",
            (F.col("c_us") - F.col("v_us")).alias("lag_us"),
        )
    )


ZSCORE_CUTOFF = 3.0


@query(
    "events_anomaly_zscore",
    category="window_events",
    description=f"Per-type z-score outliers (|z| > {ZSCORE_CUTOFF}) against group stats",
    oracle=f"""
        WITH stats AS (
            SELECT event_type,
                   AVG(value) AS mu,
                   STDDEV_SAMP(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               FLOOR(((e.value - s.mu) / s.sigma) * 10000.0 + 0.5) / 10000.0
                   AS zscore
        FROM events e JOIN stats s USING (event_type)
        WHERE ABS((e.value - s.mu) / s.sigma) > {ZSCORE_CUTOFF}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier detection — the data-QA gate every metrics
    pipeline needs: flag readings more than ZSCORE_CUTOFF sample standard
    deviations from their group mean. One partial-aggregated stats pass
    (per-type mean and stddev — group-count rows), broadcast back onto
    the scan, and the flag is a row-local predicate: at 100 TB the
    stream is read twice but never shuffled (the stats relation is the
    only exchanged data, and it is tiny). Sample stddev (n−1) is spelled
    explicitly — engines disagree on the default. Not pushed into one
    window pass on purpose: a global-window stddev would funnel each
    type through one task; the aggregate+broadcast shape spreads it."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > ZSCORE_CUTOFF)
        .select(
            "event_id",
            "event_type",
            (F.floor(z * 10000.0 + F.lit(0.5)) / 10000.0).alias("zscore"),
        )
    )


@query(
    "events_markov_transitions",
    category="window_events",
    description="First-order event-type transition matrix with per-state probabilities",
    oracle="""
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ),
        pairs AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               FLOOR(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS p
        FROM pairs
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — the prep step for behavioral sequence models and the
    quickest sanity check on session data ("do purchases ever precede
    views?"). One user-keyed window (lead) on the same clustering every
    other per-user operator reuses, then a hash aggregate whose
    cardinality is |types|² — after the first shuffle everything is
    micro-data, and the row-probability normalization is a window over
    that tiny matrix, not the event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("from_type")
    p = F.col("n") / F.sum("n").over(w_row).cast("double")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.floor(p * 10000.0 + F.lit(0.5)) / 10000.0).alias("p"),
    )


WINDOW_TOPK_USERS = 3


@query(
    "events_window_topk_users",
    category="window_events",
    description=f"Top-{WINDOW_TOPK_USERS} users per tumbling hour by event count",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket, user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT bucket, user_id, n_events
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY bucket ORDER BY n_events DESC, user_id
            ) AS rn FROM hourly
        )
        WHERE rn <= {WINDOW_TOPK_USERS}
    """,
)
def events_window_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed leaderboard — "who dominated each hour": tumbling-hour ×
    user counts, then top-k per window. The aggregate FIRST discipline
    again: the raw stream collapses to (bucket, user) counts with
    map-side partials before any ranking, so the window operator ranks
    the micro relation (users-per-hour rows), never raw events. Ties
    break on user_id for engine-identical top-k. In streaming form this
    is the same aggregate under a watermark with the ranking in
    foreachBatch — the batch shape here is the per-microbatch plan."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("bucket").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WINDOW_TOPK_USERS)
        .drop("rn")
    )


DUP_PAYMENT_WINDOW_DAYS = 365
DUP_PAYMENT_BAND_SCALE = -3   # round(price, -3): nearest-1000 amount band


@query(
    "orders_duplicate_payment_check",
    category="window_events",
    description=f"Duplicate-payment screen: same customer + amount band within {DUP_PAYMENT_WINDOW_DAYS} days",
    oracle=f"""
        WITH seq AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   LAG(o_orderdate) OVER (
                       PARTITION BY o_custkey,
                                    round(o_totalprice, {DUP_PAYMENT_BAND_SCALE})
                       ORDER BY o_orderdate, o_orderkey
                   ) AS prev_date,
                   LAG(o_orderkey) OVER (
                       PARTITION BY o_custkey,
                                    round(o_totalprice, {DUP_PAYMENT_BAND_SCALE})
                       ORDER BY o_orderdate, o_orderkey
                   ) AS prev_orderkey
            FROM orders
        )
        SELECT o_orderkey, o_custkey,
               ROUND(o_totalprice, 2) AS amount,
               prev_orderkey,
               CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT)
                   AS days_apart
        FROM seq
        WHERE prev_date IS NOT NULL
          AND o_orderdate <= prev_date + INTERVAL {DUP_PAYMENT_WINDOW_DAYS} DAY
    """,
)
def orders_duplicate_payment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounts-payable duplicate screen: two orders from the same
    customer in the SAME AMOUNT BAND within the window are retry/double-
    submission candidates — the audit query every payments pipeline
    runs. The band (nearest 1000, exact multiples so both engines agree
    bit-for-bit) stands in for the real-world "same invoice amount"
    match; on this synthetic corpus exact doubles never repeat, and the
    banded key keeps the screen NON-VACUOUS at every gate scale factor
    (empty-vs-empty would verify nothing). Formulated as a lag window
    over (customer, band) — candidate pairs exist only INSIDE those
    partitions, so there is no self-join and no pair blowup: one
    shuffle, linear work per partition, skew bounded by how often one
    customer repeats one band. (date, orderkey) tie-breaks make the
    flagged pair deterministic."""
    o = load_table(spark, sf_dir, "orders")
    band = F.round("o_totalprice", DUP_PAYMENT_BAND_SCALE)
    w = Window.partitionBy("o_custkey", band).orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )
    return (
        seq.filter(
            F.col("prev_date").isNotNull()
            & (
                F.col("o_orderdate")
                <= F.col("prev_date")
                + F.expr(f"INTERVAL {DUP_PAYMENT_WINDOW_DAYS} DAYS")
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("amount"),
            "prev_orderkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.col("prev_date").cast("date"),
            ).cast("long").alias("days_apart"),
        )
    )


PATH_TOPK = 20


@query(
    "events_top_paths_3step",
    category="window_events",
    description=f"Top-{PATH_TOPK} 3-step user journey paths (sequence mining via lead windows)",
    oracle=f"""
        WITH seq AS (
            SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM seq
        WHERE e3 IS NOT NULL
        GROUP BY 1
        ORDER BY n_occurrences DESC, path
        LIMIT {PATH_TOPK}
    """,
)
def events_top_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey/path mining one order up from ``events_markov_transitions``
    (pairs → 3-grams): per user timeline (lead windows partitioned by
    user — one shuffle on user_id, sequences never leave their
    partition), every consecutive 3-step path, counted corpus-wide with
    map-side partials, top-20 as TakeOrderedAndProject with a
    path tie-break. The n-gram-over-sessions shape generalizes: swap
    event_type for page/SKU/prompt-template ids unchanged. Ordering ties
    inside a user timeline break on event_id in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(PATH_TOPK)
    )


MAD_K = 1.4826  # normal-consistency constant for MAD-based z-scores
MAD_CUTOFF = 3.5


@query(
    "events_anomaly_robust_mad",
    category="window_events",
    description=f"Robust anomaly screen: |x-median| / (MAD*{MAD_K}) > {MAD_CUTOFF} per event type",
    oracle=f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_cont(ABS(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type,
               FLOOR(e.value * 10000.0 + 0.5) / 10000.0 AS value,
               FLOOR(ABS(e.value - m.med) / ({MAD_K} * d.mad)
                     * 10000.0 + 0.5) / 10000.0 AS robust_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE d.mad > 0
          AND ABS(e.value - m.med) / ({MAD_K} * d.mad) > {MAD_CUTOFF}
    """,
)
def events_anomaly_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust twin of ``events_anomaly_zscore``: mean/stddev z-scores
    are THEMSELVES dragged by the outliers they hunt (masking), so
    production screens score against median and MAD. Two aggregate
    passes over the fact stream (median, then median absolute
    deviation) — each a map-side-combined exact percentile per type —
    then one broadcast join of the type-cardinality stats back onto
    events; no window over the raw stream. Exact interpolated medians
    agree across engines (percentile == quantile_cont), and the flagged
    set is rounding-insensitive at this cutoff."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    stats = med.join(mad, "event_type")
    rz = F.abs(F.col("value") - F.col("med")) / (MAD_K * F.col("mad"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("mad") > 0) & (rz > MAD_CUTOFF))
        .select(
            "event_id",
            "event_type",
            (F.floor(F.col("value") * 10000.0 + F.lit(0.5)) / 10000.0).alias("value"),
            (F.floor(rz * 10000.0 + F.lit(0.5)) / 10000.0).alias("robust_z"),
        )
    )

#: Two-sided 95% critical value for the A/B z-test.
AB_Z_CRIT = 1.96
#: Conversion = the user's largest purchase exceeds this value. A bare
#: "has any purchase" flag is DEGENERATE on this corpus (every user
#: purchases → pooled rate 1 → zero-variance denominator); the value
#: threshold sits near the per-user median so both variants have
#: non-trivial rates at every shipped SF (~45-50%).
AB_CONV_MIN_VALUE = 150.0


@query(
    "events_ab_test_zscore",
    category="window_events",
    description="Deterministic A/B split; per-user high-value-purchase conversion; pooled two-proportion z-test",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   user_id % 2 AS variant,
                   CASE WHEN MAX(CASE WHEN event_type = 'purchase'
                                      THEN value END) > {AB_CONV_MIN_VALUE}
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        v AS (
            SELECT variant,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_converted
            FROM per_user GROUP BY variant
        ),
        wide AS (
            SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n_a,
                   MAX(CASE WHEN variant = 0 THEN n_converted END) AS c_a,
                   MAX(CASE WHEN variant = 1 THEN n_users END) AS n_b,
                   MAX(CASE WHEN variant = 1 THEN n_converted END) AS c_b
            FROM v
        ),
        z AS (
            SELECT n_a, c_a, n_b, c_b,
                   CAST(c_a AS DOUBLE) / n_a AS ra,
                   CAST(c_b AS DOUBLE) / n_b AS rb,
                   (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                   / NULLIF(SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                 * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b)), 0.0) AS zv
            FROM wide
        )
        SELECT n_a, c_a, n_b, c_b,
               {sql_round_dbl('ra', 6)} AS rate_a,
               {sql_round_dbl('rb', 6)} AS rate_b,
               {sql_round_dbl('zv', 4)} AS z_score,
               CAST(ABS(zv) >= {AB_Z_CRIT} AS INT) AS significant
        FROM z
    """,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: a deterministic hash split (user_id parity —
    in production, bucket a salted hash; parity keeps the oracle
    engine-exact), per-user conversion (largest purchase above
    150.0), and the pooled two-proportion z-test both
    engines evaluate to the same doubles because the formula is spelled
    identically on both sides. The zero-variance corner (pooled rate 0
    or 1) yields NULL z / NULL significance via NULLIF rather than a
    division error — that corner is real (the bare has-any-purchase
    flag hits it on this corpus).

    Plan: one shuffle to the per-user grain (partial-aggregated MAX of
    the purchase value — the flag, not the event list, crosses the
    wire), one micro aggregation to the 2-row variant relation, then
    the z-score assembled on a single row via conditional-MAX widening
    — no window, no second corpus pass, no collect. At 100 TB the
    per-user grain is the only fact-sized exchange, which any
    uplift/holdout readout pays anyway; k-bucket experiments widen the
    conditional aggregate. Stats caveat documented, not hidden: pooled
    z is valid at these counts (n·p >> 5); SIGNIFICANT compares |z| to
    the two-sided 95% critical value 1.96."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "purchase", F.col("value")))
            > AB_CONV_MIN_VALUE
        )
        .cast("int")
        .alias("converted")
    )
    v = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    denom = F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z = (rate_a - rate_b) / F.nullif(denom, F.lit(0.0))
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        round_dbl(rate_a, 6).alias("rate_a"),
        round_dbl(rate_b, 6).alias("rate_b"),
        round_dbl(z, 4).alias("z_score"),
        (F.abs(z) >= AB_Z_CRIT).cast("int").alias("significant"),
    )


@query(
    "events_attribution_multitouch",
    category="window_events",
    description=f"Multi-touch linear attribution: each click's credit split 1/n across its candidate views ({ATTRIBUTION_WINDOW_MIN} min window)",
    oracle=f"""
        WITH v AS (
            SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        pairs AS (
            SELECT v.view_id, c.click_id
            FROM v JOIN c ON v.user_id = c.user_id
             AND c.ts >= v.ts
             AND c.ts <= v.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} minutes
        ),
        cand AS (SELECT click_id, COUNT(*) AS n_views FROM pairs GROUP BY 1),
        credit AS (
            SELECT p.view_id, COUNT(*) AS n_clicks,
                   SUM(CAST(CAST(1 AS DOUBLE) / cand.n_views AS DECIMAL(18,6)))
                       AS credit
            FROM pairs p JOIN cand USING (click_id) GROUP BY 1
        )
        SELECT v.view_id, v.user_id,
               CAST(COALESCE(cr.n_clicks, 0) AS BIGINT) AS n_clicks,
               CAST(ROUND(COALESCE(cr.credit, 0), 4) AS DOUBLE) AS credit
        FROM v LEFT JOIN credit cr USING (view_id)
        ORDER BY view_id
    """,
)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution — the fractional-credit sibling of
    the pairing join above: when a click has n candidate views in its
    lookback window, each view earns 1/n of that click instead of the
    whole click being claimed n times (the classic over-count of
    last/every-touch reporting). Views with no attributable click stay
    in the output with zero credit, so the relation is a complete
    per-view ledger and SUM(credit) == number of attributed clicks —
    conservation the dashboard can assert.

    Plan shape: the candidate join is the SAME equi-key user_id hash
    join as the pairing query (time range as post-join predicate, never
    a cross join); per-click fan-in counts are one partial-aggregated
    shuffle on click_id over the pairs relation; credit folds back per
    view in a second micro shuffle. At 100 TB the pairs relation is the
    only super-linear object and it is bounded by the watermark window,
    exactly like the streaming twin's state."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("v_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    win_us = ATTRIBUTION_WINDOW_MIN * 60 * 1_000_000
    pairs = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_us") >= F.col("v_us"))
        & (F.col("c_us") <= F.col("v_us") + win_us),
    ).select("view_id", "click_id")
    cand = pairs.groupBy("click_id").agg(F.count(F.lit(1)).alias("n_views"))
    credit = (
        pairs.join(cand, "click_id")
        .groupBy("view_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            # each 1/n term quantizes to DECIMAL(18,6) before summing —
            # double sums are partition-order-dependent (dec_sum discipline);
            # the per-term double division is IEEE-identical in both engines
            F.sum((F.lit(1.0) / F.col("n_views")).cast("decimal(18,6)")).alias("credit"),
        )
    )
    return (
        v.select("view_id", "user_id")
        .join(credit, "view_id", "left")
        .select(
            "view_id",
            "user_id",
            F.coalesce(F.col("n_clicks"), F.lit(0)).cast("long").alias("n_clicks"),
            F.round(F.coalesce(F.col("credit"), F.lit(0).cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("credit"),
        )
        .orderBy("view_id")
    )


#: power-analysis parameters: two-sided alpha = 0.05, power = 0.80, and
#: the minimum detectable effect as a relative lift on the control rate.
POWER_Z_ALPHA = 1.959963985
POWER_Z_BETA = 0.8416212336
POWER_MDE_REL = 0.10


@query(
    "events_ab_power_analysis",
    category="window_events",
    description=f"Experiment power analysis: required users/arm to detect a {POWER_MDE_REL:.0%} relative lift at alpha=0.05, power=0.80",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CASE WHEN MAX(CASE WHEN event_type = 'purchase'
                                      THEN value END) > {AB_CONV_MIN_VALUE}
                        THEN 1 ELSE 0 END AS converted
            FROM events
            WHERE user_id % 2 = 0
            GROUP BY user_id
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_control,
                   CAST(SUM(converted) AS BIGINT) AS c_control
            FROM per_user
        ),
        p AS (
            SELECT n_control, c_control,
                   CAST(c_control AS DOUBLE) / n_control AS p1,
                   (CAST(c_control AS DOUBLE) / n_control)
                       * (1.0 + {POWER_MDE_REL}) AS p2
            FROM s
        ),
        f AS (
            SELECT n_control, c_control, p1, p2, (p1 + p2) / 2.0 AS pbar
            FROM p
        )
        SELECT n_control, c_control,
               {sql_round_dbl('p1', 6)} AS rate_control,
               {sql_round_dbl('p2', 6)} AS rate_target,
               CAST(CEIL(
                   ({POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))
                    + {POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                   * ({POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))
                      + {POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                   / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_required_per_arm,
               n_control >= CEIL(
                   ({POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))
                    + {POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                   * ({POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))
                      + {POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                   / ((p2 - p1) * (p2 - p1))) AS currently_powered
        FROM f
    """,
)
def events_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The question every experiment review asks BEFORE the z-test's
    verdict means anything: how many users per arm does detecting a 10%
    relative lift on the observed control rate even require? The
    standard two-proportion sample-size formula
    n = (z_{{α/2}}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))² / (p₂−p₁)² evaluates as
    one fixed double dag from the exact control-arm counts (the same
    per-user conversion definition as the z-test entry, same parity
    split), so both engines produce the identical requirement and the
    same currently_powered verdict.

    Plan shape: one partial-aggregated shuffle to the control-arm
    per-user grain (the filter halves the scan before it), one global
    fold, closed-form algebra on one row. At 100 TB this is the cheapest
    query attached to any experiment."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 2 == 0)
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.max(F.when(F.col("event_type") == "purchase", F.col("value")))
            > AB_CONV_MIN_VALUE,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_control"),
        F.sum("converted").cast("long").alias("c_control"),
    )
    p1 = F.col("c_control").cast("double") / F.col("n_control")
    p2 = p1 * (1.0 + POWER_MDE_REL)
    pbar = (p1 + p2) / 2.0
    num = POWER_Z_ALPHA * F.sqrt(2.0 * pbar * (1.0 - pbar)) + POWER_Z_BETA * F.sqrt(
        p1 * (1.0 - p1) + p2 * (1.0 - p2)
    )
    req = F.ceil(num * num / ((p2 - p1) * (p2 - p1)))
    return s.select(
        "n_control",
        "c_control",
        round_dbl(p1, 6).alias("rate_control"),
        round_dbl(p2, 6).alias("rate_target"),
        req.cast("long").alias("n_required_per_arm"),
        (F.col("n_control") >= req).alias("currently_powered"),
    )


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency
# ---------------------------------------------------------------------------

#: sweep-line time-bucket width for the two-phase running sum (1 hour in
#: microseconds) — caps any single window task at one hour of boundary
#: points regardless of corpus scale.
SWEEP_BUCKET_US = 3_600 * 1_000_000


@query(
    "events_peak_concurrency_sweep",
    category="window_events",
    description="Sweep-line peak concurrency per event type (interval = [ts, ts + greatest(floor(value), 0) seconds), NULLs dropped), two-phase running sum",
    oracle=f"""
        WITH evs AS (
            SELECT event_type, ts, value FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        iv AS (
            SELECT event_type,
                   epoch_us(ts) AS s_us,
                   epoch_us(ts)
                     + GREATEST(CAST(FLOOR(value) AS BIGINT), 0) * 1000000 AS e_us
            FROM evs
        ),
        pts AS (
            SELECT event_type, s_us AS t_us, 1 AS delta FROM iv
            UNION ALL
            SELECT event_type, e_us, -1 FROM iv
        ),
        net AS (
            SELECT event_type, t_us, CAST(SUM(delta) AS BIGINT) AS d
            FROM pts GROUP BY event_type, t_us
        ),
        runs AS (
            SELECT event_type, t_us,
                   SUM(d) OVER (PARTITION BY event_type ORDER BY t_us) AS cum
            FROM net
        ),
        pk AS (
            SELECT event_type, MAX(cum) AS peak FROM runs GROUP BY event_type
        ),
        firstpk AS (
            SELECT r.event_type, p.peak, MIN(r.t_us) AS first_us
            FROM runs r JOIN pk p USING (event_type)
            WHERE r.cum = p.peak
            GROUP BY r.event_type, p.peak
        ),
        cnt AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals
            FROM evs GROUP BY event_type
        )
        SELECT f.event_type,
               c.n_intervals,
               CAST(f.peak AS BIGINT) AS peak_concurrent,
               make_timestamp(f.first_us) AS first_peak_ts
        FROM firstpk f JOIN cnt c USING (event_type)
        ORDER BY f.event_type
    """,
)
def events_peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the classic sweep line — 'what is the most
    sessions this stream ever had open at once, and when did it first
    happen': each event opens an interval [ts, ts + floor(value)
    seconds); +1/−1 boundary deltas are NETTED per distinct instant
    (which also removes any same-instant ordering ambiguity — an
    interval closing exactly when another opens contributes 0, the
    half-open [s, e) convention), then a running sum over instants
    gives the active count and its max is the peak. Everything is
    integer microseconds — exact in both engines, including the
    first-peak tie (min instant at the max, via a single struct-max
    aggregate here and a peak join in the oracle).

    Scale posture: a bare SUM() OVER (PARTITION BY type ORDER BY t)
    would sort one event type's entire history in ONE task — the
    pack_tokens_sequential scale-killer — so the running sum is the
    module's two-phase shape: hour-bucketed local cumsums (parallel,
    bounded by an hour of boundary points), per-bucket totals rolled
    into offsets over the bucket-count micro relation, cum = offset +
    local. One fact shuffle for the netting groupBy, one for the
    bucketed window; the peak fold is a partial-aggregated groupBy.
    Reference scope: no windowing surface in the reference
    (README.md:1-9) — 'beyond' tier."""
    # NULL ts/value rows carry no interval, and a negative value would
    # yield end < start — an inverted interval whose -1 lands BEFORE its
    # +1 and silently corrupts the running count in BOTH engines (the
    # differential can't catch an identical corruption; round-10 ADVICE).
    # Clamp the duration at 0 and drop NULLs, identically on both sides.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    s_us = F.unix_micros(F.col("ts"))
    e_us = s_us + F.greatest(
        F.floor(F.col("value")).cast("long"), F.lit(0).cast("long")
    ) * 1_000_000
    pts = ev.select(
        "event_type", s_us.alias("t_us"), F.lit(1).alias("delta")
    ).unionAll(ev.select("event_type", e_us.alias("t_us"), F.lit(-1).alias("delta")))
    net = pts.groupBy("event_type", "t_us").agg(
        F.sum("delta").cast("long").alias("d")
    )
    # two-phase running sum (pack_tokens_sequential pattern): hour buckets
    # keep every window partition bounded at any scale.
    bucketed = net.withColumn("bucket", F.floor(F.col("t_us") / SWEEP_BUCKET_US))
    w_local = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # `local` feeds BOTH the offsets branch and the cum join; without the
    # checkpoint the netting groupBy + bucketed window recompute per
    # consumer (A/B'd: 1.89 s -> 1.57 s at sf0.1).
    local = bucketed.withColumn("local_cum", F.sum("d").over(w_local)).localCheckpoint(
        eager=False
    )
    # the bucket's contribution to downstream offsets is its NET delta sum
    # (pack_tokens uses max(local_cum) because its values are non-negative;
    # here closes make the local cumsum non-monotone, so max would be wrong)
    bucket_totals = local.groupBy("event_type", "bucket").agg(
        F.sum("d").alias("bucket_sum")
    )
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_totals.select(
        F.col("event_type").alias("o_type"),
        F.col("bucket").alias("o_bucket"),
        F.coalesce(F.sum("bucket_sum").over(w_off), F.lit(0)).alias("offset"),
    )
    cum_rel = local.join(
        F.broadcast(offsets),
        (F.col("event_type") == F.col("o_type"))
        & (F.col("bucket") == F.col("o_bucket")),
    ).select(
        "event_type", "t_us", (F.col("offset") + F.col("local_cum")).alias("cum")
    )
    # one aggregate finds BOTH the peak and its first instant: the
    # lexicographic struct max (cum, -t_us) is (max cum, min t at max).
    agg = cum_rel.groupBy("event_type").agg(
        F.max(F.struct(F.col("cum").alias("c"), (-F.col("t_us")).alias("nt"))).alias(
            "m"
        )
    )
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_intervals"))
    return (
        agg.join(cnt, "event_type")
        .select(
            "event_type",
            "n_intervals",
            F.col("m.c").cast("long").alias("peak_concurrent"),
            F.timestamp_micros(-F.col("m.nt")).alias("first_peak_ts"),
        )
        .orderBy("event_type")
    )


#: dynamic session gaps by event type (minutes) — conversion-ish events
#: hold sessions open longer than errors.
DYN_GAP_LONG, DYN_GAP_MED, DYN_GAP_SHORT = 45, 20, 5

_DYN_GAP_SQL = f"""CASE event_type
    WHEN 'purchase' THEN INTERVAL '{DYN_GAP_LONG} minutes'
    WHEN 'signup' THEN INTERVAL '{DYN_GAP_LONG} minutes'
    WHEN 'error' THEN INTERVAL '{DYN_GAP_SHORT} minutes'
    ELSE INTERVAL '{DYN_GAP_MED} minutes' END"""


@query(
    "events_session_dynamic_gap",
    category="streaming",
    description="session_window with a DYNAMIC per-event gap expression (batch twin of the streaming dynamic-gap session)",
    oracle=f"""
        WITH g AS (
            SELECT user_id, ts, {_DYN_GAP_SQL} AS gap FROM events
        ),
        ordered AS (
            SELECT user_id, ts, gap,
                   MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_reach
            FROM g
        ),
        flags AS (
            SELECT user_id, ts, gap,
                   CASE WHEN prev_reach IS NULL OR ts >= prev_reach
                        THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ),
        islands AS (
            SELECT user_id, ts, gap,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flags
        )
        SELECT strftime(MIN(ts), '{{fmt}}') AS session_start,
               strftime(MAX(ts + gap), '{{fmt}}') AS session_end,
               user_id,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start
    """.replace("{fmt}", TS_FMT_DUCK),
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` with a DYNAMIC gap expression (SPARK-36465):
    each event holds its session open for a type-dependent duration
    (purchases/signups 45 min, errors 5 min,
    browsing 20) — the real sessionization policy product
    analytics uses, inexpressible with the fixed-gap entry. Merge
    semantics are interval-union: each event claims [ts, ts+gap), a
    new session starts exactly when an event's ts clears the running
    MAX of previous reaches (an earlier long-gap event can bridge over
    a later short-gap one — the case a LAG-based islands formulation
    gets WRONG, which is why the oracle carries the running-max form),
    and the session end is the max reach, not last-event + constant.

    Scale: identical plan class to the fixed-gap twin — one shuffle on
    user_id, in-partition merge; in streaming the same expression runs
    under a watermark with state eviction at session close."""
    ev = load_table(spark, sf_dir, "events")
    # session_window's dynamic gap must be CalendarIntervalType — a
    # STRING duration column casts there implicitly; the typed
    # INTERVAL literal parses as DayTimeIntervalType and is rejected
    gap = (
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            F.lit(f"{DYN_GAP_LONG} minutes"),
        )
        .when(F.col("event_type") == "error", F.lit(f"{DYN_GAP_SHORT} minutes"))
        .otherwise(F.lit(f"{DYN_GAP_MED} minutes"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("session_window.start", TS_FMT_SPARK).alias(
                "session_start"
            ),
            F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
            "user_id",
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
