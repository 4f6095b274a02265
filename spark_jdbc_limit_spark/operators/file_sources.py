"""File-format source coverage beyond parquet: CSV, JSON-lines, ORC,
and parquet schema evolution.

The reference's only source is a JDBC table (reference:
src/main/scala/org/apache/spark/sql/JDBCRelationWithLimit.scala:18-26 —
eager schema from database metadata, no files). A Spark-native engine
lives on files, so the catalog's parquet surface is extended here with the
other formats a 100 TB ingest actually meets, each proved by ROUND-TRIP:
write the catalog table out in the format, read it back, aggregate, and
hash-compare against the DuckDB oracle computed from the original parquet.
A format that loses precision, mangles quoting, or drops rows fails the
differential.

Scale discipline baked into every query here:

- **Explicit schemas, never inference.** ``inferSchema``/JSON sampling is
  an extra full pass over the data before the real scan — at 100 TB that
  doubles ingest cost. Schemas come from the catalog (or a DDL string),
  the same posture as the reference's eager driver-side resolution.
- **PERMISSIVE + corrupt-record column for dirty data.** A malformed line
  in petabyte-scale CSV must quarantine, not kill the job
  (``source_csv_corrupt_permissive``).
- **mergeSchema only when asked.** Parquet footer merging is a
  driver-side metadata fan-in over every file; the evolution query shows
  the correct result AND documents the cost posture.

Round-trip staging lives under ``/tmp/spark_graft_src/<query>/<sf>`` —
deterministic, overwritten per run, sized by the catalog table (small
dims / filtered facts), so bench timings measure format codecs, not
tmp-dir churn.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import NEWLINE_CLASS
from spark_jdbc_limit_spark.sources.catalog import load_table


def _staging(name: str, sf_dir: str) -> str:
    sf = os.path.basename(sf_dir.rstrip("/"))
    return f"/tmp/spark_graft_src/{name}/{sf}"


@query(
    "source_csv_roundtrip",
    category="source",
    description="CSV write→read round-trip with explicit schema, no inference pass",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: orders → csv (header, gzip) → read with an EXPLICIT
    schema → aggregate. Doubles survive because Spark writes them via
    Java's shortest-round-trip ``Double.toString`` and the reader parses
    that exactly; the decimal-sum convention then makes the aggregate
    engine-portable. ``inferSchema`` is deliberately absent — inference is
    a second full scan (and types CSV columns by sampling), which is the
    first thing to ban in a 100 TB ingest path."""
    path = _staging("source_csv_roundtrip", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").option("header", "true").option(
        "compression", "gzip"
    ).csv(path)
    back = (
        spark.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .option("header", "true")
        .csv(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_jsonl_roundtrip",
    category="source",
    description="JSON-lines write→read round-trip with explicit schema",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_balance
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip: customer → ndjson → read with explicit
    schema → aggregate. The schema string replaces Spark's JSON schema
    sampling (same no-second-pass rule as CSV); string columns with
    arbitrary punctuation (c_name) prove JSON escaping survives the trip."""
    path = _staging("source_jsonl_roundtrip", sf_dir)
    c = load_table(spark, sf_dir, "customer")
    c.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).json(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "source_orc_roundtrip",
    category="source",
    description="ORC write→read round-trip preserving text exactly",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: documents → ORC → read → per-language text stats.
    ORC is the third columnar container a Spark shop inherits (Hive
    estates); the round-trip proves text columns (multi-line, quoted,
    non-ASCII) are byte-preserved, which the char-count aggregate would
    expose if broken. ORC schemas are self-describing like parquet — no
    explicit schema needed on read."""
    path = _staging("source_orc_roundtrip", sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "source_xml_roundtrip",
    category="source",
    description="XML write→read round-trip (Spark 4 built-in XML source), explicit schema",
    oracle="""
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(SUM(length(n_name)) AS BIGINT) AS total_name_chars
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip on the data source Spark 4 absorbed into core
    (the spark-xml package upstreamed — SPARK-44265): nation → XML rows
    → read back with an EXPLICIT schema and ``rowTag`` → aggregate.
    Same ingest discipline as the CSV/JSONL twins: no schema inference
    (a second full scan), explicit row tag so the reader streams
    row-elements without materializing documents, and the distributed
    parse shards by file split exactly like text sources. XML earns its
    slot in the source matrix because enterprise feeds (finance, legal,
    healthcare — prime LLM training material) still arrive as XML; at
    100 TB the rowTag streaming parse is the only shape that works.
    The aggregate proves values and string content survive the
    serialization round-trip byte-for-byte."""
    path = _staging("source_xml_roundtrip", sf_dir)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").format("xml").option("rowTag", "nation").save(path)
    back = (
        spark.read.format("xml")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .option("rowTag", "nation")
        .load(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.length("n_name")).alias("total_name_chars"),
        )
        .orderBy("n_regionkey")
    )


N_CORRUPT_LINES = 3


@query(
    "source_csv_corrupt_permissive",
    category="source",
    description="PERMISSIVE CSV parse quarantines malformed rows instead of failing",
    oracle=f"""
        SELECT CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_good,
               CAST({N_CORRUPT_LINES} AS BIGINT) AS n_corrupt
    """,
)
def source_csv_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data posture: a CSV with {N_CORRUPT_LINES} malformed lines
    (wrong arity / non-numeric keys) parsed in PERMISSIVE mode with a
    corrupt-record column. Every malformed line lands in quarantine with
    its raw text; every well-formed row parses — the job never dies. At
    100 TB this is non-negotiable: FAILFAST on a petabyte ingest turns one
    bad line into a dead pipeline, and silently DROPMALFORMED loses data
    with no audit trail. One file is hand-written driver-side (25-row
    nation + garbage) — the parse itself is distributed."""
    path = _staging("source_csv_corrupt_permissive", sf_dir)
    os.makedirs(path, exist_ok=True)
    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    with open(os.path.join(path, "part-0.csv"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
        f.write("not-a-number,BADROW,0\n")
        f.write("1,TOO,0,MANY,FIELDS\n")
        f.write("xyz\n")
    back = spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path)
    # materialize before referencing _corrupt_record alone: Spark
    # disallows queries whose only referenced column is the internal
    # corrupt-record column on an un-materialized parse (column pruning
    # would defeat the add-a-dummy-column alternative). A local
    # checkpoint, not a cache: the cache would register the parse under
    # the path the next build rewrites. The checkpoint is this query's
    # 28-row fixture, not user data — bounded, and gone with the session.
    back = back.localCheckpoint()
    # coalesce: SUM over zero rows is NULL; an empty/unreadable input
    # must report (0, 0), not (NULL, NULL)
    return back.agg(
        F.coalesce(
            F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_good"),
        F.coalesce(
            F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_corrupt"),
    )


@query(
    "source_parquet_schema_evolution",
    category="source",
    description="mergeSchema read over parquet files written with different schemas",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_with_priority,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_price
        FROM orders
    """,
)
def source_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: yesterday's files lack a column today's files
    carry. Half of orders (even keys) is written WITHOUT o_orderpriority,
    half (odd keys) WITH it; ``mergeSchema=true`` reads both vintages as
    one relation, nulling the missing column for old files. The aggregate
    proves no rows were dropped and the evolved column is populated
    exactly for the new vintage. Cost posture: footer merging fans every
    file's schema into the driver — at 100 TB turn it on per-read when
    vintages actually differ, not as a session default."""
    base = _staging("source_parquet_schema_evolution", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{base}/v1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{base}/v2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{base}/v1", f"{base}/v2")
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
        ).alias("n_with_priority"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@query(
    "source_parquet_partition_pruning",
    category="source",
    description="Hive-partitioned parquet write, read back with partition pruning",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        WHERE event_type IN ('purchase', 'click')
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def source_parquet_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout + pruning — THE mechanism that makes a
    100 TB table queryable: events written ``partitionBy(event_type)``
    land as ``event_type=<v>/part-*.parquet`` directories, and a reader
    filtering on the partition column opens ONLY the matching
    directories. The filter is resolved against file paths at planning
    time (``PartitionFilters`` in the scan node, pinned by
    tests/test_plans.py), so a two-of-five-types query does two-fifths
    of the I/O — before row groups, stats, or predicate pushdown even
    enter the picture. Partition column choice follows the cardinality
    rule: low-cardinality, filter-dominant (event_type: 5 values), never
    high-cardinality keys that would explode into millions of tiny
    directories. The aggregate proves pruning lost no rows vs the oracle
    over the unpartitioned original."""
    path = _staging("source_parquet_partition_pruning", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("purchase", "click")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "source_text_lines",
    category="source",
    description="Line-oriented text source (gzip): the rawest LLM-corpus ingest",
    oracle=f"""
        WITH clean AS (
            SELECT regexp_replace(text, '{NEWLINE_CLASS}', ' ', 'g') AS text
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                    AS BIGINT) AS total_words
        FROM clean
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.text`` over gzip-compressed line files — the shape a
    Common Crawl WET dump or any one-document-per-line corpus arrives
    in. One column, no parsing, schema is fixed — the cheapest possible
    ingest, and the oracle proves the line round-trip lost nothing
    (counts, characters, whitespace tokenization all survive). Cost
    posture worth knowing at 100 TB: gzip is NOT splittable — one file
    = one task regardless of size — so raw-text corpora are staged as
    many medium gzip files (or zstd/bzip2) before Spark ever reads
    them; the multi-file write here models exactly that layout."""
    path = _staging("source_text_lines", sf_dir)
    d = load_table(spark, sf_dir, "documents")
    # line protocol: a payload newline would split one document into two
    # lines — sanitize on write (the oracle applies the same transform),
    # the posture every line-oriented exporter needs
    clean = F.regexp_replace(F.col("text"), NEWLINE_CLASS, " ")
    d.select(clean.alias("text")).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(path)
    back = spark.read.text(path)
    words = F.size(F.split(F.col("value"), " "))
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(words).cast("long").alias("total_words"),
    )


@query(
    "source_binary_files",
    category="source",
    description="binaryFile source: whole-file multimodal ingest + real decode",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(CAST(8 + (doc_id % 8) * 2 AS BIGINT)
                        * CAST(8 + ((doc_id // 8) % 8) * 2 AS BIGINT))
                    AS BIGINT) AS total_pixels,
               CAST(MAX(8 + (doc_id % 8) * 2) AS BIGINT) AS max_width
        FROM documents
        WHERE doc_id < 64 AND n_chars >= 1
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.format("binaryFile")`` — how image/audio/video corpora
    actually enter Spark: one row per FILE with (path, length, content),
    no codec assumptions. The fixture renders 64 documents into real PGM
    files on disk (one file per image, the object-store layout), the
    binaryFile scan reads them whole, and the SAME decode_image used by
    the resize operator parses dimensions from the bytes — proving the
    disk round-trip preserved the rasters. Scale posture: binaryFile
    ships whole files to tasks, so it pairs with
    ``spark.sql.files.maxPartitionBytes`` and many small objects — for
    millions of tiny files, production first packs them into a
    sequence/tar-like format; this query is the per-object path."""
    import os as _os

    from spark_jdbc_limit_spark.operators.multimodal import (
        decode_image,
        render_pgm_payloads,
    )

    import shutil as _shutil

    path = _staging("source_binary_files", sf_dir)
    # clear stale staging first (the file-per-object layout has no
    # mode("overwrite"): orphans from an older run or a changed doc
    # filter would otherwise inflate the scan versus the oracle)
    _shutil.rmtree(path, ignore_errors=True)
    _os.makedirs(path, exist_ok=True)
    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 64) & (F.col("n_chars") >= 1))
        .select("doc_id", "text")
    )
    rendered = d.mapInPandas(render_pgm_payloads, "doc_id long, payload binary")
    # one real file per image. foreachPartition targets the shared local
    # tmp dir — valid in local mode, where executors and driver share a
    # filesystem; on a cluster the objects would already live in object
    # storage and this fixture stage disappears entirely.
    def _write_part(rows):
        for r in rows:
            with open(_os.path.join(path, f"img_{r.doc_id}.pgm"), "wb") as f:
                f.write(bytes(r.payload))

    rendered.foreachPartition(_write_part)

    files = spark.read.format("binaryFile").load(path)

    def _dims(batches):
        import pandas as pd

        for pdf in batches:
            dims = [decode_image(bytes(b)) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "w": [d["width"] for d in dims],
                    "h": [d["height"] for d in dims],
                }
            )

    decoded = files.select("content").mapInPandas(_dims, "w long, h long")
    return decoded.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("w") * F.col("h")).cast("long").alias("total_pixels"),
        F.max("w").cast("long").alias("max_width"),
    )


@query(
    "source_python_datasource",
    category="source",
    description="Custom Python DataSource (Spark 4 V2 API) with key-range + flag pushdown",
    oracle="""
        SELECT i AS id, i % 32 AS bucket,
               CAST((i * 7919) % 10000 AS DOUBLE) / 100.0 AS amount,
               ['A','N','R'][(i % 3) + 1] AS flag
        FROM range(0, 5000) t(i)
        WHERE i >= 1000 AND i < 4000
          AND ['A','N','R'][(i % 3) + 1] = 'A'
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole identity — a custom relation provider with
    partitioned, pushdown-aware scans (JDBCRDDWithLimit.scala:45-63) —
    rebuilt on Spark 4's native Python DataSource API
    (sources/pydatasource.py): the id-range and flag filters below are
    ACCEPTED by LedgerReader.pushFilters, so they prune row GENERATION
    inside each of the 4 partition slices; the oracle regenerates the
    same rows from pure arithmetic. sf_dir is unused — the source IS the
    external system."""
    from spark_jdbc_limit_spark.sources.pydatasource import register

    try:
        register(spark)
    except Exception:
        pass  # already registered in this session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("ledger")
        .option("numRows", 5000)
        .option("numPartitions", 4)
        .load()
        .filter((F.col("id") >= 1000) & (F.col("id") < 4000) & (F.col("flag") == "A"))
    )


#: event_type → class map for the DPP demonstration dim. A VALUES
#: relation in both engines, so the oracle shares it verbatim.
EVENT_CLASS_DIM: list[tuple[str, str]] = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]


def _event_class_values_sql() -> str:
    return ", ".join(f"('{t}', '{c}')" for t, c in EVENT_CLASS_DIM)


@query(
    "source_parquet_dynamic_partition_pruning",
    category="source",
    description="Runtime (dynamic) partition pruning: a dim-side filter prunes fact partitions at execution time",
    oracle=f"""
        WITH dim(event_type, etype_class) AS (VALUES {_event_class_values_sql()})
        SELECT e.event_type, d.etype_class,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        WHERE d.etype_class = 'engagement'
        GROUP BY e.event_type, d.etype_class
        ORDER BY e.event_type
    """,
)
def source_parquet_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition pruning — the runtime sibling of
    ``source_parquet_partition_pruning``'s planning-time pruning, and the
    mechanism that makes star-schema joins over a 100 TB partitioned fact
    viable when the selective filter lives on the DIM side, where static
    pruning cannot see it. The fact (events, written
    ``partitionBy(event_type)``) is joined to a broadcast dim filtered to
    one class; Catalyst injects the dim's surviving join keys into the
    fact scan as ``dynamicpruningexpression(event_type IN dynamicpruning#N)``
    (reusing the broadcast, no extra dim scan), so only the matching
    partition directories are ever opened — pinned by
    tests/test_plans.py. At warehouse scale this is date-dim → fact-date
    pruning: the dim filter "fiscal week 23" prunes thousands of daily
    partitions the SQL text never names. The aggregate proves runtime
    pruning lost no rows vs the oracle over the unpartitioned original."""
    path = _staging("source_parquet_dpp", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.select("event_id", "event_type", "value").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(EVENT_CLASS_DIM, "event_type string, etype_class string")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .filter(F.col("etype_class") == "engagement")
        .groupBy("event_type", "etype_class")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("event_type", "etype_class", "n_events", "total_value")
        .orderBy("event_type")
    )


@query(
    "source_parquet_nested_pruning",
    category="source",
    description="Nested-struct parquet: schema pruning reads one subfield of a wide struct",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY segment
    """,
)
def source_parquet_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-column pruning — the scan optimization that makes struct
    payload columns viable at 100 TB: customers round-trip through a
    parquet file whose profile column is a WIDE struct (name, segment,
    balance, a bulky synthetic bio), and the read touches only
    ``profile.segment`` + ``profile.balance``. Catalyst's nested schema
    pruning pushes the SUBFIELD projection into the parquet ReadSchema
    (pinned in tests/test_plans.py: the bulky ``bio`` field must be
    absent from the scan), so the columnar reader never materializes —
    or decompresses — the fat member. Without this, a struct with one
    hot subfield drags its whole column chunk through every scan; with
    it, struct layout is free. The aggregate proves values survive the
    nested round-trip exactly (oracle recomputes from the flat base
    table)."""
    base = _staging("source_parquet_nested_pruning", sf_dir)
    c = load_table(spark, sf_dir, "customer")
    c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("balance"),
            F.repeat(F.col("c_name"), 50).alias("bio"),
        ).alias("profile"),
    ).write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base)
    return (
        back.groupBy(F.col("profile.segment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("profile.balance").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("segment")
    )


@query(
    "source_versioned_time_travel",
    category="source",
    description="Snapshot store time travel: v1 overwrite + v2 zero-copy append, both snapshots queried",
    oracle="""
        SELECT 1 AS version,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rows,
               CAST(ROUND(SUM(CASE WHEN o_orderkey % 2 = 0
                                   THEN CAST(o_totalprice AS DECIMAL(18,6))
                                   ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE)
                   AS total_price
        FROM orders
        UNION ALL
        SELECT 2,
               CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders
        ORDER BY version
    """,
)
def source_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the repo's Iceberg-lite snapshot store
    (``sinks/versioned.py`` — manifest-committed parquet snapshots,
    appends reference parent files zero-copy): v1 holds the even orders,
    v2 appends the odd half WITHOUT rewriting a byte of v1, and the
    query reads BOTH versions — ``read_snapshot(v=1)`` must still see
    exactly the pre-append table after v2 commits (the reproducibility
    contract that lets a training run pin its corpus version while
    ingestion keeps appending). The oracle recomputes both snapshots'
    aggregates from the base table, so the manifest resolution itself is
    value-verified by the driver, not just pytest (the crash-safety and
    vacuum semantics stay pinned in tests/test_versioned.py).

    Scale: a snapshot read is manifest → file list →
    ``spark.read.parquet(*files)`` — partition-parallel, no directory
    listing; append cost is one manifest, O(1) in table size."""
    from spark_jdbc_limit_spark.sinks.versioned import read_snapshot, write_snapshot

    base = _staging("source_versioned_time_travel", sf_dir)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # use the versions write_snapshot RETURNS: if stale staging survived
    # the rmtree (permissions, non-local fs), hardcoded v1/v2 would read
    # a previous run's data silently
    v1 = write_snapshot(o.filter(F.col("o_orderkey") % 2 == 0), base, mode="overwrite")
    v2 = write_snapshot(o.filter(F.col("o_orderkey") % 2 == 1), base, mode="append")

    def snap_agg(version: int, label: int) -> DataFrame:
        return read_snapshot(spark, base, version=version).agg(
            F.lit(label).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        ).select("version", "n_rows", "total_price")

    return snap_agg(v1, 1).unionAll(snap_agg(v2, 2)).orderBy("version")


@query(
    "source_versioned_incremental",
    category="source",
    description="Incremental snapshot consumption: the delta rows between v1 and v2 by pure manifest diff",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_new_rows,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS new_price
        FROM orders
        WHERE o_orderkey % 2 = 1
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def source_versioned_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL consumption from the snapshot store — the CDC leg the
    time-travel entry leaves implicit: a downstream job that processed
    v1 resumes by reading exactly the rows v2 ADDED, resolved by pure
    manifest diff (files in v2's manifest absent from v1's — no data
    comparison, no base re-read, no changelog table). The oracle
    recomputes the expected delta (the odd orders) from the base table,
    so the manifest arithmetic is value-verified by the driver;
    overwrite-in-range refusal and empty-delta behavior stay pinned in
    tests/test_versioned.py.

    Scale: the delta read lists only the NEW files — incremental cost
    is O(delta), never O(table); that asymmetry is the entire point of
    consuming appends through manifests rather than re-scanning."""
    from spark_jdbc_limit_spark.sinks.versioned import read_incremental, write_snapshot

    base = _staging("source_versioned_incremental", sf_dir)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = write_snapshot(o.filter(F.col("o_orderkey") % 2 == 0), base, mode="overwrite")
    v2 = write_snapshot(o.filter(F.col("o_orderkey") % 2 == 1), base, mode="append")
    delta = read_incremental(spark, base, from_version=v1, to_version=v2)
    return (
        delta.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_new_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("new_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_versioned_merge_upsert",
    category="source",
    description="MERGE INTO semantics on the snapshot store: keyed copy-on-write upsert, merged state verified",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(SUM(CAST(price AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_price
        FROM (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 3
                        THEN o_totalprice + 1000000.0
                        ELSE o_totalprice END AS price
            FROM orders
        )
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def source_versioned_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO without a table format: the snapshot store's keyed
    copy-on-write upsert — updates replace same-key rows, new keys
    append, committed through the ordinary manifest protocol (the anti-
    join + union plan is exactly what engine MERGE compiles to). Here
    every orderkey ≡ 3 (mod 10) gets a +1,000,000 price correction; the
    merged latest snapshot must equal the base table with exactly those
    rows updated — recomputed by the oracle with a CASE, so keyed
    replacement (no dupes, no drops) is value-verified by the driver.
    Copy-on-write trade named in the sink's docstring: bulk upserts
    rewrite the snapshot; file-pruned rewrite is the format-level
    optimization this layout supports but does not implement."""
    from spark_jdbc_limit_spark.sinks.versioned import (
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    base = _staging("source_versioned_merge_upsert", sf_dir)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    write_snapshot(o, base, mode="overwrite")
    updates = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
        "price", F.col("price") + 1_000_000.0
    )
    merge_snapshot(updates, base, key_cols=["o_orderkey"])
    return (
        read_snapshot(spark, base)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("price").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_csv_multiline_quoted",
    category="source",
    description="CSV round-trip of RFC-hostile payloads: embedded delimiters, quotes, and newlines under multiLine read",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LENGTH('v,"' || text || '"' || chr(10) || lang))
                    AS BIGINT) AS payload_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def source_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV edge cases that break naive splitters: every payload is
    deliberately RFC-hostile — an embedded delimiter, an embedded double
    quote, and an embedded NEWLINE — then written with RFC-4180 doubled
    quotes (escape = quote char) and read back with ``multiLine=true``
    (without it, Spark's line-splitting reader would shear each record
    at the embedded newline). The oracle never touches the CSV: it
    recomputes the per-language payload character totals from the
    original table, so any quoting/escaping loss in the round-trip —
    sheared rows, swallowed quotes, CRLF mangling — shifts a count or a
    length and hash-fails.

    Scale note: multiLine forces whole-file parsing (records can span
    line boundaries, so the reader cannot split files); at 100 TB that
    means MANY FILES carry the parallelism, not intra-file splits — the
    documented cost of quoted-newline CSV, and the reason columnar
    formats win for ingest."""
    path = _staging("source_csv_multiline_quoted", sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.lit('v,"'), F.col("text"), F.lit('"\n'), F.col("lang")
        ).alias("payload"),
    )
    d.write.mode("overwrite").option("header", "true").option("escape", '"').csv(path)
    back = (
        spark.read.schema("doc_id long, lang string, payload string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("payload")).cast("long").alias("payload_chars"),
        )
        .orderBy("lang")
    )
