"""Training-data-pipeline operators over the documents table (north-star
extension beyond SURVEY.md §2A; the reference has no analogue — cited gap:
/root/reference/README.md:1-9 covers only JDBC limit pushdown + writes).

These are the selection/shaping stages a 100 TB pretraining pipeline runs
AFTER dedup (operators/dedup.py) and quality scoring (operators/text.py):

- deterministic sampling — reproducible train/holdout cuts with NO
  stored state: membership is a pure function of the key, so re-runs,
  backfills, and late-arriving shards select consistently. A filter at
  scan speed: no shuffle, predicate-pushdown friendly.
- per-source quota sampling — cap any one source's contribution
  (anti-domination): top-N per group by a deterministic pseudo-random
  order → one shuffle on the group key.
- sequential token packing — the concat-and-split batching used by
  training loaders: running token cumsum within each (source) stream,
  bin id = cumsum ÷ budget. Window cumsum: one shuffle + sort.
- survivor-policy dedup — exact dedup where the KEPT copy follows a
  source-priority policy, not min(doc_id): argmin over (priority,
  doc_id) per content hash via a struct-min aggregate (single shuffle,
  no window, no self-join).

Every operator is engine-exact (integer hashes / policy tuples), so the
DuckDB oracle reproduces each result bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.dedup import (
    DUP_ANCHOR_L,
    _dup_anchors,
    _sql_shingles,
    cut_covered_positions,
    shingle_hashes,
)
from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.sources.catalog import load_table

#: Knuth multiplicative hash over doc_id → uniform pseudo-random percent.
#: Pure int64 arithmetic (doc_id < 2^31 ⇒ product < 2^63): ANSI-safe and
#: bit-identical in every engine.
SAMPLE_MULT = 2_654_435_761
SAMPLE_MOD = 1 << 32
SAMPLE_PCT = 10

QUOTA_PER_SOURCE = 100
TOKEN_BUDGET = 512

#: smaller value = higher priority when choosing the surviving duplicate.
#: The harness sources are named src0..src19; the policy buckets them into
#: 4 trust tiers by source number (standing in for wiki > books > web >
#: social in a real corpus).
PRIORITY_TIERS = 4


def _hash_pct_col(key):
    return (key * F.lit(SAMPLE_MULT)) % F.lit(SAMPLE_MOD) % F.lit(100)


def _sql_hash_pct(expr: str) -> str:
    return f"(({expr}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100"


@query(
    "sample_deterministic_hash",
    category="llm_pipeline",
    description=f"Stateless reproducible {SAMPLE_PCT}% sample by key hash",
    oracle=f"""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE {_sql_hash_pct('doc_id')} < {SAMPLE_PCT}
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership is a pure function of doc_id — re-runs and late shards
    sample consistently with zero coordination or stored state (unlike
    ``df.sample``, whose RNG is partition-layout-dependent). Executes as a
    plain filter at scan speed; at 100 TB it costs one pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_hash_pct_col(F.col("doc_id")) < SAMPLE_PCT).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "sample_quota_per_source",
    category="llm_pipeline",
    description=f"Anti-domination cap: ≤{QUOTA_PER_SOURCE} docs per source",
    oracle=f"""
        SELECT doc_id, source
        FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY {_sql_hash_pct('doc_id')}, doc_id) AS rn
            FROM documents
        ) t
        WHERE rn <= {QUOTA_PER_SOURCE}
    """,
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each source contributes at most QUOTA docs, chosen by a
    deterministic pseudo-random order (hash, then doc_id tiebreak) so the
    quota sample is unbiased w.r.t. storage order yet fully reproducible.
    One shuffle on source; row_number stops early per partition."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(_hash_pct_col(F.col("doc_id")), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source")
    )


#: two-phase packing bucket width (docs per doc_id bucket). Test-SF value;
#: at production scale pick W so sources × buckets ≈ 10⁵–10⁶ offset rows.
PACK_BUCKET_WIDTH = 250


@query(
    "pack_tokens_sequential",
    category="llm_pipeline",
    description=f"Concat-and-split sequence packing into {TOKEN_BUDGET}-token bins",
    oracle=f"""
        SELECT doc_id, source, n_tokens,
               CAST(FLOOR((cum_tokens - n_tokens) / {TOKEN_BUDGET}.0) AS BIGINT) AS bin_id
        FROM (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM documents
        ) t
    """,
)
def pack_tokens_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batching strategy training loaders actually use at scale:
    concatenate the stream in a canonical order and split every
    TOKEN_BUDGET tokens. bin_id = (cumulative tokens BEFORE this doc) ÷
    budget — a running sum per source stream, not a bin-packing solver;
    first-fit-decreasing buys <1% padding at 1000× the coordination cost.

    A bare ``SUM() OVER (PARTITION BY source ORDER BY doc_id)`` would
    sort an entire source in ONE task — the corpus has ~20 sources, so at
    100 TB that is ~5 TB per window partition (the round-6 verdict's one
    scale-killer). Restructured onto the two-phase bucket-offset shape of
    ``global_rownum_two_phase`` (operators/advanced.py):

    1. ``bucket = floor(doc_id / W)`` — monotone in the stream order, so
       per-bucket sums compose into the global running sum.
    2. local cumsum windowed by (source, bucket) — one hash shuffle,
       every bucket summed in parallel, partition size capped by W.
    3. per-(source, bucket) token totals → running offsets via a window
       over that MICRO relation (sources × buckets rows) → broadcast
       back: ``cum = offset + local_cum``.

    Same result as the single window, no partition ever exceeds W docs."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    # The explicit bucket not-null filter mirrors what the inner join
    # would infer on ONE branch only; stating it on the shared base makes
    # the two branches' exchange subtrees canonically identical, so AQE's
    # ReuseExchange fires and text — the dominant scan cost — is read,
    # split, and shuffled exactly once (pinned by tests/test_plans.py).
    # Nothing filters `source`: windows and groupBy keep a null stream as
    # its own partition (matching the oracle's PARTITION BY source), and
    # the offsets join below is null-SAFE so that stream packs like any
    # other instead of being dropped by a null-unsafe key.
    toks = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET_WIDTH).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    w_local = (
        W.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = toks.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    # bucket totals = MAX of the non-decreasing local cumsum, taken from
    # the ALREADY-WINDOWED frame: the offsets branch then shares the same
    # exchange subtree as the data branch (ReusedExchange), so the text
    # column — the dominant scan cost — is read exactly once.
    bucket_totals = local.groupBy("source", "bucket").agg(
        F.max("local_cum").alias("bucket_tokens")
    )
    w_off = W.partitionBy("source").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = bucket_totals.select(
        F.col("source").alias("o_source"),
        F.col("bucket").alias("o_bucket"),
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias("offset"),
    )
    cum = F.col("offset") + F.col("local_cum")
    return local.join(
        F.broadcast(offsets),
        F.col("source").eqNullSafe(F.col("o_source"))
        & (F.col("bucket") == F.col("o_bucket")),
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / float(TOKEN_BUDGET))
        .cast("long")
        .alias("bin_id"),
    )


#: decontamination shingle width. Real pipelines use 8-13-gram overlap
#: (e.g. GPT-3's 13-gram dedup against benchmarks); 5 keeps the check
#: non-vacuous on the tiny synthetic corpus while exercising the exact
#: same plan shape.
DECON_K = 5
EVAL_MOD = 97


@query(
    "decontaminate_ngram_overlap",
    category="llm_pipeline",
    description=f"Drop training docs sharing any {DECON_K}-gram with the eval split",
    oracle=f"""
        WITH sh AS ({_sql_shingles(DECON_K)}),
        eval_h AS (SELECT DISTINCT h FROM sh WHERE doc_id % {EVAL_MOD} = 0),
        cont AS (
            SELECT DISTINCT doc_id FROM sh
            WHERE doc_id % {EVAL_MOD} <> 0 AND h IN (SELECT h FROM eval_h)
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d
        WHERE d.doc_id % {EVAL_MOD} <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        ORDER BY d.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a training doc is dropped if it shares
    ANY hashed DECON_K-word shingle with the (deterministic) eval split.
    Plan shape for 100 TB: the eval side's distinct shingle set is tiny
    (benchmarks are MBs) → broadcast it; the training side then runs a
    broadcast LEFT SEMI to find contaminated doc_ids (no shuffle of the
    corpus), and the final LEFT ANTI against that small id set is again
    broadcast. The full-corpus scan is touched exactly once, shuffle-free.
    Shingle hashing is the engine-exact rolling hash shared with
    operators/dedup.py, so the oracle reproduces the result bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    # Filter BEFORE shingling: mapInPandas is a pushdown barrier, so a
    # doc_id filter on shingle output would shingle the whole corpus for
    # each branch (two full Python passes). Filtering the input splits the
    # corpus so each doc is shingled exactly once.
    eval_h = shingle_hashes(d.filter(is_eval), k=DECON_K).select("h").distinct()
    contaminated = (
        shingle_hashes(d.filter(~is_eval), k=DECON_K)
        .join(F.broadcast(eval_h), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "lang")
    )


def _sql_priority(expr: str) -> str:
    return f"(CAST(substr({expr}, 4) AS BIGINT) % {PRIORITY_TIERS})"


@query(
    "dedup_survivor_policy",
    category="llm_pipeline",
    description="Exact dedup keeping the highest-priority source's copy",
    oracle=f"""
        SELECT md5(text) AS content_hash,
               CAST(MIN({{p: {_sql_priority('source')}, d: doc_id}}).d AS BIGINT)
                   AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-aware exact dedup: among identical texts keep the copy from
    the most trusted source tier, tie-broken by doc_id.
    min(struct(priority, doc_id)) makes the whole policy ONE
    hash-aggregate — no window, no self-join, partial aggregation
    (map-side combine) intact, so it scales like a plain groupBy."""
    d = load_table(spark, sf_dir, "documents")
    prio = F.substring("source", 4, 12).cast("long") % PRIORITY_TIERS
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min(F.struct(prio.alias("p"), F.col("doc_id").alias("d")))
            .getField("d")
            .alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: train/val/test boundaries on the 0-99 hash percentile: [0,90) / [90,95) / [95,100)
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95


@query(
    "split_train_val_test",
    category="llm_pipeline",
    description="Deterministic hash-based train/val/test split with per-split stats",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, n_chars,
                   CASE WHEN {_sql_hash_pct('doc_id')} < {SPLIT_TRAIN_PCT} THEN 'train'
                        WHEN {_sql_hash_pct('doc_id')} < {SPLIT_VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM s
        GROUP BY split
        ORDER BY split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment as a pure function of doc_id (same affine
    hash as the sampler): no shuffle to assign, membership stable across
    re-runs, shards, and engine versions — the property that keeps eval
    sets uncontaminated when the corpus is regenerated. At 100 TB the
    split is a scan-time predicate (three filtered writes share one scan),
    never a materialized assignment table."""
    d = load_table(spark, sf_dir, "documents")
    pct = _hash_pct_col(F.col("doc_id"))
    split = (
        F.when(pct < SPLIT_TRAIN_PCT, "train")
        .when(pct < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


#: curation thresholds (mirror text_quality_score's signals, composed here)
CURATE_MIN_WORDS = 8
CURATE_MAX_GRAM_REP = 0.6


def _span_cut_gate_sql(extra: str = "") -> str:
    """The quality-gate CTE pair (scored → gated) single-sourced for
    every curation-capstone oracle, so the gate definition can never
    drift between them (round-13 advice: the docstring used to CLAIM
    single-sourcing while ``curate_corpus_pipeline`` still carried an
    inline copy). ``extra`` is a comma-led column fragment appended to
    both select lists (``curate_corpus_pipeline`` passes ``", lang"``);
    ``gated`` always exposes n_words for consumers that account tokens."""
    return f"""
        scored AS (
            SELECT doc_id, source, text{extra},
                   len(string_split(text, ' ')) AS n_words,
                   list_transform(range(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]) AS grams
            FROM documents
        ),
        gated AS (
            SELECT doc_id, source, text, n_words{extra}
            FROM scored
            WHERE n_words >= {CURATE_MIN_WORDS}
              AND 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / (n_words - 2)
                  <= {CURATE_MAX_GRAM_REP}
        )"""


@query(
    "curate_corpus_pipeline",
    category="llm_pipeline",
    description="End-to-end curation: quality gate -> exact dedup -> per-source accounting",
    oracle=f"""
        WITH {_span_cut_gate_sql(", lang")},
        deduped AS (
            SELECT source, lang, text, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
            FROM gated
            GROUP BY source, lang, text
        )
        SELECT source,
               COUNT(*) AS n_kept,
               CAST(SUM(n_copies - 1) AS BIGINT) AS n_dropped_dups,
               COUNT(DISTINCT lang) AS n_langs
        FROM deduped
        GROUP BY source
        ORDER BY source
    """,
)
def curate_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed the way a real curation job runs them:
    repetition/length quality gate (scan-time predicate, no shuffle) →
    exact near-dup collapse on full text (one hash shuffle) → per-source
    accounting (map-side partial agg). One scan, two shuffles total —
    composition does NOT multiply passes, which is the point of keeping
    every stage declarative: Catalyst pipelines the gate into the scan
    and reuses the dedup shuffle's partitioning where it can. At 100 TB
    the text groupBy key is replaced by its sha2 (same plan shape,
    64-byte shuffle keys instead of documents)."""
    from spark_jdbc_limit_spark.operators.text import grams3

    d = load_table(spark, sf_dir, "documents")
    # grams3's slice/zip_with shape keeps the gate cheap even after
    # Catalyst pushes this filter into the scan and inlines words back to
    # split(text) — see grams3's docstring for why indexed lambdas would
    # go quadratic here.
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # n>=3 guard: under Spark 4's default ANSI mode a bare /(n-2) raises
    # DIVIDE_BY_ZERO for a 2-word doc (Catalyst gives no evaluation-order
    # guarantee vs the n>=CURATE_MIN_WORDS conjunct once predicates split);
    # same guard as text.py's text_repetition_ratio. Value for n<3 is
    # irrelevant — the length gate drops those rows either way.
    gram_rep = F.lit(1.0) - F.when(
        n >= 3, F.size(F.array_distinct(grams3(words, n))).cast("double") / (n - 2)
    ).otherwise(F.lit(1.0))
    gated = d.filter((n >= CURATE_MIN_WORDS) & (gram_rep <= CURATE_MAX_GRAM_REP))
    deduped = gated.groupBy("source", "lang", "text").agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        deduped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_copies") - 1).alias("n_dropped_dups"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


@query(
    "curate_span_cut_pipeline",
    category="llm_pipeline",
    description=(
        "End-to-end span-level curation: quality gate -> suffix-anchor "
        "duplicated-span CUT over the gated corpus -> per-source, "
        "per-stage accounting"
    ),
    oracle=f"""
        WITH {_span_cut_gate_sql()},
        w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM gated),
        anch AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L}
        ),
        b AS (
            SELECT ah, MIN(doc_id) AS own
            FROM anch GROUP BY ah HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
            SELECT DISTINCT a.doc_id, a.i + off AS pos
            FROM anch a JOIN b USING (ah), UNNEST(range(0, {DUP_ANCHOR_L})) AS t(off)
            WHERE a.doc_id > b.own
        ),
        cv AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
        per_doc AS (
            SELECT w.doc_id, w.source,
                   len(w.w) AS n_tokens,
                   COALESCE(cv.n_removed, 0) AS n_removed
            FROM w LEFT JOIN cv USING (doc_id)
        ),
        kept AS (
            SELECT source,
                   COUNT(*) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(SUM(n_removed) AS BIGINT) AS n_tokens_removed,
                   CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_docs_cut
            FROM per_doc GROUP BY source
        ),
        tot AS (SELECT source, COUNT(*) AS n_docs_in FROM documents GROUP BY source)
        SELECT tot.source,
               tot.n_docs_in,
               tot.n_docs_in - COALESCE(kept.n_docs_kept, 0)
                   AS n_docs_dropped_gate,
               COALESCE(kept.n_docs_kept, 0) AS n_docs_kept,
               COALESCE(kept.n_tokens_kept, 0) AS n_tokens_kept,
               COALESCE(kept.n_tokens_removed, 0) AS n_tokens_removed,
               COALESCE(kept.n_docs_cut, 0) AS n_docs_cut
        FROM tot LEFT JOIN kept USING (source)
        ORDER BY tot.source
    """,
)
def curate_span_cut_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 suffix-dedup trio composed into the curation capstone
    (round-12 verdict #6): quality gate → duplicated-span CUT over the
    GATED corpus → per-source accounting with per-stage rows. Unlike
    ``curate_corpus_pipeline`` (whole-document exact dedup), the dedup
    stage here removes duplicated REGIONS inside surviving documents —
    the licence-block / syndicated-boilerplate shape whole-doc dedup
    can't touch — via ``remove_duplicated_spans_frame`` (dedup.py), with
    anchors and canonical owners computed over the gated survivors only
    (cutting before gating would let a rejected doc claim ownership).

    Per source: documents in, dropped by the gate, kept; tokens entering
    the cut, tokens removed, and how many kept docs were actually cut —
    the per-stage accounting a 100 TB curation run reports to its
    operators.

    Plan shape: the gate is a scan-time predicate (no shuffle of its
    own); the cut is the shared anchor pipeline — (digest, doc_id, pos)
    shuffle rows, covered-position expansion bounded by duplicated-region
    mass; the accounting is two partial-aggregated groupBys on the
    micro per-source key plus one broadcast-sized join of the two
    source-level relations. Composition adds NO pass over the corpus
    beyond what the cut itself needs."""
    return curate_span_cut_frame(load_table(spark, sf_dir, "documents"))


def curate_span_cut_frame(d: DataFrame) -> DataFrame:
    """The capstone as a frame function over any ``(doc_id, source,
    text)`` relation — the registry entry applies it to the documents
    table; tests/test_pipeline_ops.py pins the per-stage accounting on a
    crafted corpus (including the gated-ownership rule: a gate-dropped
    doc must not claim an anchor bucket)."""
    from spark_jdbc_limit_spark.operators.dedup import (
        remove_duplicated_spans_frame,
    )
    from spark_jdbc_limit_spark.operators.text import grams3

    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # same n>=3 ANSI division guard as curate_corpus_pipeline
    gram_rep = F.lit(1.0) - F.when(
        n >= 3, F.size(F.array_distinct(grams3(words, n))).cast("double") / (n - 2)
    ).otherwise(F.lit(1.0))
    # lineage cut: the gated relation feeds THREE branches (the cut
    # step's token arrays, its anchor explosion, and the source join
    # below) — without it each branch re-pays the scan + trigram gate
    # (the winnowing/shingle checkpoint rule; measured ~1 s of the
    # entry's sf0.1 wall)
    gated = d.filter(
        (n >= CURATE_MIN_WORDS) & (gram_rep <= CURATE_MAX_GRAM_REP)
    ).select("doc_id", "source", "text").localCheckpoint(eager=False)
    per_doc = remove_duplicated_spans_frame(gated.select("doc_id", "text"))
    kept = (
        gated.select("doc_id", "source")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
            F.sum("n_removed").alias("n_tokens_removed"),
            F.sum((F.col("n_removed") > 0).cast("long")).alias("n_docs_cut"),
        )
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs_in"))
    z = F.lit(0).cast("long")
    return (
        tot.join(kept, "source", "left")
        .select(
            "source",
            "n_docs_in",
            (F.col("n_docs_in") - F.coalesce("n_docs_kept", z)).alias(
                "n_docs_dropped_gate"
            ),
            F.coalesce("n_docs_kept", z).alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", z).alias("n_tokens_kept"),
            F.coalesce("n_tokens_removed", z).alias("n_tokens_removed"),
            F.coalesce("n_docs_cut", z).alias("n_docs_cut"),
        )
        .orderBy("source")
    )


#: Deterministic eval-set slice for the position-level decontamination
#: pair below (doc_id % DECON_EVAL_MOD == 0 plays the held-out
#: benchmark). DISTINCT from `decontaminate_ngram_overlap`'s EVAL_MOD=97
#: (that entry's whole-doc-drop policy works with a tiny eval slice; the
#: 8-gram position screen needs mod 11's ~9% slice to stay non-vacuous
#: on the synthetic corpus), and deliberately NOT named EVAL_MOD:
#: rebinding that module global broke the older entry's builder while
#: its oracle f-string kept the decoration-time 97 (caught by the
#: round-13 suite run).
DECON_EVAL_MOD = 11


@query(
    "pipeline_decontaminate_eval_overlap",
    category="llm_pipeline",
    description=(
        f"Eval-set decontamination screen: per training doc, how many of "
        f"its {DUP_ANCHOR_L}-gram positions also occur in the held-out "
        f"eval slice (doc_id % {DECON_EVAL_MOD} == 0)"
    ),
    oracle=f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tr AS (
            SELECT doc_id, md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L} AND doc_id % {DECON_EVAL_MOD} <> 0
        ),
        ev AS (
            SELECT DISTINCT md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L} AND doc_id % {DECON_EVAL_MOD} = 0
        )
        SELECT tr.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN ev.ah IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(MAX(CASE WHEN ev.ah IS NOT NULL THEN 1 ELSE 0 END)
                    AS INT) AS is_contaminated
        FROM tr LEFT JOIN ev ON tr.ah = ev.ah
        GROUP BY tr.doc_id
        ORDER BY tr.doc_id
    """,
)
def pipeline_decontaminate_eval_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination — the screen every serious pretraining
    pipeline runs before training: a training document that shares long
    n-grams with the held-out evaluation set leaks the benchmark into
    the weights, so such docs are flagged (and typically dropped or
    span-cut). Here the deterministic doc_id % 11 == 0 slice
    plays the eval set; per TRAINING doc (≥ 8 tokens) the
    screen reports its 8-gram position count, how many of
    those positions collide with ANY eval-set gram, and the flag.

    Plan (the reason this is affordable at 100 TB): the eval side
    collapses to its DISTINCT gram digests — a relation bounded by the
    benchmark's size, in production broadcast onto the training scan —
    and the training side streams (digest, doc_id) rows through one
    left join + a partial-aggregated per-doc count. No pair space, no
    window, no Python; the same anchor machinery as the suffix-dedup
    family (``_dup_anchors``), aimed at a different corpus split. The
    8-gram floor mirrors the n-gram overlap rule used by published
    decontamination protocols (8-13 grams)."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    _, tr_anchors = _dup_anchors(docs.filter(~is_eval))
    ev_grams = (
        _dup_anchors(docs.filter(is_eval))[1]
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
        .orderBy("doc_id")
    )


@query(
    "pipeline_decontaminate_span_cut",
    category="llm_pipeline",
    description=(
        f"Decontamination CUT: strip every token covered by an eval-set "
        f"{DUP_ANCHOR_L}-gram from each training doc, preserving order"
    ),
    oracle=f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tr AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L} AND doc_id % {DECON_EVAL_MOD} <> 0
        ),
        ev AS (
            SELECT DISTINCT md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L} AND doc_id % {DECON_EVAL_MOD} = 0
        ),
        cov AS (
            SELECT DISTINCT tr.doc_id, tr.i + off AS pos
            FROM tr JOIN ev USING (ah), UNNEST(range(0, {DUP_ANCHOR_L})) AS t(off)
        ),
        cv AS (SELECT doc_id, list(pos) AS cov FROM cov GROUP BY doc_id)
        SELECT w.doc_id,
               CAST(len(w.w) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(cv.cov), 0) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(
                   [w.w[k] for k in range(1, len(w.w) + 1)
                    if cv.cov IS NULL OR NOT list_contains(cv.cov, k)],
                   ' '), '') AS cleaned_text
        FROM w LEFT JOIN cv USING (doc_id)
        WHERE w.doc_id % {DECON_EVAL_MOD} <> 0
        ORDER BY w.doc_id
    """,
)
def pipeline_decontaminate_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE half of the decontamination screen: instead of
    dropping a flagged training document whole, remove exactly the
    tokens covered by some eval-set 8-gram — the span-level
    remedy used when a long doc contains one leaked benchmark passage
    (dropping it entirely wastes the clean 99%). Training docs only in
    the output (the eval slice is held out, not rewritten); short docs
    pass through whole; token order is preserved.

    Plan: the same covered-position machinery as the dedup cut step
    (``cut_covered_positions``), with the owner rule replaced by
    membership in the eval gram set — covered mass is bounded by
    contaminated regions, the eval digest relation is benchmark-sized
    (broadcast at production scale), and the reassembly is one codegen
    ``filter`` per doc."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    train = docs.filter(~is_eval)
    toks_all = train.select("doc_id", F.split("text", " ").alias("w"))
    _, tr_anchors = _dup_anchors(train)
    ev_grams = _dup_anchors(docs.filter(is_eval))[1].select("ah").distinct()
    # Shuffle anchor STARTS, not exploded positions (guide §2.3): the
    # covered-position expansion is a pure per-doc function of the start
    # set, so the L-way explode before the exchange only multiplied the
    # shuffle rows; expand in-row after the groupBy instead.
    cov = (
        tr_anchors.join(ev_grams, "ah")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(flatten(transform(starts,"
                f" s -> sequence(s, s + {DUP_ANCHOR_L - 1}))))"
            ).alias("cov"),
        )
    )
    return cut_covered_positions(toks_all, cov).orderBy("doc_id")


@query(
    "curate_full_pipeline",
    category="llm_pipeline",
    description=(
        f"Full curation chain: quality gate -> duplicated-span cut + "
        f"eval-{DUP_ANCHOR_L}-gram decontamination cut in ONE pass -> "
        f"per-source per-stage token accounting"
    ),
    oracle=f"""
        WITH {_span_cut_gate_sql()},
        w AS (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM gated WHERE doc_id % {DECON_EVAL_MOD} <> 0
        ),
        anch AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L}
        ),
        b AS (
            SELECT ah, MIN(doc_id) AS own
            FROM anch GROUP BY ah HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        evw AS (
            SELECT string_split(text, ' ') AS w
            FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0
        ),
        ev AS (
            SELECT DISTINCT md5(array_to_string(w[i : i + {DUP_ANCHOR_L - 1}], ' ')) AS ah
            FROM evw, UNNEST(range(1, len(w) - {DUP_ANCHOR_L} + 2)) AS t(i)
            WHERE len(w) >= {DUP_ANCHOR_L}
        ),
        covt AS (
            SELECT doc_id, pos, MAX(d) AS d, MAX(c) AS c
            FROM (
                SELECT a.doc_id, a.i + off AS pos, 1 AS d, 0 AS c
                FROM anch a JOIN b USING (ah),
                     UNNEST(range(0, {DUP_ANCHOR_L})) AS t(off)
                WHERE a.doc_id > b.own
                UNION ALL
                SELECT a.doc_id, a.i + off AS pos, 0 AS d, 1 AS c
                FROM anch a JOIN ev USING (ah),
                     UNNEST(range(0, {DUP_ANCHOR_L})) AS t(off)
            )
            GROUP BY doc_id, pos
        ),
        cv AS (
            SELECT doc_id, list(pos) AS cov,
                   SUM(d) AS n_rm_dup, SUM(c) AS n_rm_decon
            FROM covt GROUP BY doc_id
        ),
        cut AS (
            SELECT w.doc_id, w.source,
                   len(w.w) AS n_tokens,
                   COALESCE(len(cv.cov), 0) AS n_removed,
                   COALESCE(cv.n_rm_dup, 0) AS n_rm_dup,
                   COALESCE(cv.n_rm_decon, 0) AS n_rm_decon,
                   COALESCE(array_to_string(
                       [w.w[k] for k in range(1, len(w.w) + 1)
                        if cv.cov IS NULL OR NOT list_contains(cv.cov, k)],
                       ' '), '') AS cleaned
            FROM w LEFT JOIN cv USING (doc_id)
        ),
        kept AS (
            SELECT source,
                   COUNT(*) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(SUM(n_removed) AS BIGINT) AS n_tokens_removed,
                   CAST(SUM(n_rm_dup) AS BIGINT) AS n_tokens_removed_dup,
                   CAST(SUM(n_rm_decon) AS BIGINT) AS n_tokens_removed_decon,
                   CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_docs_cut,
                   CAST(SUM(len(cleaned)) AS BIGINT) AS n_chars_out
            FROM cut GROUP BY source
        ),
        gc AS (
            SELECT source, COUNT(*) AS n_gated,
                   CAST(SUM(CASE WHEN doc_id % {DECON_EVAL_MOD} = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
            FROM gated GROUP BY source
        ),
        tot AS (SELECT source, COUNT(*) AS n_docs_in FROM documents GROUP BY source)
        SELECT tot.source,
               tot.n_docs_in,
               tot.n_docs_in - COALESCE(gc.n_gated, 0) AS n_docs_dropped_gate,
               COALESCE(gc.n_eval, 0) AS n_docs_eval_heldout,
               COALESCE(kept.n_docs_kept, 0) AS n_docs_kept,
               COALESCE(kept.n_tokens_kept, 0) AS n_tokens_kept,
               COALESCE(kept.n_tokens_removed_dup, 0) AS n_tokens_removed_dup,
               COALESCE(kept.n_tokens_removed_decon, 0) AS n_tokens_removed_decon,
               COALESCE(kept.n_tokens_removed, 0) AS n_tokens_removed,
               COALESCE(kept.n_docs_cut, 0) AS n_docs_cut,
               COALESCE(kept.n_chars_out, 0) AS n_chars_out
        FROM tot
        LEFT JOIN gc USING (source)
        LEFT JOIN kept USING (source)
        ORDER BY tot.source
    """,
)
def curate_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation chain a 100 TB pretraining run actually ships
    (round-13 verdict #2), both cut families in ONE plan: quality gate →
    eval holdout → duplicated-span cut AND eval-overlap decontamination
    cut applied as a single union of covered positions → per-source,
    per-stage token accounting.

    Stage semantics: the gate (trigram-repetition + length) screens every
    document; gated docs in the deterministic eval slice
    (doc_id % 11 == 0) are HELD OUT (never rewritten);
    the remaining training docs lose (a) every token covered by a
    duplicated >= 8-gram whose anchor bucket a lower doc_id
    owns (same owner rule as ``curate_span_cut_pipeline``) and (b) every
    token covered by an 8-gram occurring anywhere in the
    UNGATED eval slice (benchmarks leak regardless of their quality
    score). A position covered by both families is counted in both
    per-family columns but removed once — n_tokens_removed is the union,
    <= dup + decon, which the test pins on a corpus engineered to
    overlap.

    Plan shape (why composition stays one corpus pass): the anchor
    explosion is a map-local projection re-derived from the MATERIALIZED
    gated-train checkpoint by each of its three consumers (owner-bucket
    aggregate, dup-cover join, decon-cover join) — no additional corpus
    scan, and the identical ah-partitioned exchanges are eligible for
    Spark's exchange reuse; the eval side collapses to DISTINCT gram
    digests (benchmark-bounded — broadcast at production scale); both
    cover streams union into ONE
    (doc_id, pos)-keyed aggregate (map-side partials absorb overlapping
    anchors) whose single per-doc row carries the position set AND both
    family counters into the shared codegen cut
    (``cut_covered_positions(extra_zero_cols=...)``); accounting is
    partial-aggregated groupBys on the micro source key. n_chars_out
    sums the REASSEMBLED text's length, so the cut itself (not just its
    bookkeeping) is exercised and oracle-checked."""
    return curate_full_frame(load_table(spark, sf_dir, "documents"))


def curate_full_frame(d: DataFrame, ev_grams: DataFrame | None = None) -> DataFrame:
    """The composed capstone as a frame function over any ``(doc_id,
    source, text)`` relation; tests/test_pipeline_ops.py pins the
    per-stage accounting (gate/holdout/cut interplay, union-vs-sum of
    the family counters, n_chars_out) on a crafted corpus.

    ``ev_grams``: an already-materialized distinct eval-gram digest
    relation (one ``ah`` column) — the benchmark index a production
    pipeline maintains once per eval-set release instead of re-deriving
    per run; bench.py's pipeline-marginal row times the capstone against
    a checkpointed one. Default None derives it from ``d``'s eval slice
    in-plan (the self-contained registry/oracle formulation)."""
    from spark_jdbc_limit_spark.operators.text import grams3

    L = DUP_ANCHOR_L
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # same n>=3 ANSI division guard as the sibling capstones
    gram_rep = F.lit(1.0) - F.when(
        n >= 3, F.size(F.array_distinct(grams3(words, n))).cast("double") / (n - 2)
    ).otherwise(F.lit(1.0))
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    # lineage cut: gated feeds the holdout accounting plus (via train)
    # the token arrays, the anchor explosion (x3 branches), and the
    # source fan-back — the same rule as curate_span_cut_frame
    gated = d.filter(
        (n >= CURATE_MIN_WORDS) & (gram_rep <= CURATE_MAX_GRAM_REP)
    ).select("doc_id", "source", "text").localCheckpoint(eager=False)
    train = gated.filter(~is_eval)
    toks_all = train.select("doc_id", F.split("text", " ").alias("w"))
    _, anchors = _dup_anchors(train)
    buckets = (
        anchors.groupBy("ah")
        .agg(
            F.min("doc_id").alias("own"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("ah", "own")
    )
    if ev_grams is None:
        ev_grams = _dup_anchors(d.filter(is_eval))[1].select("ah").distinct()
    # Shuffle anchor STARTS, not exploded positions (guide §2.3), and
    # collapse the two-level (doc_id, pos)->doc_id aggregation (two
    # differently-keyed exchanges) into ONE doc_id-keyed groupBy: the
    # per-family position sets are pure per-doc functions of the two
    # start sets, so both the L-way explode and the position-level
    # distinct can run in-row after a single exchange of start rows.
    # Per-family counts are the sizes of the expanded distinct sets —
    # identical to the old sum-of-max formulation (a position covered by
    # both families counts in both, is removed once via array_union).
    dup_starts = (
        anchors.join(buckets, "ah")
        .filter(F.col("doc_id") > F.col("own"))
        .select("doc_id", "i", F.lit(1).alias("d"))
    )
    dec_starts = anchors.join(ev_grams, "ah").select(
        "doc_id", "i", F.lit(0).alias("d")
    )
    expand = f"s -> sequence(s, s + {L - 1})"
    cov = (
        dup_starts.unionByName(dec_starts)
        .groupBy("doc_id")
        .agg(
            F.collect_set(F.when(F.col("d") == 1, F.col("i"))).alias("ds"),
            F.collect_set(F.when(F.col("d") == 0, F.col("i"))).alias("cs"),
        )
        .select(
            "doc_id",
            F.expr(f"array_distinct(flatten(transform(ds, {expand})))").alias(
                "dcov"
            ),
            F.expr(f"array_distinct(flatten(transform(cs, {expand})))").alias(
                "ccov"
            ),
        )
        .select(
            "doc_id",
            F.array_union("dcov", "ccov").alias("cov"),
            F.size("dcov").alias("n_rm_dup"),
            F.size("ccov").alias("n_rm_decon"),
        )
    )
    per_doc = cut_covered_positions(
        toks_all, cov, extra_zero_cols=("n_rm_dup", "n_rm_decon")
    )
    kept = (
        train.select("doc_id", "source")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
            F.sum("n_removed").alias("n_tokens_removed"),
            F.sum("n_rm_dup").alias("n_tokens_removed_dup"),
            F.sum("n_rm_decon").alias("n_tokens_removed_decon"),
            F.sum((F.col("n_removed") > 0).cast("long")).alias("n_docs_cut"),
            F.sum(F.length("cleaned_text").cast("long")).alias("n_chars_out"),
        )
    )
    gc = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_gated"),
        F.sum(is_eval.cast("long")).alias("n_eval"),
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs_in"))
    z = F.lit(0).cast("long")
    return (
        tot.join(gc, "source", "left")
        .join(kept, "source", "left")
        .select(
            "source",
            "n_docs_in",
            (F.col("n_docs_in") - F.coalesce("n_gated", z)).alias(
                "n_docs_dropped_gate"
            ),
            F.coalesce("n_eval", z).alias("n_docs_eval_heldout"),
            F.coalesce("n_docs_kept", z).alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", z).alias("n_tokens_kept"),
            F.coalesce("n_tokens_removed_dup", z).alias("n_tokens_removed_dup"),
            F.coalesce("n_tokens_removed_decon", z).alias(
                "n_tokens_removed_decon"
            ),
            F.coalesce("n_tokens_removed", z).alias("n_tokens_removed"),
            F.coalesce("n_docs_cut", z).alias("n_docs_cut"),
            F.coalesce("n_chars_out", z).alias("n_chars_out"),
        )
        .orderBy("source")
    )


@query(
    "cdc_upsert_latest",
    category="llm_pipeline",
    description="Changelog compaction: latest event per user via max_by aggregate",
    oracle="""
        SELECT user_id, event_id AS last_event_id, ts AS last_ts,
               event_type AS last_type, value AS last_value
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) = 1
        ORDER BY user_id
    """,
)
def cdc_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert materialization: compact an event changelog to the
    latest row per key, (ts, event_id) as the total version order.

    Deliberately an aggregation (``max_by`` over a version-ordered struct),
    NOT the window row_number formulation the oracle uses: an aggregate
    gets map-side partial aggregation, so each scan task pre-compacts its
    partition's keys and the single shuffle carries ~|distinct keys| rows —
    on a 100 TB changelog with Zipfian key traffic that is orders of
    magnitude less exchange than the window form, which must shuffle every
    raw row before sorting each key group. Same determinism: event_id
    breaks ts ties, and struct comparison is lexicographic."""
    e = load_table(spark, sf_dir, "events")
    version = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct(
        F.col("event_id"), F.col("ts"), F.col("event_type"), F.col("value")
    )
    return (
        e.groupBy("user_id")
        .agg(F.max_by(payload, version).alias("l"))
        .select(
            "user_id",
            F.col("l.event_id").alias("last_event_id"),
            F.col("l.ts").alias("last_ts"),
            F.col("l.event_type").alias("last_type"),
            F.col("l.value").alias("last_value"),
        )
        # no trailing sort: the harness compares order-insensitively
    )


@query(
    "mix_epochs_upsample",
    category="llm_pipeline",
    description="Weighted data mixing: fractional per-source epoch upsampling",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source,
                   1.0 + (CAST(SUBSTR(source, 4) AS INTEGER) % 5) * 0.5 AS epoch_weight
            FROM documents
        ),
        full_epochs AS (
            SELECT doc_id, source, epoch_weight, CAST(i AS INTEGER) AS epoch
            FROM w, UNNEST(range(1, CAST(FLOOR(epoch_weight) AS BIGINT) + 1)) AS t(i)
        ),
        frac_epoch AS (
            SELECT doc_id, source, epoch_weight,
                   CAST(FLOOR(epoch_weight) + 1 AS INTEGER) AS epoch
            FROM w
            WHERE {_sql_hash_pct('doc_id')} < (epoch_weight - FLOOR(epoch_weight)) * 100
        )
        SELECT doc_id, source, epoch FROM full_epochs
        UNION ALL
        SELECT doc_id, source, epoch FROM frac_epoch
    """,
)
def mix_epochs_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining corpus mixing: each source carries a fractional epoch
    weight (here 1.0-3.0, derived deterministically from the source id);
    every document is replicated floor(weight) times, and the fractional
    remainder is realized by the same stateless doc_id-hash sampling as
    sample_deterministic_hash — so a 2.5-epoch source repeats every doc
    twice and exactly the same reproducible half of docs a third time.

    Scale: replication is a generator (``explode(sequence)``) — a narrow
    map, no shuffle, no driver participation; the fractional-tail branch
    is a scan-speed filter unioned on. At 100 TB the output is written
    straight to the packed-sequence stage; nothing materializes the
    blow-up in memory."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    src_num = F.substring("source", 4, 10).cast("int")
    weight = F.lit(1.0) + (src_num % 5).cast("double") * 0.5
    base = d.select("doc_id", "source", weight.alias("epoch_weight"))
    full = base.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(1), F.floor("epoch_weight").cast("int"))
        ).alias("epoch"),
    )
    frac = (
        base.filter(
            _hash_pct_col(F.col("doc_id"))
            < (F.col("epoch_weight") - F.floor("epoch_weight")) * 100
        )
        .select(
            "doc_id",
            "source",
            (F.floor("epoch_weight") + 1).cast("int").alias("epoch"),
        )
    )
    return full.unionByName(frac)


WEIGHTED_SAMPLE_K = 100


@query(
    "sample_weighted_priority",
    category="llm_pipeline",
    description=f"Deterministic weighted sample: top {WEIGHTED_SAMPLE_K} by Efraimidis-Spirakis priority",
    oracle=f"""
        SELECT o_orderkey,
               ROUND(o_totalprice, 2) AS weight
        FROM (
            SELECT o_orderkey, o_totalprice,
                   FLOOR(
                       LN( (((o_orderkey * {SAMPLE_MULT}) % {SAMPLE_MOD}) + 1)
                           / {SAMPLE_MOD + 1}.0 )
                       / o_totalprice * 1e12 + 0.5) / 1e12 AS es_key
            FROM orders
        )
        ORDER BY es_key DESC, o_orderkey
        LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement — Efraimidis-
    Spirakis priorities: each row gets key ``ln(u)/w`` (u a uniform
    derived from the AFFINE HASH of the row key, w its weight) and the
    top-k keys ARE a weighted sample. This is how "sample training docs
    proportional to quality score" runs at corpus scale: one scan-speed
    key computation — no shuffle, no state, no RNG — then top-k as
    TakeOrderedAndProject (per-partition heaps, never a global sort).
    Determinism does ALL the work the usual thread-local RNG can't:
    re-runs, retries, and late-arriving shards select the same rows.
    Keys are half-up rounded at 1e-12 before ranking (libm LN may differ
    in the final ulp across engines) with the row key as tie-break, so
    both engines rank identically."""
    o = load_table(spark, sf_dir, "orders")
    u = (
        ((F.col("o_orderkey") * SAMPLE_MULT) % SAMPLE_MOD + 1)
        / float(SAMPLE_MOD + 1)
    )
    es_key = F.floor(F.log(u) / F.col("o_totalprice") * 1e12 + F.lit(0.5)) / 1e12
    return (
        o.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("weight"),
            es_key.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "o_orderkey")
        .limit(WEIGHTED_SAMPLE_K)
        .select("o_orderkey", "weight")
    )


MIX_ALPHA = 0.7
MIX_TARGET_DOCS = 100_000


@query(
    "mix_temperature_weights",
    category="llm_pipeline",
    description=f"Temperature-scaled (alpha={MIX_ALPHA}) corpus mixing weights per (lang, source)",
    oracle=f"""
        WITH counts AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents
            GROUP BY lang, source
        ),
        powed AS (
            SELECT *, POWER(n_docs, {MIX_ALPHA}) AS p FROM counts
        )
        SELECT lang, source, n_docs,
               FLOOR(p / SUM(p) OVER () * 1000000.0 + 0.5) / 1000000.0
                   AS mix_weight,
               CAST(FLOOR(p / SUM(p) OVER () * {MIX_TARGET_DOCS} + 0.5)
                    AS BIGINT) AS target_docs
        FROM powed
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data mixing — the standard multilingual /
    multi-source rebalancing (weight ∝ n^alpha, alpha < 1 upsamples the
    tail, alpha=1 is proportional, alpha=0 uniform): per (lang, source)
    stratum, its sampling weight and the document quota out of a
    100000-doc budget. The corpus collapses to stratum
    cardinality in ONE map-side-combined aggregate (the only data-sized
    work); the normalizing window then runs over that micro relation.
    Downstream, the quota feeds the deterministic hash sampler
    (``sample_deterministic_hash``) per stratum — making the whole mix
    reproducible run-to-run. Weight rounded half-up at 1e-6 on both
    sides (POWER on bigint counts is ulp-stable across engines at these
    magnitudes)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    p = F.pow(F.col("n_docs"), F.lit(MIX_ALPHA))
    tot = F.sum(p).over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    share = p / tot
    return counts.select(
        "lang",
        "source",
        "n_docs",
        (F.floor(share * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("mix_weight"),
        F.floor(share * MIX_TARGET_DOCS + F.lit(0.5))
        .cast("long")
        .alias("target_docs"),
    )


#: adaptive quality-gate percentile bounds
GATE_SIG_LO, GATE_SIG_HI, GATE_LEN_LO = 0.05, 0.95, 0.10


def _quality_gate_oracle() -> str:
    from spark_jdbc_limit_spark.operators.relational import (
        NEWLINE_CLASS,
        sql_round_dbl,
    )

    flesch = (
        "206.835 - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)"
        " / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)"
        " AS DOUBLE))"
        " - 84.6 * (CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))"
        " AS DOUBLE)"
        " / CAST(len(string_split(text, ' ')) AS DOUBLE))"
    )
    return f"""
        WITH chars AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(
                       regexp_replace(text, '{NEWLINE_CLASS}', '', 'g'), '.')) AS c
            FROM documents
            WHERE length(regexp_replace(text, '{NEWLINE_CLASS}', '', 'g')) > 0
        ),
        freq AS (SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c),
        tot AS (SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id),
        ent AS (
            SELECT freq.doc_id,
                   {sql_round_dbl(
                       "-SUM((n / CAST(total AS DOUBLE))"
                       " * LOG2(n / CAST(total AS DOUBLE)))", 4)} AS e
            FROM freq JOIN tot USING (doc_id)
            GROUP BY freq.doc_id, tot.total
        ),
        fl AS (
            SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
                   {sql_round_dbl(flesch, 4)} AS f
            FROM documents
            WHERE length(text) > 0 AND len(string_split(text, ' ')) > 0
        ),
        sig AS (
            SELECT fl.doc_id, fl.n_chars, fl.f, ent.e
            FROM fl JOIN ent ON ent.doc_id = fl.doc_id
        ),
        thr AS (
            SELECT quantile_cont(f, {GATE_SIG_LO}) AS f_lo,
                   quantile_cont(f, {GATE_SIG_HI}) AS f_hi,
                   quantile_cont(e, {GATE_SIG_LO}) AS e_lo,
                   quantile_cont(e, {GATE_SIG_HI}) AS e_hi,
                   quantile_cont(n_chars, {GATE_LEN_LO}) AS len_lo
            FROM sig
        )
        SELECT s.doc_id, s.f AS flesch_score, s.e AS char_entropy_bits,
               CAST(s.n_chars AS BIGINT) AS n_chars,
               CAST(CASE WHEN s.f BETWEEN t.f_lo AND t.f_hi
                         THEN 1 ELSE 0 END AS INT) AS pass_readability,
               CAST(CASE WHEN s.e BETWEEN t.e_lo AND t.e_hi
                         THEN 1 ELSE 0 END AS INT) AS pass_entropy,
               CAST(CASE WHEN s.n_chars >= t.len_lo
                         THEN 1 ELSE 0 END AS INT) AS pass_length,
               CAST(CASE WHEN s.f BETWEEN t.f_lo AND t.f_hi
                          AND s.e BETWEEN t.e_lo AND t.e_hi
                          AND s.n_chars >= t.len_lo
                         THEN 1 ELSE 0 END AS INT) AS kept
        FROM sig s CROSS JOIN thr t
    """


@query(
    "pipeline_quality_gate_report",
    category="llm_pipeline",
    description="Adaptive corpus quality gate: readability + entropy + length vs corpus percentiles, per-doc verdict",
    oracle=_quality_gate_oracle(),
)
def pipeline_quality_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone that CHAINS the quality signals: every
    document is scored on readability (Flesch), character-distribution
    entropy (gibberish gate), and length, then passed/failed against
    corpus-ADAPTIVE bounds — signals inside the [p05, p95] band (length
    ≥ p10) pass; absolute thresholds would be vacuous or catastrophic
    at a different corpus mix (the bot-screen/triangle-cut lesson
    applied to text quality). The per-doc verdict row carries each
    signal and each flag, so downstream sampling can weight by
    failure REASON, not just drop.

    Decision stability across engines: every signal is rounded half-up
    at 1e-4 BEFORE the percentile thresholds are computed, so both
    engines interpolate percentiles over bit-identical inputs and
    compare bit-identical doubles — the threshold arithmetic then
    agrees exactly (the brand_abc_pareto round-before-classify
    discipline extended to derived thresholds). Plan shape: entropy is
    the zero-shuffle Arrow histogram pass (text_char_entropy), Flesch
    is pure codegen, the join keys doc-cardinality relations, and the
    five thresholds are ONE percentile aggregate over the signal micro
    relation broadcast back as a one-row relation. At 100 TB: one scan
    for each signal pass, doc-cardinality work after."""
    from spark_jdbc_limit_spark.operators.text import (
        text_char_entropy,
        FLESCH_BASE,
        FLESCH_SENT_W,
        FLESCH_SYL_W,
        SENT_RE,
        SYL_RE,
    )
    from spark_jdbc_limit_spark.operators.relational import round_dbl

    ent = text_char_entropy(spark, sf_dir).select(
        "doc_id", F.col("char_entropy_bits").alias("e")
    )
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_words = F.size(F.split(F.col("text"), " ")).cast("double")
    n_sents = F.greatest(
        F.regexp_count("text", F.lit(SENT_RE)), F.lit(1)
    ).cast("double")
    n_syl = F.regexp_count("text", F.lit(SYL_RE)).cast("double")
    fl = d.filter(n_words > 0).select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars"),
        round_dbl(
            F.lit(FLESCH_BASE)
            - F.lit(FLESCH_SENT_W) * (n_words / n_sents)
            - F.lit(FLESCH_SYL_W) * (n_syl / n_words),
            4,
        ).alias("f"),
    )
    sig = fl.join(ent, "doc_id").localCheckpoint(eager=False)  # feeds thr + verdicts
    thr = sig.agg(
        F.expr(f"percentile(f, {GATE_SIG_LO})").alias("f_lo"),
        F.expr(f"percentile(f, {GATE_SIG_HI})").alias("f_hi"),
        F.expr(f"percentile(e, {GATE_SIG_LO})").alias("e_lo"),
        F.expr(f"percentile(e, {GATE_SIG_HI})").alias("e_hi"),
        F.expr(f"percentile(n_chars, {GATE_LEN_LO})").alias("len_lo"),
    )
    pass_f = F.col("f").between(F.col("f_lo"), F.col("f_hi"))
    pass_e = F.col("e").between(F.col("e_lo"), F.col("e_hi"))
    pass_l = F.col("n_chars") >= F.col("len_lo")
    return sig.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        F.col("f").alias("flesch_score"),
        F.col("e").alias("char_entropy_bits"),
        F.col("n_chars").cast("long").alias("n_chars"),
        pass_f.cast("int").alias("pass_readability"),
        pass_e.cast("int").alias("pass_entropy"),
        pass_l.cast("int").alias("pass_length"),
        (pass_f & pass_e & pass_l).cast("int").alias("kept"),
    )


#: Exact sample size per stratum. Corpus mixing specs are phrased as
#: "exactly K documents per source" — Bernoulli `sample()` only hits K
#: in expectation, and `sampleBy` shares the same problem.
STRAT_K = 10
#: Deterministic priority: a Knuth multiplicative hash of doc_id modulo
#: a prime. Pure int64 arithmetic both engines evaluate identically
#: (doc_id * MULT stays < 2^63 up to doc_id ~3.4e9; shard the id space
#: before hashing beyond that).
STRAT_MULT = 2654435761
STRAT_MOD = 1_000_000_007
#: Histogram resolution for the pre-prune. The cutoff histogram is at
#: most ``sources × STRAT_BUCKETS`` rows — a micro relation. Bucket
#: width (MOD / B) bounds the survivor overshoot per stratum; at 100 TB
#: (~1e10 docs/source) raise B to 2^20 so the final per-stratum sort
#: sees ~K + corpus/B ≈ 1e4 rows, not 1e10.
STRAT_BUCKETS = 4096
_STRAT_BW = STRAT_MOD // STRAT_BUCKETS + 1


@query(
    "sample_stratified_exact",
    category="llm_pipeline",
    description=f"Exactly {STRAT_K} docs per source by deterministic hash priority, histogram-pruned before the per-stratum sort",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source,
                   (doc_id * {STRAT_MULT}) % {STRAT_MOD} AS priority
            FROM documents
        )
        SELECT source, doc_id, priority,
               CAST(rn AS BIGINT) AS sample_rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY priority, doc_id) AS rn
              FROM d)
        WHERE rn <= {STRAT_K}
        ORDER BY source, sample_rank
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K stratified sample per source — the balanced-mixture draw a
    training-data pipeline makes when the spec says "10k docs per
    domain", reproducible across runs and engines because the draw order
    is a deterministic hash priority, not an RNG.

    The naive form is one window: ``row_number() OVER (PARTITION BY
    source ORDER BY priority)`` — and with 20 sources at 100 TB that
    sorts ~5 TB per partition in ONE task, the exact shape this repo
    rejected for ``pack_tokens_sequential``. The scale-safe form here is
    the histogram-prune + tiny-sort two-phase (same family as
    ``global_rownum_two_phase``, ``operators/advanced.py``):

    1. Bucket each doc's priority into ``STRAT_BUCKETS`` coarse ranges
       and count per (source, bucket) — a partially-aggregated shuffle of
       at most sources × B rows.
    2. Per source, the running bucket total finds the FIRST bucket where
       the cumulative count reaches K (window over the micro histogram,
       ≤ B rows per stratum). Everything past that bucket cannot be in
       the top-K by priority.
    3. Broadcast the per-source cutoffs back onto the corpus: the
       map-side filter keeps ~K + corpus/B rows per stratum, and only
       those survivors pay the exact ``row_number`` sort. A stratum with
       fewer than K docs has no cutoff bucket — its NULL cutoff
       coalesces to the last bucket, keeping every row, and the final
       rank filter degrades to "take all", which IS the correct exact
       sample for an underfull stratum.

    The coarse layer (like ``join_bloom_prefilter``'s bitmap) can only
    change cost, never the answer: the oracle is the naive single window
    in DuckDB, so the differential check proves prune-then-sort ≡ sort."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("doc_id") * F.lit(STRAT_MULT)) % F.lit(STRAT_MOD)).alias("priority"),
    )
    d = d.withColumn("bkt", (F.col("priority") / F.lit(_STRAT_BW)).cast("long"))
    hist = d.groupBy("source", "bkt").agg(F.count(F.lit(1)).alias("c"))
    running = F.sum("c").over(
        W.partitionBy("source").orderBy("bkt").rowsBetween(W.unboundedPreceding, 0)
    )
    cutoff = (
        hist.withColumn("cum", running)
        .filter(F.col("cum") >= STRAT_K)
        .groupBy("source")
        .agg(F.min("bkt").alias("cut"))
    )
    survivors = d.join(F.broadcast(cutoff), "source", "left").filter(
        F.col("bkt") <= F.coalesce(F.col("cut"), F.lit(STRAT_BUCKETS - 1))
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy("priority", "doc_id")
    )
    return (
        survivors.withColumn("rn", rn)
        .filter(F.col("rn") <= STRAT_K)
        .select(
            "source",
            "doc_id",
            "priority",
            F.col("rn").cast("long").alias("sample_rank"),
        )
        .orderBy("source", "sample_rank")
    )


#: snapshot-diff simulation constants: snapshot B is derived from the
#: documents table by a deterministic doc_id rule both engines share —
#: every 10th doc is deleted, every 10th+1 doc's text is amended. The
#: RULE is synthetic; the diff operator itself is the real thing.
SNAP_MOD = 10


@query(
    "pipeline_snapshot_diff",
    category="llm_pipeline",
    description="Corpus snapshot diff: added/removed/changed/unchanged via full outer join on content hash",
    oracle=f"""
        WITH b AS (
            SELECT CASE WHEN doc_id % {SNAP_MOD} = 1
                        THEN doc_id + 1000000 ELSE doc_id END AS doc_id,
                   CASE WHEN doc_id % {SNAP_MOD} = 2
                        THEN text || ' (amended)' ELSE text END AS text,
                   source
            FROM documents
            WHERE doc_id % {SNAP_MOD} != 0
        ),
        diff AS (
            SELECT COALESCE(a.source, b.source) AS source,
                   CASE
                     WHEN a.doc_id IS NULL THEN 'added'
                     WHEN b.doc_id IS NULL THEN 'removed'
                     WHEN md5(a.text) != md5(b.text) THEN 'changed'
                     ELSE 'unchanged'
                   END AS change
            FROM documents a
            FULL OUTER JOIN b ON a.doc_id = b.doc_id
        )
        SELECT source, change, COUNT(*) AS n_docs
        FROM diff
        GROUP BY source, change
        ORDER BY source, change
    """,
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the primitive behind every incremental corpus run:
    given yesterday's corpus A and today's B, classify each doc_id as
    added / removed / changed / unchanged so downstream stages (dedup,
    quality, packing) re-process ONLY the changed slice. Content equality
    is md5-of-text (both engines ship md5), never a text comparison —
    at 100 TB the diff join carries 16-byte digests, not documents, and
    in a real pipeline the digest column is precomputed at ingest so the
    diff never rereads payloads at all.

    Plan shape: ONE full outer hash join on doc_id (both sides
    hash-partitioned, no sort), then a micro groupBy over (source,
    change). No window, no skew risk (doc_id is unique on both sides).
    Snapshot B is simulated from the same table by a deterministic
    doc_id rule (see SNAP_MOD) the oracle replays verbatim — the rule is
    scaffolding; the operator under test is the diff."""
    a = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    base = a.filter(F.col("doc_id") % SNAP_MOD != 0)
    b = base.select(
        F.when(F.col("doc_id") % SNAP_MOD == 1, F.col("doc_id") + 1_000_000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(F.col("doc_id") % SNAP_MOD == 2, F.concat(F.col("text"), F.lit(" (amended)")))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    change = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.md5(F.col("a.text")) != F.md5(F.col("b.text")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            change.alias("change"),
        )
        .groupBy("source", "change")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "change")
    )


#: Epoch-shuffle audit shape: EPOCHS independent affine hash orders over
#: doc_id (the standard "new permutation per training epoch without
#: materializing one" trick), decorrelation asserted via Spearman rho
#: between every epoch pair. Threshold 0.15: measured |rho| tops out at
#: 0.0997 on the shipped corpora (n=500) and falls to 0.036 at n=5000 —
#: ~1.5x headroom at the worst point while a broken shuffle (rho ≈ 1)
#: fails by an order of magnitude.
EPOCH_SHUFFLE_EPOCHS = 3
EPOCH_RHO_MAX = 0.15


def _epoch_shuffle_oracle() -> str:
    from spark_jdbc_limit_spark.operators.sketches import CMS_A, CMS_B, CMS_P

    epoch_rows = ", ".join(
        f"({e}, {CMS_A[e]}, {CMS_B[e]})" for e in range(EPOCH_SHUFFLE_EPOCHS)
    )
    return f"""
        WITH e(epoch, a, b) AS (VALUES {epoch_rows}),
        ranked AS (
            SELECT e.epoch, d.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.epoch
                       ORDER BY ((d.doc_id % {CMS_P}) * e.a + e.b) % {CMS_P}, d.doc_id
                   ) AS rk
            FROM documents d CROSS JOIN e
        ),
        pairs AS (
            SELECT a.epoch AS epoch_a, b.epoch AS epoch_b,
                   COUNT(*) AS n, SUM((a.rk - b.rk) * (a.rk - b.rk)) AS sd2
            FROM ranked a JOIN ranked b
              ON a.doc_id = b.doc_id AND a.epoch < b.epoch
            GROUP BY 1, 2
        )
        SELECT epoch_a, epoch_b, CAST(n AS BIGINT) AS n_docs,
               FLOOR((1.0 - (6.0 * sd2) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)))
                     * 10000.0 + 0.5) / 10000.0 AS rho,
               ABS(1.0 - (6.0 * sd2) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)))
                   <= {EPOCH_RHO_MAX} AS decorrelated
        FROM pairs ORDER BY epoch_a, epoch_b
    """


@query(
    "pipeline_epoch_shuffle_audit",
    category="llm_pipeline",
    description=f"Deterministic per-epoch shuffle orders with pairwise Spearman decorrelation audit ({EPOCH_SHUFFLE_EPOCHS} epochs)",
    oracle=_epoch_shuffle_oracle(),
)
def pipeline_epoch_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffling for training-data pipelines — a new global order
    per epoch WITHOUT materializing permutations: epoch e's order is
    simply `sort by h_e(doc_id)` under per-epoch affine hash constants
    (the CMS family's rows, reused), so any worker can reproduce any
    epoch's order from the constants alone. The audit computes the
    pairwise Spearman rank correlation between epochs in exact integer
    arithmetic (Σd² over joined rank vectors; rho's division happens
    once, on exact ints, identically in IEEE doubles in both engines)
    and asserts every |rho| ≤ EPOCH_RHO_MAX (0.15) — i.e. the epochs are genuinely
    different orders, the property curriculum-sensitive training needs,
    while rank-correlated "shuffles" (e.g. same hash, shifted) fail by
    an order of magnitude.

    Plan shape: ranks come from ONE window partitioned BY EPOCH over the
    exploded (doc × epoch) relation — epochs rank in parallel, and at
    test scale each epoch is one partition's sort. At 100 TB a global
    row_number per epoch is exactly the two-phase range-partitioned rank
    this repo pins in global_rownum_two_phase (the shuffle writer only
    needs partition-local order + partition offsets); the audit's Σd²
    join is per-doc_id, partial-aggregated, one shuffle."""
    from spark_jdbc_limit_spark.operators.sketches import CMS_A, CMS_B, CMS_P

    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.createDataFrame(
        [(e, CMS_A[e], CMS_B[e]) for e in range(EPOCH_SHUFFLE_EPOCHS)],
        "epoch int, a long, b long",
    )
    ranked = (
        d.crossJoin(F.broadcast(epochs))
        .withColumn("h", ((F.col("doc_id") % CMS_P) * F.col("a") + F.col("b")) % CMS_P)
        .select(
            "epoch",
            "doc_id",
            F.row_number()
            .over(Window.partitionBy("epoch").orderBy("h", "doc_id"))
            .alias("rk"),
        )
    )
    # Pivot ranks per doc instead of self-joining the ranked relation
    # (optimization round 14, guide §2.3/§2.4): the epoch<epoch_b
    # self-join shuffled the E×N rank relation TWICE by doc_id and
    # sort-merged, only to compute per-doc rank differences — a pure
    # per-doc function of the E ranks. One conditional-aggregation
    # groupBy(doc_id) (single exchange, partial-aggregated) collects the
    # ranks as columns; the E(E-1)/2 pair rows are generated in-row and
    # collapse map-side in the final partial aggregation. Every doc
    # carries all E epochs by construction (cross join with the epoch
    # relation), so pair counts and Σd² are identical to the join form.
    per_doc = ranked.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("epoch") == e, F.col("rk"))).alias(f"r{e}")
            for e in range(EPOCH_SHUFFLE_EPOCHS)
        ]
    )
    # rank diffs square in int64: row_number is int32 and |d|^2
    # overflows past ~46k docs under ANSI — the 100 TB form needs
    # the cast even though the shipped corpora don't
    pair_structs = [
        F.struct(
            F.lit(a).alias("epoch_a"),
            F.lit(b).alias("epoch_b"),
            (
                (F.col(f"r{a}").cast("long") - F.col(f"r{b}"))
                * (F.col(f"r{a}").cast("long") - F.col(f"r{b}"))
            ).alias("d2"),
        )
        for a in range(EPOCH_SHUFFLE_EPOCHS)
        for b in range(a + 1, EPOCH_SHUFFLE_EPOCHS)
    ]
    pairs = (
        per_doc.select(F.explode(F.array(*pair_structs)).alias("p"))
        .groupBy(
            F.col("p.epoch_a").alias("epoch_a"), F.col("p.epoch_b").alias("epoch_b")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.d2").alias("sd2"))
    )
    nd = F.col("n").cast("double")
    rho = F.lit(1.0) - (F.lit(6.0) * F.col("sd2")) / (nd * (nd * F.col("n") - 1))
    return pairs.select(
        "epoch_a",
        "epoch_b",
        F.col("n").cast("long").alias("n_docs"),
        (F.floor(rho * 10000.0 + 0.5) / 10000.0).alias("rho"),
        (F.abs(rho) <= EPOCH_RHO_MAX).alias("decorrelated"),
    ).orderBy("epoch_a", "epoch_b")


#: Inference/training micro-batch size for the padding audit.
PAD_BATCH = 32


@query(
    "pipeline_batch_padding_audit",
    category="llm_pipeline",
    description=f"Padding-waste audit: arrival-order vs length-sorted batching at batch={PAD_BATCH}",
    oracle=f"""
        WITH d AS (SELECT doc_id, n_chars FROM documents),
        laid AS (
            SELECT 'arrival' AS strategy, n_chars,
                   (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {PAD_BATCH} AS batch
            FROM d
            UNION ALL
            SELECT 'length_sorted', n_chars,
                   (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) // {PAD_BATCH}
            FROM d
        ),
        b AS (
            SELECT strategy, batch, MAX(n_chars) AS mx, SUM(n_chars) AS s,
                   COUNT(*) AS c
            FROM laid GROUP BY 1, 2
        ),
        summary AS (
            SELECT strategy,
                   CAST(COUNT(*) AS BIGINT) AS n_batches,
                   CAST(SUM(s) AS BIGINT) AS payload_tokens,
                   CAST(SUM(mx * c) AS BIGINT) AS padded_tokens,
                   CAST(SUM(mx * c - s) AS BIGINT) AS waste_tokens,
                   FLOOR((100.0 * SUM(mx * c - s) / SUM(mx * c)) * 100.0 + 0.5)
                       / 100.0 AS waste_pct
            FROM b GROUP BY 1
        )
        SELECT s.*, TRUE AS sorted_wins FROM summary s ORDER BY strategy
    """,
)
def pipeline_batch_padding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching — the serving/training trick that pays
    for itself before any kernel runs: a fixed-size micro-batch pads
    every sequence to the batch MAX, so arrival-order batching (random
    lengths per batch) wastes ~43% of every matrix on pad tokens on
    this corpus, while sorting by length first packs near-equal
    sequences together and cuts waste to 0.5-5%. Both strategies are
    laid out, cut into batches of PAD_BATCH, and audited in exact
    integer arithmetic (padded = Σ batch_max·batch_size; waste = padded
    − payload); ``sorted_wins`` is the in-query comparative boolean the
    oracle asserts TRUE, the z-order audit's discipline applied to the
    batching decision.

    Plan shape: batch assignment needs a global rank per strategy —
    computed with the shared ``two_phase_rank`` (monotonic bucket of
    each strategy's leading key; no single-task window over the
    corpus), then one partial-aggregated shuffle per strategy over
    (strategy, batch). At 100 TB the length sort is the same range
    exchange any sorted write pays, and the audit is why you pay it:
    waste_pct × GPU-hours is the bill the arrival-order pipeline
    silently runs up."""
    from spark_jdbc_limit_spark.operators.advanced import two_phase_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    ).localCheckpoint(eager=False)

    def batches(strategy: str, lead: str, order_cols: list[str]) -> DataFrame:
        return two_phase_rank(d, lead, order_cols).select(
            F.lit(strategy).alias("strategy"),
            "n_chars",
            F.expr(f"(rank - 1) DIV {PAD_BATCH}").alias("batch"),
        )

    laid = batches("arrival", "doc_id", ["doc_id"]).unionAll(
        batches("length_sorted", "n_chars", ["n_chars", "doc_id"])
    )
    b = laid.groupBy("strategy", "batch").agg(
        F.max("n_chars").alias("mx"),
        F.sum("n_chars").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    summary = b.groupBy("strategy").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("s").alias("payload_tokens"),
        F.sum(F.col("mx") * F.col("c")).alias("padded_tokens"),
        F.sum(F.col("mx") * F.col("c") - F.col("s")).alias("waste_tokens"),
        (
            F.floor(
                (100.0 * F.sum(F.col("mx") * F.col("c") - F.col("s")) / F.sum(F.col("mx") * F.col("c")))
                * 100.0
                + 0.5
            )
            / 100.0
        ).alias("waste_pct"),
    )
    sw = F.max(F.when(F.col("strategy") == "length_sorted", F.col("waste_tokens")))
    aw = F.max(F.when(F.col("strategy") == "arrival", F.col("waste_tokens")))
    cmp = summary.agg((sw < aw).alias("sorted_wins"))
    return summary.crossJoin(F.broadcast(cmp)).orderBy("strategy")


#: Group-aware k-fold: number of folds for the leakage-audited split.
KFOLD_K = 5


def _group_kfold_oracle() -> str:
    from spark_jdbc_limit_spark.operators.aggregates import _fp_rowhash_sql

    gh, gpoly = _fp_rowhash_sql(["source"])
    dh, dpoly = _fp_rowhash_sql(["CAST(doc_id AS VARCHAR)"], hcol="hd")
    return f"""
        WITH d AS (SELECT doc_id, source FROM documents),
        g AS (
            SELECT source, ({gpoly}) % {KFOLD_K} AS fold
            FROM (SELECT DISTINCT source, {gh} AS h FROM d)
        ),
        a AS (
            SELECT d.doc_id, d.source, g.fold,
                   ({dpoly}) % {KFOLD_K}
                       AS doc_fold
            FROM (SELECT doc_id, source, {dh} AS hd FROM d) d
            JOIN g USING (source)
        ),
        leaks AS (
            SELECT
                (SELECT COUNT(*) FROM (
                    SELECT source FROM a GROUP BY source
                    HAVING COUNT(DISTINCT fold) > 1)) AS group_leaks,
                (SELECT COUNT(*) FROM (
                    SELECT source FROM a GROUP BY source
                    HAVING COUNT(DISTINCT doc_fold) > 1)) AS doc_leaks
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               (SELECT group_leaks = 0 FROM leaks) AS group_split_leakfree,
               (SELECT doc_leaks > 0 FROM leaks) AS doc_split_would_leak
        FROM a GROUP BY fold ORDER BY fold
    """


@query(
    "split_group_kfold_audit",
    category="llm_pipeline",
    description=f"Group-aware {KFOLD_K}-fold split (all docs of a source share a fold) with leakage audit vs doc-level hashing",
    oracle=_group_kfold_oracle(),
)
def split_group_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment — the split that keeps eval honest
    when documents within a source are near-duplicates of each other
    (the normal state of a crawled corpus): hashing the GROUP key puts
    every doc of a source in the same fold, so no fold ever evaluates
    on a sibling of its training docs. The audit quantifies the
    counterfactual in-query: under doc-level hashing EVERY source on
    this corpus would straddle folds (``doc_split_would_leak`` TRUE),
    while the group split has zero straddlers (``group_split_leakfree``
    TRUE) — both counted from the assignment relation itself, the same
    discipline as the sketch audits. Fold hashes reuse the table
    fingerprint's engine-portable md5→int64 decode, so assignments are
    deterministic AND reproducible cross-engine — any worker or any
    engine re-derives the whole split from the fold count alone.

    Plan shape: the fold map is one distinct over sources (micro) and
    broadcasts onto the corpus; the assignment relation is checkpointed
    so its three consumers (fold rollup + two leak audits) share ONE
    scan-and-hash pass, and the audits themselves are partial-aggregated
    count-distinct rollups on source."""
    from spark_jdbc_limit_spark.operators.aggregates import _fp_rowhash_sql

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    gh, gpoly = _fp_rowhash_sql(
        ["source"]
    )
    sources = (
        d.select("source")
        .distinct()
        .withColumn("h", F.expr(gh))
        .withColumn("fold", F.expr(gpoly) % KFOLD_K)
        .select("source", "fold")
    )
    dh, dpoly = _fp_rowhash_sql(["CAST(doc_id AS STRING)"])
    # the assignment relation feeds THREE aggregates (fold rollup + two
    # leak audits); checkpoint so documents is scanned and hashed once,
    # not once per branch (no CSE across DataFrame branches)
    a = (
        d.withColumn("h", F.expr(dh))
        .withColumn("doc_fold", F.expr(dpoly) % KFOLD_K)
        .join(F.broadcast(sources), "source")
    ).localCheckpoint(eager=False)
    group_leaks = (
        a.groupBy("source")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(F.sum(F.when(F.col("nf") > 1, 1).otherwise(0)).alias("group_leaks"))
    )
    doc_leaks = (
        a.groupBy("source")
        .agg(F.countDistinct("doc_fold").alias("nf"))
        .agg(F.sum(F.when(F.col("nf") > 1, 1).otherwise(0)).alias("doc_leaks"))
    )
    return (
        a.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .crossJoin(F.broadcast(group_leaks))
        .crossJoin(F.broadcast(doc_leaks))
        .select(
            "fold",
            "n_docs",
            "n_sources",
            (F.col("group_leaks") == 0).alias("group_split_leakfree"),
            (F.col("doc_leaks") > 0).alias("doc_split_would_leak"),
        )
        .orderBy("fold")
    )


@query(
    "pipeline_dataset_card_report",
    category="llm_pipeline",
    description="Dataset-card corpus profile: per-language doc/token shares and exact means in one pass",
    oracle="""
        WITH g AS (
            SELECT lang,
                   COUNT(*) AS n_docs,
                   SUM(n_chars) AS chars,
                   SUM(len(string_split(text, ' '))) AS toks
            FROM documents GROUP BY lang
        ),
        t AS (
            SELECT lang, n_docs, chars, toks,
                   SUM(n_docs) OVER () AS td, SUM(toks) OVER () AS tt
            FROM g
        )
        SELECT lang,
               CAST(n_docs AS BIGINT) AS n_docs,
               FLOOR((CAST(n_docs AS DOUBLE) / td) * 1000000.0 + 0.5) / 1000000.0
                   AS doc_share,
               CAST(toks AS BIGINT) AS n_tokens,
               FLOOR((CAST(toks AS DOUBLE) / tt) * 1000000.0 + 0.5) / 1000000.0
                   AS token_share,
               FLOOR((CAST(chars AS DOUBLE) / n_docs) * 100.0 + 0.5) / 100.0
                   AS mean_chars,
               FLOOR((CAST(toks AS DOUBLE) / n_docs) * 100.0 + 0.5) / 100.0
                   AS mean_tokens
        FROM t ORDER BY lang
    """,
)
def pipeline_dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card's composition table — the per-language doc/token
    shares and density means every corpus release publishes (and every
    mixture decision reads first). One partial-aggregated pass computes
    exact integer doc/char/token counts per language; shares and means
    are single double divisions from those integers, so the whole card
    hash-matches. Token counts reuse the suite's canonical space-split
    tokenizer, so the card cannot drift from the text-family entries.

    Plan shape: one corpus scan → ≤ 5-row language relation → window
    totals on that micro relation. At 100 TB this is the cheapest query
    in the catalog per byte scanned — and the one you run on every
    snapshot."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("toks"),
    )
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    t = g.select(
        "lang",
        "n_docs",
        "chars",
        "toks",
        F.sum("n_docs").over(wall).alias("td"),
        F.sum("toks").over(wall).alias("tt"),
    )

    def r(col, scale):
        s = float(10**scale)
        return F.floor(col * s + 0.5) / s

    return t.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        r(F.col("n_docs").cast("double") / F.col("td"), 6).alias("doc_share"),
        F.col("toks").cast("long").alias("n_tokens"),
        r(F.col("toks").cast("double") / F.col("tt"), 6).alias("token_share"),
        r(F.col("chars").cast("double") / F.col("n_docs"), 2).alias("mean_chars"),
        r(F.col("toks").cast("double") / F.col("n_docs"), 2).alias("mean_tokens"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169)
# ---------------------------------------------------------------------------

#: DSIR target distribution: English documents (the lang with both a large
#: share and a complement at every shipped SF). Feature space: unigrams of
#: the space-tokenized text (the paper's hashed n-grams, unhashed — the
#: synthetic vocabulary is small enough that the feature IS the token, so
#: both engines agree without sharing a hash function).
DSIR_TARGET_LANG = "en"
#: add-half (Jeffreys) smoothing so target-absent tokens stay finite.
DSIR_SMOOTH = 0.5
#: shortlist size for the highest-importance documents.
DSIR_TOP_K = 25


def _dsir_oracle() -> str:
    from spark_jdbc_limit_spark.operators.relational import sql_round_dbl

    return f"""
        WITH tok AS (
            SELECT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        freq AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cr,
                   CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS ct
            FROM tok GROUP BY w
        ),
        tot AS (
            SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
                   CAST(SUM(ct) AS DOUBLE) AS nt,
                   CAST(COUNT(*) AS DOUBLE) AS v
            FROM freq
        ),
        scored AS (
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   SUM(ln((f.ct + {DSIR_SMOOTH})
                          / (tot.nt + {DSIR_SMOOTH} * tot.v))
                       - ln((f.cr + {DSIR_SMOOTH})
                            / (tot.nr + {DSIR_SMOOTH} * tot.v))) AS lw
            FROM tok t
            JOIN freq f USING (w)
            CROSS JOIN tot
            GROUP BY t.doc_id
        ),
        ranked AS (
            -- rank on the ROUNDED weight (with doc_id tiebreak): the raw
            -- per-doc float fold's order differs between engines in the
            -- last ulps, so ranking on it could flip shortlist membership
            -- across a hairline rank-k/k+1 gap; after the 1e-6 round both
            -- engines sort bit-identical values (round-10 ADVICE)
            SELECT s.doc_id, d.lang, d.source, s.n_tokens,
                   {sql_round_dbl('s.lw', 6)} AS log_weight
            FROM scored s JOIN documents d USING (doc_id)
        ),
        topk AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id) AS rk
            FROM ranked
        )
        SELECT doc_id, lang, source, n_tokens, log_weight
        FROM topk WHERE rk <= {DSIR_TOP_K} ORDER BY doc_id
    """


@query(
    "pipeline_dsir_importance_weights",
    category="llm_pipeline",
    description=f"DSIR importance weights (unigram log-likelihood ratio vs lang='{DSIR_TARGET_LANG}' target), top-{DSIR_TOP_K} docs",
    oracle=_dsir_oracle(),
)
def pipeline_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
    score every document by the log-likelihood ratio of a TARGET
    unigram distribution (English docs) over the RAW corpus
    distribution — the principled replacement for 'filter by classifier
    score' when you want web data that LOOKS like your target domain.
    log w(x) = Σ_tokens [ln p_tgt(w) − ln p_raw(w)] with add-half
    smoothing over the shared vocabulary; the top-25 docs by
    weight are the ones importance resampling would draw first.

    Float discipline: the per-token terms are fixed log expressions
    over exact integer counts — bit-identical in both engines — and the
    per-doc Σ is a float fold (order-dependent in the last ulps), the
    same accepted posture as text_unigram_logprob's avg(log10); the
    1e-6 round keeps ulp-scale fold noise (relative ~1e-15 on O(1-10²)
    sums) far under the hash grain, and ranking ties are broken by
    doc_id in both engines.

    Plan shape at 100 TB: ONE vocabulary aggregation carries both
    distributions (raw count + conditional target count per token), and
    the table is vocabulary-bounded (Heaps' law keeps it
    broadcast-sized); the token stream joins against that single
    BROADCAST relation and partial-aggregates per doc in place (explode
    preserves doc locality), so nothing fact-scale shuffles; the
    shortlist is TakeOrderedAndProject. Reference scope: no statistics
    surface in the reference (README.md:1-9) — 'beyond' tier."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    # ONE vocabulary aggregation carries both distributions: raw count +
    # conditional target count per token (instead of two groupBys and a
    # second hot-path join — one less corpus scan, one less join).
    freq = tok.groupBy("w").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("int")).alias("ct"),
    )
    tot = freq.agg(
        F.sum("cr").cast("double").alias("nr"),
        F.sum("ct").cast("double").alias("nt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    term = F.log(
        (F.col("ct") + DSIR_SMOOTH) / (F.col("nt") + DSIR_SMOOTH * F.col("v"))
    ) - F.log((F.col("cr") + DSIR_SMOOTH) / (F.col("nr") + DSIR_SMOOTH * F.col("v")))
    scored = (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"), F.sum(term).alias("lw"))
    )
    from spark_jdbc_limit_spark.operators.relational import round_dbl

    # rank on the ROUNDED weight (doc_id tiebreak): both engines sort
    # bit-identical post-round values, so shortlist membership can't flip
    # on fold-order ulps at a rank-25/26 hairline gap (round-10 ADVICE)
    return (
        scored.join(d.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("log_weight", round_dbl(F.col("lw"), 6))
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(DSIR_TOP_K)
        .select("doc_id", "lang", "source", "n_tokens", "log_weight")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Capped-proportional budget allocation (waterfilling) + rejection balancing
# ---------------------------------------------------------------------------

#: global token budget as a fraction of the corpus (numerator/denominator —
#: integer arithmetic end to end).
ALLOC_BUDGET_NUM, ALLOC_BUDGET_DEN = 1, 2


def _alloc_oracle() -> str:
    return f"""
        WITH src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS w,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(cap) * {ALLOC_BUDGET_NUM} // {ALLOC_BUDGET_DEN} AS budget
            FROM src
        ),
        ranked AS (
            -- ratio-ascending order via the integer cross-product compare:
            -- cap_i/w_i sorts identically to cap_i*w_j <=> cap_j*w_i, so
            -- ORDER BY cap*1.0/w would do, but the PREFIX sums below are
            -- what the cap test needs; ties break by source for total order
            SELECT s.*, t.budget,
                   COALESCE(SUM(cap) OVER (ORDER BY cap * 1.0 / w, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS prefix_cap,
                   SUM(w) OVER (ORDER BY cap * 1.0 / w, source
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS suffix_w
            FROM src s CROSS JOIN tot t
        ),
        capped AS (
            SELECT *,
                   (budget - prefix_cap) * w >= cap * suffix_w AS is_capped
            FROM ranked
        ),
        waterline AS (
            SELECT COALESCE(SUM(CASE WHEN is_capped THEN cap END), 0) AS capped_cap,
                   SUM(CASE WHEN NOT is_capped THEN w END) AS free_w
            FROM capped
        )
        SELECT c.source, c.w AS n_docs, c.cap AS available_tokens,
               CAST(CASE WHEN c.is_capped THEN c.cap
                    ELSE (c.budget - wl.capped_cap) * c.w // wl.free_w
                    END AS BIGINT) AS allocated_tokens,
               c.is_capped
        FROM capped c CROSS JOIN waterline wl
        ORDER BY c.source
    """


@query(
    "mix_capped_allocation_waterfill",
    category="llm_pipeline",
    description=f"Capped-proportional token-budget allocation across sources (waterfilling), budget = {ALLOC_BUDGET_NUM}/{ALLOC_BUDGET_DEN} of corpus",
    oracle=_alloc_oracle(),
)
def mix_capped_allocation_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-planning allocation every budgeted pretraining run
    solves: split a global token budget across sources proportionally
    to their weights (doc counts here), EXCEPT no source can contribute
    more than it has — capped sources saturate and their residual
    budget redistributes among the rest (waterfilling). Closed form,
    not a loop: sort sources by capacity/weight ascending; a source is
    capped iff its fair share of the budget REMAINING at its position
    already exceeds its capacity — the classic cross-multiplied test
    (budget − prefix_cap)·w ≥ cap·suffix_w, monotone along the sort,
    so one window pass decides every source and a second computes the
    shared waterline. Every quantity is an exact integer (counts,
    token sums, floor divisions); the only float is the sort key
    cap/w, whose ORDER is what matters and ties break by source name.

    Plan shape: one partial-aggregated corpus pass into a
    sources-cardinality micro relation; every window below runs over
    those ~20 rows. At 100 TB only the scan grows. Reference scope:
    no mixture surface in the reference (README.md:1-9)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("cap"),
    )
    # integer `div`, not `/`: the double quotient would shed exactness
    # past 2^53 total tokens while the oracle's `//` stays exact
    tot = src.agg(F.sum("cap").alias("sc")).select(
        F.expr(f"sc * {ALLOC_BUDGET_NUM} div {ALLOC_BUDGET_DEN}").alias("budget")
    )
    order = [(F.col("cap") * 1.0 / F.col("w")), F.col("source")]
    w_prefix = W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    w_suffix = W.orderBy(*order).rowsBetween(W.currentRow, W.unboundedFollowing)
    ranked = src.crossJoin(F.broadcast(tot)).select(
        "*",
        F.coalesce(F.sum("cap").over(w_prefix), F.lit(0)).alias("prefix_cap"),
        F.sum("w").over(w_suffix).alias("suffix_w"),
    )
    # DECIMAL(19,0) cross-products: at 100 TB (budget ~1e13 tokens x
    # doc counts ~1e7) the int64 products overflow; the oracle side is
    # already exact because DuckDB's SUM yields HUGEINT which dominates
    # the arithmetic (the quantile-normalize decimal-div precedent)
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    capped = ranked.withColumn(
        "is_capped",
        dec(F.col("budget") - F.col("prefix_cap")) * dec(F.col("w"))
        >= dec(F.col("cap")) * dec(F.col("suffix_w")),
    )
    waterline = capped.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_capped"), F.col("cap"))), F.lit(0)
        ).alias("capped_cap"),
        F.sum(F.when(~F.col("is_capped"), F.col("w"))).alias("free_w"),
    )
    alloc = F.when(F.col("is_capped"), F.col("cap")).otherwise(
        F.expr(
            "CAST(CAST(budget - capped_cap AS DECIMAL(19,0))"
            "     * CAST(w AS DECIMAL(19,0)) AS DECIMAL(38,0))"
            " div CAST(free_w AS DECIMAL(19,0))"
        )
    )
    return (
        capped.crossJoin(F.broadcast(waterline))
        .select(
            "source",
            F.col("w").alias("n_docs"),
            F.col("cap").alias("available_tokens"),
            alloc.cast("long").alias("allocated_tokens"),
            "is_capped",
        )
        .orderBy("source")
    )


#: rejection balancing: the target is a UNIFORM share per source.
REJECT_TARGET_PCT_SCALE = 100


def _rejection_oracle() -> str:
    h = _sql_hash_pct("doc_id")
    return f"""
        WITH src AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(n) AS total, COUNT(*) AS k FROM src
        ),
        thr AS (
            SELECT s.source, s.n,
                   LEAST(100, t.total * {REJECT_TARGET_PCT_SCALE}
                              // (t.k * s.n)) AS accept_pct
            FROM src s CROSS JOIN tot t
        )
        SELECT d.source,
               MAX(t.n) AS n_docs,
               CAST(MAX(t.accept_pct) AS BIGINT) AS accept_pct,
               CAST(SUM(CASE WHEN {h} < t.accept_pct THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_accepted
        FROM documents d JOIN thr t USING (source)
        GROUP BY d.source ORDER BY d.source
    """


@query(
    "sample_rejection_source_balance",
    category="llm_pipeline",
    description="Deterministic rejection sampling toward uniform source shares (integer accept thresholds, Knuth-hash membership)",
    oracle=_rejection_oracle(),
)
def sample_rejection_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source balancing by REJECTION, not quota: over-represented
    sources get a per-source acceptance threshold
    min(100, floor(100·(N/k)/n_s)) — the uniform target share divided
    by the source's actual share — and each document accepts iff its
    deterministic Knuth-hash percent clears the threshold. Unlike the
    top-N quota entry (sample_quota_per_source), rejection needs NO
    per-source ordering or rank state: membership is a pure function
    of (doc_id, source statistics), so it composes with streaming
    ingest and backfills (same doc → same verdict, forever). All
    integer arithmetic; the expected accepted count is n_s·pct/100
    and the exact realized count is what both engines must agree on.

    Plan shape: one micro aggregation for the thresholds (broadcast
    back), one scan-speed filter — no shuffle of the corpus at all
    beyond the count. At 100 TB this is the cheapest balancing
    operator in the catalog."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = src.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    thr = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.least(
            F.lit(100).cast("long"),
            F.expr(f"total * {REJECT_TARGET_PCT_SCALE} div (k * n)"),
        ).alias("accept_pct"),
    )
    return (
        d.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("accept_pct").cast("long").alias("accept_pct"),
            F.sum(
                (_hash_pct_col(F.col("doc_id")) < F.col("accept_pct")).cast("int")
            )
            .cast("long")
            .alias("n_accepted"),
        )
        .orderBy("source")
    )



# ---------------------------------------------------------------------------
# Cross-document n-gram novelty (memorization-risk audit)
# ---------------------------------------------------------------------------

#: novelty percentile bands for the summary verdict column.
NOVELTY_LOW_PCT = 50


def _novelty_oracle() -> str:
    from spark_jdbc_limit_spark.operators.dedup import SHINGLE_K
    from spark_jdbc_limit_spark.operators.relational import sql_round_dbl

    return f"""
        WITH sh AS ({_sql_shingles(SHINGLE_K)}),
        df AS (
            SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs FROM sh GROUP BY h
        ),
        per_doc AS (
            SELECT s.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_novel
            FROM sh s JOIN df d USING (h)
            GROUP BY s.doc_id
        )
        SELECT p.doc_id, docs.source, p.n_shingles, p.n_novel,
               {sql_round_dbl('CAST(p.n_novel AS DOUBLE) / p.n_shingles', 4)}
                   AS novelty,
               (p.n_novel * 100 < p.n_shingles * {NOVELTY_LOW_PCT})
                   AS mostly_shared
        FROM per_doc p JOIN documents docs USING (doc_id)
        ORDER BY p.doc_id
    """


@query(
    "text_ngram_novelty_cross_doc",
    category="llm_text",
    description="Cross-document shingle novelty per doc: fraction of its 3-gram shingles appearing in NO other document",
    oracle=_novelty_oracle(),
)
def text_ngram_novelty_cross_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memorization-risk audit decontamination does NOT cover:
    decontaminate_ngram_overlap checks docs against a fixed benchmark
    set, while this entry measures how much of each document's shingle
    mass is shared with the REST OF THE CORPUS — low novelty marks
    boilerplate, mirror copies, and template farms that survive exact
    dedup. novelty = |shingles with document frequency 1| / |shingles|,
    on the same rolling-hash shingles the dedup family uses
    (operators/dedup.py: shuffle-free per-doc mapInPandas here, the
    hash-identical SQL expansion in the oracle — approximate family,
    exact differential). The verdict compares INTEGER cross-products
    (n_novel·100 < n_shingles·50), no float in the boolean.

    Plan shape at 100 TB: one shingle pass (scan-speed, per-doc-local
    dedup), one document-frequency groupBy (shingle-vocabulary-sized
    shuffle — the same relation every MinHash stage builds), one join
    back + per-doc partial agg. Nothing quadratic: sharing is measured
    through the df relation, never through doc-pair comparison."""
    from spark_jdbc_limit_spark.operators.relational import round_dbl

    d = load_table(spark, sf_dir, "documents")
    # sh feeds BOTH the document-frequency aggregate and the join-back
    # side, and the two subtrees alias differently, so no exchange reuse
    # fires — without the checkpoint the Arrow shingle pass ran twice
    # (the minhash entries' pattern; plan: 4 MapInPandas → 2,
    # optimization round 14, guide §4/§5)
    sh = shingle_hashes(d).localCheckpoint(eager=False)
    df_rel = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sh.join(df_rel, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("n_docs") == 1).cast("int")).cast("long").alias("n_novel"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_shingles",
            "n_novel",
            round_dbl(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 4
            ).alias("novelty"),
            (F.col("n_novel") * 100 < F.col("n_shingles") * NOVELTY_LOW_PCT).alias(
                "mostly_shared"
            ),
        )
        .orderBy("doc_id")
    )


#: KS uniformity critical coefficient at alpha = 0.05 (one-sample).
KS_UNIF_COEF = 1.36


@query(
    "dq_hash_uniformity_ks_audit",
    category="llm_pipeline",
    description="One-sample KS uniformity audit of the Knuth sampling hash over its 100-value percent domain",
    oracle=f"""
        WITH h AS (
            SELECT {_sql_hash_pct('doc_id')} AS pct FROM documents
        ),
        b AS (
            SELECT pct, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY pct
        ),
        e AS (
            SELECT pct, c,
                   SUM(c) OVER (ORDER BY pct
                       ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER () AS n
            FROM b
        ),
        d AS (
            SELECT MAX(GREATEST(
                       ABS(CAST(cum AS DOUBLE) / n - (pct + 1) / 100.0),
                       ABS(CAST(cum - c AS DOUBLE) / n - pct / 100.0)
                   )) AS ks_d,
                   MAX(n) AS n
            FROM e
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               {{r6_d}} AS ks_d,
               {{r6_crit}} AS ks_crit,
               {{r6_d}} <= {{r6_crit}} AS uniform_ok
        FROM d
    """.replace("{r6_d}", "FLOOR((ks_d) * 1000000.0 + 0.5) / 1000000.0")
       .replace("{r6_crit}", f"FLOOR(({KS_UNIF_COEF} / sqrt(CAST(n AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0"),
)
def dq_hash_uniformity_ks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit of this module's OWN sampling primitive: every
    deterministic-sampling entry trusts that the Knuth multiplicative
    hash maps doc_id uniformly onto 0..99 — this entry MEASURES that
    with a one-sample KS test against the discrete uniform CDF
    (D = max over the domain of the ecdf deviation, both step sides
    checked, which for a discrete statistic needs only the 100-value
    bucket relation, not per-row order statistics). Counts and
    cumulative sums are exact integers; D and the 1.36/sqrt(n)
    critical value are fixed float trees over them, and the verdict
    compares the ROUNDED values (the rounded-verdict rule). A failing
    audit here would invalidate sample_deterministic_hash,
    sample_rejection_source_balance, and the bootstrap's hash draws —
    which is exactly why a pipeline ships it.

    Plan: one scan-speed hash projection, a 100-group partial agg, and
    windows over the 100-row bucket relation. At 100 TB only the scan
    grows."""
    from pyspark.sql import Window as W

    from spark_jdbc_limit_spark.operators.relational import round_dbl

    d = load_table(spark, sf_dir, "documents")
    b = d.select(_hash_pct_col(F.col("doc_id")).alias("pct")).groupBy("pct").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = W.orderBy("pct").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    e = b.select(
        "pct",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    dev = F.greatest(
        F.abs(F.col("cum").cast("double") / F.col("n") - (F.col("pct") + 1) / 100.0),
        F.abs(
            (F.col("cum") - F.col("c")).cast("double") / F.col("n")
            - F.col("pct") / 100.0
        ),
    )
    agg = e.agg(F.max(dev).alias("ks_d"), F.max("n").alias("n"))
    d_r = round_dbl(F.col("ks_d"), 6)
    crit_r = round_dbl(
        F.lit(KS_UNIF_COEF) / F.sqrt(F.col("n").cast("double")), 6
    )
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        d_r.alias("ks_d"),
        crit_r.alias("ks_crit"),
        (d_r <= crit_r).alias("uniform_ok"),
    )


# ---------------------------------------------------------------------------
# Token-budget-constrained corpus selection (round 14)

#: Global token budget for the greedy selection, as a fraction of the
#: corpus (numerator/denominator — integer arithmetic end to end).
TBS_BUDGET_NUM = 1
TBS_BUDGET_DEN = 4
#: The quality proxy is the distinct-token ratio rounded half-up to this
#: integer scale BEFORE ordering/bucketing (the round-before-classify
#: discipline): both engines compute the identical IEEE expression, so
#: the selection order — (score_r DESC, doc_id) — is bit-deterministic.
TBS_SCORE_SCALE = 10_000


@query(
    "pipeline_token_budget_select",
    category="llm_pipeline",
    description=(
        f"Greedy token-budget selection: highest-quality docs (distinct-"
        f"token ratio) until {TBS_BUDGET_NUM}/{TBS_BUDGET_DEN} of corpus "
        f"tokens, two-phase bucketed (boundary-bucket-only exact sort)"
    ),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(floor(
                       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) * {TBS_SCORE_SCALE} + 0.5
                   ) AS BIGINT) AS score_r
            FROM documents
        ),
        b AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) * {TBS_BUDGET_NUM}
                   // {TBS_BUDGET_DEN} AS budget
            FROM base
        ),
        run AS (
            SELECT base.*, b.budget,
                   SUM(n_tokens) OVER (
                       ORDER BY score_r DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM base, b
        )
        SELECT doc_id, source, score_r, n_tokens,
               CAST(budget AS BIGINT) AS budget_tokens,
               CAST(CASE WHEN cum <= budget THEN 1 ELSE 0 END AS INT)
                   AS selected
        FROM run
        ORDER BY doc_id
    """,
)
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection every budgeted pretraining run performs after
    allocation: given a global token budget (1/4 of corpus tokens
    here), keep the highest-quality
    documents — quality proxied by the distinct-token ratio, the
    cheapest scan-local repetition signal — until the budget is
    exhausted. Selection is the largest PREFIX of the
    (score DESC, doc_id) order whose inclusive running token total fits
    the budget: deterministic, reproducible across re-runs/shards, and
    complementary to ``mix_capped_allocation_waterfill`` (which decides
    per-SOURCE budgets; this decides WHICH documents — compose them by
    running this per source with the waterfilled budgets).

    The oracle is the obvious corpus-wide window cumsum; the ENGINE
    never runs one. Two-phase shape (the ``global_rownum_two_phase`` /
    ``sample_stratified_exact`` discipline): scores quantize to
    <= 10000+1 integer buckets, one partial-aggregated
    groupBy yields per-bucket token sums, a window over THAT micro
    relation computes bucket-prefix totals, and each doc's verdict is a
    broadcast-join lookup — full buckets are decided with zero sorting,
    and only the single BOUNDARY bucket (prefix crosses the budget
    inside it) pays an exact within-bucket sort, whose doc_id tie-break
    is exact because equal scores always share a bucket. At 100 TB the
    corpus-sized work is one scan + one micro-keyed aggregate; the
    boundary sort touches one score-bucket's docs."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_tok = F.size(w).cast("long")
    score_r = F.floor(
        F.size(F.array_distinct(w)).cast("double") / F.size(w)
        * TBS_SCORE_SCALE
        + F.lit(0.5)
    ).cast("long")
    # lineage cut: base feeds the budget agg, the bucket agg, and the
    # verdict fan-back
    base = d.select(
        "doc_id", "source", n_tok.alias("n_tokens"), score_r.alias("score_r")
    ).localCheckpoint(eager=False)
    budget = base.agg(F.sum("n_tokens").alias("t")).select(
        F.expr(f"t * {TBS_BUDGET_NUM} div {TBS_BUDGET_DEN}").alias("budget")
    )
    buckets = base.groupBy("score_r").agg(F.sum("n_tokens").alias("btok"))
    w_before = W.orderBy(F.col("score_r").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    bucket_run = (
        buckets.select(
            "score_r",
            "btok",
            F.coalesce(F.sum("btok").over(w_before), F.lit(0)).alias("cum_before"),
        )
        .crossJoin(F.broadcast(budget))
    )
    joined = base.join(F.broadcast(bucket_run), "score_r")
    full_in = F.col("cum_before") + F.col("btok") <= F.col("budget")
    all_out = F.col("cum_before") >= F.col("budget")
    decided = joined.filter(full_in | all_out).select(
        "doc_id",
        "source",
        "score_r",
        "n_tokens",
        F.col("budget").alias("budget_tokens"),
        full_in.cast("int").alias("selected"),
    )
    w_in_bucket = (
        W.partitionBy("score_r")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    boundary = (
        joined.filter(~full_in & ~all_out)
        .select(
            "doc_id",
            "source",
            "score_r",
            "n_tokens",
            F.col("budget").alias("budget_tokens"),
            (
                F.col("cum_before") + F.sum("n_tokens").over(w_in_bucket)
                <= F.col("budget")
            )
            .cast("int")
            .alias("selected"),
        )
    )
    return decided.unionByName(boundary).orderBy("doc_id")
