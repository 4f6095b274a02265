"""Text-analysis operators over the documents table (north-star LLM
pipeline, SURVEY.md §2B; build plan M5): token counting, quality scoring,
language identification, and document fingerprinting.

The relational-shaped ops stay 100% JVM-side (built-in string/array
functions inside whole-stage codegen) — at 100 TB these run at scan
speed with zero Python serialization. The one exception is
``text_char_entropy``, which is per-document-local math with no
relational structure: an Arrow-batched ``mapInPandas`` histogram beats
the explode-per-character formulation by ~5× at sf0.1 and removes its
doc-length-multiplied shuffle entirely. Each op has an exact SQL twin;
the language-ID
heuristic is deterministic lexicon scoring (the harness corpus is
synthetic word salad, so the operator is verified for determinism and
engine parity, not linguistic accuracy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import NEWLINE_CLASS, round_dbl, sql_round_dbl
from spark_jdbc_limit_spark.sources.catalog import load_table

#: BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

#: tiny per-language stopword lexicons for the heuristic language scorer.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "es"),
    "fr": ("le", "la", "les", "des", "et", "est"),
    "zh": ("的", "是", "了", "在", "我", "有"),
}


def _tokens(col):
    return F.split(col, " ")


def grams3(words, n):
    """Word-3-gram list via slice + zip_with — deliberately WITHOUT indexed
    ``element_at(words, i)`` lambdas: higher-order lambdas are interpreted
    (no codegen), and when Catalyst's predicate pushdown / project collapse
    inlines ``words`` back to ``split(text)``, an indexed formulation
    re-splits the text once per gram (O(n²) splits per document). The
    slice/zip_with shape evaluates its ``words`` argument a constant ~4
    times per row no matter what the optimizer inlines."""
    m = F.greatest(n - 2, F.lit(0))
    w1 = F.slice(words, 1, m)
    w2 = F.slice(words, 2, m)
    w3 = F.slice(words, 3, m)
    pair = F.zip_with(w1, w2, lambda a, b: F.concat_ws(" ", a, b))
    return F.zip_with(pair, w3, lambda ab, c: F.concat_ws(" ", ab, c))


@query(
    "text_token_stats",
    category="llm_text",
    description="Whitespace + BPE-ish token counts and word-length stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpeish,
               CAST(LENGTH(text) AS BIGINT) AS n_chars_measured,
               {sql_round_dbl(
                   "CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))", 4
               )} AS avg_word_len
        FROM documents
        ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.regexp_count("text", F.lit(BPE_RE)).cast("long").alias("n_bpeish"),
            F.length("text").cast("long").alias("n_chars_measured"),
            round_dbl(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
                / F.size(toks),
                4,
            ).alias("avg_word_len"),
        )
    )


@query(
    "text_quality_score",
    category="llm_text",
    description="Document quality: length/stopword/uniqueness signals",
    oracle=f"""
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stopwords,
               {sql_round_dbl(
                   "CAST(len(list_filter(string_split(text, ' '), "
                   "x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE)"
                   " / len(string_split(text, ' '))", 4
               )} AS stopword_ratio,
               {sql_round_dbl(
                   "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
                   " / len(string_split(text, ' '))", 4
               )} AS distinct_ratio,
               CASE WHEN LENGTH(text) BETWEEN 100 AND 5000
                     AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')) > 0.3
                    THEN 1 ELSE 0 END AS quality_pass
        FROM documents
        ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate (the C4/Gopher-style signals expressible
    without models): stopword density, vocabulary diversity, length band."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stop = F.array([F.lit(w) for w in LANG_LEXICONS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).cast("long")
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return (
        d.select(
            "doc_id",
            n_stop.alias("n_stopwords"),
            round_dbl(n_stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
            round_dbl(distinct_ratio, 4).alias("distinct_ratio"),
            F.when(
                F.length("text").between(100, 5000) & (distinct_ratio > 0.3), 1
            )
            .otherwise(0)
            .alias("quality_pass"),
        )
    )


def _sql_lang_score(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({words})))"


@query(
    "text_language_id",
    category="llm_text",
    description="Lexicon-vote language ID (deterministic heuristic)",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   {_sql_lang_score('de')} AS s_de,
                   {_sql_lang_score('en')} AS s_en,
                   {_sql_lang_score('es')} AS s_es,
                   {_sql_lang_score('fr')} AS s_fr,
                   {_sql_lang_score('zh')} AS s_zh
            FROM documents
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE GREATEST(s_de, s_en, s_es, s_fr, s_zh)
                    WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                    WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
        FROM scored
        ORDER BY doc_id
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax over per-language lexicon hit counts, ties broken in fixed
    lexicon order (de,en,es,fr,zh) — mirrored exactly by the oracle CASE."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))

    def lex_score(words: tuple[str, ...]):
        lex = F.array([F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(lex, x)))

    scores = {lang: lex_score(ws) for lang, ws in LANG_LEXICONS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .when(scores["fr"] == best, "fr")
        .otherwise("zh")
    )
    return (
        d.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))
    )


#: rolling-hash constants: base 131, modulus 2^31-1 (products stay < 2^38,
#: far inside int64 — safe under ANSI overflow checking in both engines).
FP_BASE = 131
FP_MOD = 2_147_483_647


@query(
    "text_fingerprint",
    category="llm_text",
    description="Polynomial rolling-hash fingerprint of normalized text",
    oracle=f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(string_split(LOWER(text), ' '),
                           w -> list_reduce(
                                    list_prepend(0::BIGINT,
                                        list_transform(regexp_extract_all(w, '.'),
                                                       c -> unicode(c)::BIGINT)),
                                    (a, c) -> (a * {FP_BASE} + c) % {FP_MOD}))),
                   (acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD}) AS fingerprint
        FROM documents
        ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level deterministic hash (chars→word hash, word hashes→doc
    fingerprint) built from pure int64 arithmetic so ANY engine reproduces
    it bit-for-bit — the engine-portable alternative to xxhash64/md5 when
    the oracle must recompute the value."""
    d = load_table(spark, sf_dir, "documents")
    word_hash = lambda w: F.aggregate(  # noqa: E731
        F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda a, c: (a * FP_BASE + c) % FP_MOD,
    )
    doc_fp = F.aggregate(
        F.transform(_tokens(F.lower(F.col("text"))), word_hash),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_BASE + h) % FP_MOD,
    )
    return d.select("doc_id", doc_fp.alias("fingerprint"))


@query(
    "text_repetition_ratio",
    category="llm_text",
    description="Within-doc repetition: duplicate-word and duplicate-3-gram ratios",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        ),
        g AS (
            SELECT doc_id, n_words, words,
                   list_transform(range(1, n_words - 1),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
            FROM w
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               {sql_round_dbl('1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / n_words', 4)}
                   AS word_rep_ratio,
               CASE WHEN n_words >= 3 THEN
                   {sql_round_dbl('1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / (n_words - 2)', 4)}
               ELSE 0.0 END AS gram_rep_ratio
        FROM g
        ORDER BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/C4-style repetition quality signal: what fraction of a
    document's words (and word-3-grams) are repeats. Pure higher-order
    array functions — ``transform`` over a ``sequence`` builds the 3-gram
    list without exploding rows, so the whole signal stays inside
    whole-stage codegen with zero shuffles and zero Python; at 100 TB this
    is a scan-speed map, unlike the explode→groupBy formulation whose
    intermediate is 3× the corpus."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", _tokens(F.col("text")).alias("words")).select(
        "doc_id", "words", F.size("words").alias("n")
    )
    n = F.col("n")
    counted = base.select(
        "doc_id",
        "n",
        F.size(F.array_distinct("words")).alias("n_uniq_words"),
        F.when(n >= 3, F.size(F.array_distinct(grams3(F.col("words"), n)))).alias(
            "n_uniq_grams"
        ),
    )
    return counted.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        round_dbl(F.lit(1.0) - F.col("n_uniq_words").cast("double") / n, 4).alias(
            "word_rep_ratio"
        ),
        F.when(
            n >= 3,
            round_dbl(F.lit(1.0) - F.col("n_uniq_grams").cast("double") / (n - 2), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("gram_rep_ratio"),
    )


# --- PII redaction ---------------------------------------------------------
# Patterns restricted to the syntax subset where Java regex (Spark) and RE2
# (DuckDB) agree: character classes, bounded repetition, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_LONGNUM_RE = r"[0-9]{7,}"


def redact_pii(col):
    """Chained PII scrub expression: emails → IPv4 → 7+ digit runs.
    Order matters: the email/IP replacement tokens contain no digits, so
    the long-number pass cannot re-match inside an earlier replacement."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE,
            "<IP>",
        ),
        PII_LONGNUM_RE,
        "<NUM>",
    )


@query(
    "text_pii_redaction",
    category="llm_text",
    description="Regex PII scrub: email/IP/long-number redaction with counts",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id ||
                   '@example.com ip 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
                   ' acct ' || (1000000 + doc_id * 7919) AS t
            FROM documents
        ),
        red AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, '{PII_IP_RE}')) AS BIGINT) AS n_ips,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                           '{PII_IP_RE}', '<IP>', 'g'),
                       '{PII_LONGNUM_RE}', '<NUM>', 'g') AS redacted
            FROM aug
        )
        SELECT doc_id, n_emails, n_ips,
               CAST(LENGTH(redacted) AS BIGINT) AS redacted_len,
               md5(redacted) AS redacted_md5
        FROM red
        ORDER BY doc_id
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: chained ``regexp_replace`` for
    emails → IPv4 → long digit runs, plus per-class match counts. The
    harness corpus is digit-free word salad, so the query first augments
    each document with deterministic synthetic PII derived from ``doc_id``
    (same expression in the oracle) — the differential then genuinely
    exercises regex parity between engines instead of comparing zeros.

    Scale: pure codegen string ops, zero shuffles — redaction runs at scan
    speed on 100 TB exactly like the reference's filter pushdown keeps
    scans tight (reference: JDBCRDDWithLimit.scala:45-48 keeps predicates
    at the source; here the scrub itself stays in the scan stage)."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" acct "),
            (F.lit(1000000) + F.col("doc_id") * 7919).cast("string"),
        ).alias("t"),
    )
    red = aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        redact_pii(F.col("t")).alias("redacted"),
    )
    return red.select(
        "doc_id",
        "n_emails",
        "n_ips",
        F.length("redacted").cast("long").alias("redacted_len"),
        F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"),
    )  # no trailing sort: the harness compares order-insensitively


NGRAM_TOPK = 100


@query(
    "text_ngram_topk",
    category="llm_text",
    description=f"Corpus-wide bigram heavy hitters, top {NGRAM_TOPK} with total tie-break",
    oracle=f"""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        g AS (
            SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
            FROM w
        )
        SELECT gram, COUNT(*) AS cnt
        FROM g
        GROUP BY gram
        ORDER BY cnt DESC, gram
        LIMIT {NGRAM_TOPK}
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency (LM-training n-gram stats / heavy
    hitters). Bigrams come from the same slice+zip_with shape as
    :func:`grams3` — codegen-friendly, constant re-evaluations of the
    split under optimizer inlining. One explode then one hash aggregate:
    the explode's map-side partial aggregation collapses each partition's
    grams before the single shuffle, so at 100 TB the exchange carries
    (distinct grams × partitions), not 1 bigram-per-word rows. Total
    ordering (count desc, gram asc) makes top-k deterministic."""
    d = load_table(spark, sf_dir, "documents")
    words = _tokens(F.col("text"))
    base = d.select(words.alias("words")).select(
        "words", F.greatest(F.size("words") - 1, F.lit(0)).alias("m")
    )
    w1 = F.slice("words", 1, F.col("m"))
    w2 = F.slice("words", 2, F.col("m"))
    grams = F.zip_with(w1, w2, lambda a, b: F.concat_ws(" ", a, b))
    return (
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "gram")
        .limit(NGRAM_TOPK)
    )


@query(
    "text_unigram_logprob",
    category="llm_text",
    description="Unigram log-prob quality score (KenLM-style perplexity proxy)",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        freq AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ),
        tot AS (SELECT SUM(c) AS n FROM freq)
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               {sql_round_dbl('AVG(LOG10(CAST(freq.c AS DOUBLE) / tot.n))', 4)} AS avg_logprob
        FROM tok JOIN freq USING (w) CROSS JOIN tot
        GROUP BY tok.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-language-model quality signal: average per-token unigram
    log10-probability, the cheap stand-in for a KenLM perplexity filter
    (low avg logprob = rare-token soup = likely junk). Two aggregates:
    (1) corpus unigram counts — map-side partial agg, distinct-word-sized
    shuffle; (2) token→frequency lookup joined back, then a per-doc avg.
    The frequency table is vocabulary-sized (Heaps' law: ~millions of rows
    at 100 TB, a few hundred MB) so the join broadcasts and the token
    stream never shuffles; the per-doc avg partial-aggregates in place
    because explode preserves document locality within partitions."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    # corpus total as a broadcast 1-row relation — fully declarative, no
    # eager driver action; Catalyst plans it as a reused subquery result
    total = freq.agg(F.sum("c").cast("double").alias("n_total"))
    scored = tok.join(F.broadcast(freq), "w").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        round_dbl(
            F.avg(F.log10(F.col("c").cast("double") / F.col("n_total")))
        ).alias("avg_logprob"),
    )


TFIDF_TOPK = 3


@query(
    "text_tfidf_topk",
    category="llm_text",
    description=f"TF-IDF top-{TFIDF_TOPK} distinguishing terms per document",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   {sql_round_dbl('tf.tf * LN(n.n_docs / df.df)', 4)} AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, tfidf
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rn FROM scored
        )
        WHERE rn <= {TFIDF_TOPK}
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the classic "what makes this document
    different" signal used for corpus curation, topic balancing, and
    near-dup triage. Shape at 100 TB: (1) one explode + hash aggregate
    to (doc_id, term) counts — map-side partials collapse each
    partition's repeats before the only full shuffle, keyed by doc_id
    and term together so no single hot key exists; (2) document
    frequency is an aggregate OVER the tf relation (rows already
    distinct per doc×term, so ``COUNT(*)`` = #docs containing the
    term) — vocabulary-sized, broadcast back; (3) per-doc top-k via a
    window partitioned by doc_id, which reuses the doc_id-containing
    partitioning from (1). Scores are half-up rounded to 4 places
    BEFORE ranking so Spark and the oracle rank identical values; ties
    break on the term string, making top-k fully deterministic."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            round_dbl(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .drop("rn")
    )


@query(
    "text_char_entropy",
    category="llm_text",
    description="Per-document character-distribution Shannon entropy (gibberish gate)",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(
                       regexp_replace(text, '{NEWLINE_CLASS}', '', 'g'), '.')) AS c
            FROM documents
            WHERE length(regexp_replace(text, '{NEWLINE_CLASS}', '', 'g')) > 0
        ),
        freq AS (
            SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c
        ),
        tot AS (
            SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id
        )
        SELECT freq.doc_id,
               CAST(tot.total AS BIGINT) AS n_chars_counted,
               {sql_round_dbl(
                   "-SUM((n / CAST(total AS DOUBLE))"
                   " * LOG2(n / CAST(total AS DOUBLE)))", 4)}
                   AS char_entropy_bits
        FROM freq JOIN tot USING (doc_id)
        GROUP BY freq.doc_id, tot.total
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's character distribution — the
    classic cheap gibberish/binary-junk gate (natural language sits
    ~3.5–4.5 bits/char; base64 blobs and random bytes run higher,
    repeated filler collapses toward 0). Entropy is a PER-DOCUMENT
    statistic, so the right plan has ZERO shuffles: one scan, one
    ``mapInPandas`` pass computing each doc's char histogram and
    −Σp·log₂p locally (numpy unique over the code points — the explode →
    groupBy(doc, char) formulation this replaced shuffled one row per
    CHARACTER, multiplying exchange volume by mean doc length ~2000× and
    costing 3× the wall-clock at sf0.1; at 100 TB that shuffle is the
    whole job). The float sum's addition ORDER differs between engines,
    but with ≲100 similar-magnitude terms the reorder error is ~1e-14 —
    absorbed by the half-up round at 1e-4, the same tolerance argument
    every LOG-based score here uses."""
    # strip CR/LF in BOTH engines first (oracle's '.' drops newlines);
    # the emptiness filter applies POST-strip (an all-newline doc must
    # vanish from both engines).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def entropy_batches(batches):
        for pdf in batches:
            outs = {"doc_id": [], "n_chars_counted": [], "char_entropy_bits": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text must be dropped here like the oracle's WHERE
                # (and like the JVM filter this pass replaced) drops it —
                # without the guard a single NULL doc raises AttributeError
                # and fails the whole job.
                if text is None:
                    continue
                s = text.replace("\r", "").replace("\n", "")
                if not s:
                    continue
                cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                counts = np.unique(cp, return_counts=True)[1]
                p = counts / counts.sum()
                ent = float(-(p * np.log2(p)).sum())
                outs["doc_id"].append(doc_id)
                outs["n_chars_counted"].append(len(cp))
                # same half-up rounding as round_dbl
                outs["char_entropy_bits"].append(
                    np.floor(ent * 10000.0 + 0.5) / 10000.0
                )
            yield pd.DataFrame(outs).astype(
                {
                    "doc_id": "int64",
                    "n_chars_counted": "int64",
                    "char_entropy_bits": "float64",
                }
            )

    return d.mapInPandas(
        entropy_batches,
        "doc_id long, n_chars_counted long, char_entropy_bits double",
    )


#: Flesch-style readability constants (the public formula's weights).
FLESCH_BASE, FLESCH_SENT_W, FLESCH_SYL_W = 206.835, 1.015, 84.6
SYL_RE = "[aeiouyAEIOUY]+"  #: vowel-group syllable approximation
SENT_RE = "[.!?]+"


@query(
    "text_readability_flesch",
    category="llm_text",
    description="Flesch reading-ease per document (vowel-group syllable approximation)",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
                   CAST(GREATEST(len(regexp_extract_all(text, '{SENT_RE}')), 1)
                        AS DOUBLE) AS n_sents,
                   CAST(len(regexp_extract_all(text, '{SYL_RE}'))
                        AS DOUBLE) AS n_syl
            FROM documents
            WHERE length(text) > 0
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sents AS BIGINT) AS n_sentences,
               CAST(n_syl AS BIGINT) AS n_syllables,
               {sql_round_dbl(
                   f'{FLESCH_BASE} - {FLESCH_SENT_W} * (n_words / n_sents)'
                   f' - {FLESCH_SYL_W} * (n_syl / n_words)', 4)}
                   AS flesch_score
        FROM m
        WHERE n_words > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease — the classic document-quality/complexity
    gate (curricula filters bucket training text by it): 206.835
    − 1.015·(words/sentence) − 84.6·(syllables/word),
    with syllables approximated by vowel GROUPS (the standard cheap
    estimator — exact syllabification needs a dictionary) and sentence
    count floored at 1 so fragments don't divide by zero. Pure codegen:
    three regexp counts + arithmetic per row, zero shuffles, scan-speed
    at any corpus size. Counts are integers and the formula is a fixed
    dag of exact products/divisions, so both engines agree to ~1e-13
    before the display round."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_words = F.size(F.split(F.col("text"), " ")).cast("double")
    n_sents = F.greatest(
        F.regexp_count("text", F.lit(SENT_RE)), F.lit(1)
    ).cast("double")
    n_syl = F.regexp_count("text", F.lit(SYL_RE)).cast("double")
    return d.filter(n_words > 0).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        round_dbl(
            F.lit(FLESCH_BASE)
            - F.lit(FLESCH_SENT_W) * (n_words / n_sents)
            - F.lit(FLESCH_SYL_W) * (n_syl / n_words),
            4,
        ).alias("flesch_score"),
    )


ZIPF_TOP = 1000  #: vocabulary head the log-log fit runs over


@query(
    "text_zipf_fit",
    category="llm_text",
    description=f"Zipf's-law fit: OLS slope of log-freq vs log-rank over the top-{ZIPF_TOP} tokens",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(LOWER(text), ' ')) AS t
            FROM documents
        ),
        freq AS (
            SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t
        ),
        head AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r
            FROM freq
            ORDER BY c DESC, t LIMIT {ZIPF_TOP}
        ),
        pts AS (SELECT LN(CAST(r AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
                FROM head)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_top,
               {sql_round_dbl('COVAR_POP(x, y) / VAR_POP(x)', 4)} AS zipf_slope,
               {sql_round_dbl('AVG(y) - COVAR_POP(x, y) / VAR_POP(x) * AVG(x)', 4)}
                   AS intercept,
               {sql_round_dbl('CORR(x, y)', 4)} AS corr_loglog
        FROM pts
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics health check: natural-language corpora follow
    Zipf's law (token frequency ∝ rank^s with s ≈ −1); machine-generated
    boilerplate, template spam, and over-deduplicated corpora bend the
    log-log line, so the fitted slope + correlation is a one-row
    distribution fingerprint worth tracking per ingest batch. Computed
    as closed-form OLS on (ln rank, ln freq) over the top-1000
    vocabulary head: slope = covar_pop/var_pop, intercept from the
    means, fit quality as Pearson r — all built-in JVM aggregates, no
    UDF. Scale shape: the fact-sized work is ONE partial-aggregated
    token count (explode → hash agg); the head cut is
    TakeOrderedAndProject over the vocabulary relation ((count, token)
    tie-break makes the cut deterministic in both engines), and the
    regression runs over 1000 rows. At 100 TB the vocabulary
    relation is heavy-tailed but the aggregate is map-side combined and
    the head cut never materializes a global sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).filter(F.col("t") != "")
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    head = freq.orderBy(F.col("c").desc(), "t").limit(ZIPF_TOP)
    w = Window.orderBy(F.col("c").desc(), "t")
    pts = head.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count(F.lit(1)).alias("n_top"),
        round_dbl(slope, 4).alias("zipf_slope"),
        round_dbl(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
        round_dbl(F.corr("x", "y"), 4).alias("corr_loglog"),
    )


#: two-phase cumulative-sum bucket width for the Heaps fit (doc_id
#: range per window partition; ids are dense-sequential in this corpus,
#: so each partition holds ≤ this many docs at any scale).
HEAPS_BUCKET_DOCS = 1024


@query(
    "text_heaps_law_fit",
    category="llm_text",
    description="Heaps'-law fit: OLS slope of log vocabulary size vs log cumulative tokens across the doc_id-ordered corpus prefix curve",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(LOWER(text), ' ')) AS t
            FROM documents
        ),
        tk AS (SELECT doc_id, t FROM tok WHERE t <> ''),
        per_doc AS (SELECT doc_id, COUNT(*) AS nt FROM tk GROUP BY 1),
        fd AS (SELECT t, MIN(doc_id) AS fdoc FROM tk GROUP BY 1),
        nv AS (SELECT fdoc AS doc_id, COUNT(*) AS nvt FROM fd GROUP BY 1),
        pd AS (
            SELECT p.doc_id, p.nt, COALESCE(nv.nvt, 0) AS nvt
            FROM per_doc p LEFT JOIN nv USING (doc_id)
        ),
        cum AS (
            SELECT SUM(nt) OVER (ORDER BY doc_id) AS cn,
                   SUM(nvt) OVER (ORDER BY doc_id) AS cv
            FROM pd
        ),
        pts AS (
            SELECT LN(CAST(cn AS DOUBLE)) AS x, LN(CAST(cv AS DOUBLE)) AS y,
                   cn, cv
            FROM cum
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(cn) AS BIGINT) AS total_tokens,
               CAST(MAX(cv) AS BIGINT) AS vocab_size,
               {sql_round_dbl('COVAR_POP(x, y) / VAR_POP(x)', 4)} AS heaps_beta,
               {sql_round_dbl('CORR(x, y)', 4)} AS corr_loglog
        FROM pts
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fingerprint — vocabulary growth V(N) ≈ K·N^β along the
    corpus: natural text grows vocabulary sub-linearly (β ≈ 0.4-0.6);
    template spam flattens the curve and over-aggressive near-dedup or
    synthetic token soup bends it up, so β is the ingest-batch
    companion to ``text_zipf_fit``'s slope (the two laws are duals).
    Computed exactly: each token's FIRST document (min doc_id over an
    exploded token stream) turns 'distinct count over every prefix' —
    quadratic if done naively — into one vocabulary-bounded aggregate;
    per-doc new-type counts then cumulative-sum along doc_id, and the
    (ln N, ln V) curve gets the same closed-form OLS as the Zipf entry
    (covar_pop/var_pop + Pearson r, 1e-4 round — the accepted
    float-aggregate posture).

    Scale shape: the fact-sized work is one explode + TWO map-side-
    combined aggregates (per-doc counts, per-token min); the running
    sums use the module's two-phase bucket pattern
    (1024-doc id ranges → no window partition ever holds
    more than a bucket of docs, valid because doc ids are
    dense-sequential), and the regression is one aggregate over the
    doc-cardinality curve."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).filter(F.col("t") != "")
    per_doc = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    fd = tk.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    nv = fd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nvt"))
    pd_rel = (
        per_doc.join(nv, "doc_id", "left")
        .select(
            "doc_id",
            "nt",
            F.coalesce(F.col("nvt"), F.lit(0)).alias("nvt"),
        )
        .withColumn("bucket", F.floor(F.col("doc_id") / HEAPS_BUCKET_DOCS))
        .localCheckpoint(eager=False)  # feeds local sums AND bucket totals
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pd_rel.select(
        "bucket",
        F.sum("nt").over(w_local).alias("lnt"),
        F.sum("nvt").over(w_local).alias("lnv"),
    )
    bt = pd_rel.groupBy("bucket").agg(
        F.sum("nt").alias("bnt"), F.sum("nvt").alias("bnv")
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bt.select(
        F.col("bucket").alias("o_bucket"),
        F.coalesce(F.sum("bnt").over(w_off), F.lit(0)).alias("ont"),
        F.coalesce(F.sum("bnv").over(w_off), F.lit(0)).alias("onv"),
    )
    cum = local.join(
        F.broadcast(offsets), F.col("bucket") == F.col("o_bucket")
    ).select(
        (F.col("ont") + F.col("lnt")).alias("cn"),
        (F.col("onv") + F.col("lnv")).alias("cv"),
    )
    pts = cum.select(
        F.log(F.col("cn").cast("double")).alias("x"),
        F.log(F.col("cv").cast("double")).alias("y"),
        "cn",
        "cv",
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cn").cast("long").alias("total_tokens"),
        F.max("cv").cast("long").alias("vocab_size"),
        round_dbl(slope, 4).alias("heaps_beta"),
        round_dbl(F.corr("x", "y"), 4).alias("corr_loglog"),
    )


CHUNK_WORDS = 32
CHUNK_STRIDE = 24


@query(
    "doc_chunk_sliding",
    category="llm_text",
    description=f"RAG chunking: {CHUNK_WORDS}-word sliding chunks, stride {CHUNK_STRIDE}, keyed by md5",
    oracle=f"""
        WITH exploded AS (
            SELECT doc_id, words,
                   UNNEST(range(0, CAST(floor((len(words) - 1) / {CHUNK_STRIDE})
                                        AS BIGINT) + 1)) AS chunk_idx
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents)
        )
        SELECT doc_id, chunk_idx,
               CAST(len(list_slice(words, chunk_idx * {CHUNK_STRIDE} + 1,
                                   chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}))
                    AS BIGINT) AS n_words,
               md5(array_to_string(
                   list_slice(words, chunk_idx * {CHUNK_STRIDE} + 1,
                              chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}), ' '))
                   AS chunk_md5
        FROM exploded
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-corpus chunking — the indexing-side twin of RAG: every
    document becomes overlapping 32-word windows every
    24 words (the overlap keeps answers that straddle a
    boundary findable), each chunk addressed by (doc_id, chunk_idx) and
    content-keyed by md5 for downstream chunk-level dedup / embedding
    joins. Pure codegen: split → sequence → explode → slice —
    per-row work proportional to document length, no shuffle at all
    (the explode is pipelined into the scan), so at 100 TB this runs at
    scan speed and partitions inherit the input's layout. The md5 chunk
    key makes chunk-level exact dedup a groupBy away (the
    ``dedup_passage_exact`` pattern at a different granularity)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id", words.alias("words"), F.size(words).alias("n")
    )
    last_idx = F.floor((F.col("n") - 1) / CHUNK_STRIDE).cast("int")
    chunk = F.slice(
        F.col("words"),
        F.col("chunk_idx") * CHUNK_STRIDE + 1,
        F.lit(CHUNK_WORDS),
    )
    return (
        base.select(
            "doc_id",
            "words",
            F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_words"),
            F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_md5"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 25
#: fixed keyword query for the ranked-retrieval demo; "dup" is the rare
#: high-IDF term in the synthetic corpus, the other two are commonplace.
BM25_QUERY = ("dup", "merge", "scan")

_BM25_DENOM = (
    f"(tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
)
_BM25_TERM_SCORE = (
    f"(LN(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * {BM25_K1 + 1.0})) / {_BM25_DENOM}"
)
_BM25_FIXED_SUM = " + ".join(
    f"COALESCE(SUM(CASE WHEN term = '{t}' THEN s END), 0)" for t in BM25_QUERY
)


@query(
    "text_bm25_retrieval",
    category="llm_text",
    description=f"BM25 ranked retrieval: top-{BM25_TOPK} docs for a fixed keyword query",
    oracle=f"""
        WITH stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
            FROM documents
        ),
        tf AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
                   term,
                   CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            WHERE term IN {BM25_QUERY!r}
            GROUP BY doc_id, dl, term
        ),
        dfreq AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, {_BM25_TERM_SCORE} AS s
            FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
               {sql_round_dbl(_BM25_FIXED_SUM)} AS score
        FROM scored
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval — the missing half of TF-IDF
    (``text_tfidf_topk`` characterizes documents; this one ANSWERS A
    QUERY). Shape at 100 TB:

    1. tokenize + ``term IN (query)`` BEFORE any shuffle — the filter sits
       directly on the explode output, so the only corpus-sized exchange
       carries matching postings only (for a k-term query that is k
       posting lists, a vanishing fraction of the corpus);
    2. document frequency is an aggregate OVER the posting relation —
       k rows, broadcast back;
    3. corpus stats (N, avgdl) are a one-row broadcast;
    4. the per-doc score folds the ≤k per-term partial scores in a FIXED
       term order (conditional aggregates summed expression-wise, not a
       float SUM whose addition order differs between engines), then
       half-up rounds before ranking;
    5. global top-k is ``ORDER BY … LIMIT`` → TakeOrderedAndProject —
       per-partition heaps, never a global sort.

    IDF uses the standard non-negative Robertson–Sparck Jones form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``."""
    return (
        bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 scores for ``BM25_QUERY`` over all matching
    docs, UNRANKED — shared by ``text_bm25_retrieval`` (which top-k's
    it) and the hybrid-fusion lexical arm (which ranks to arm depth)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("words")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("words").cast("double")).alias("avgdl"),
    )
    # tf feeds dfreq AND the scored probe side — checkpoint the (small,
    # posting-list-sized) relation so the corpus tokenize/filter chain
    # underneath runs once, not once per branch
    tf = (
        d.select(
            "doc_id",
            F.size("words").cast("double").alias("dl"),
            F.explode("words").alias("term"),
        )
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", "term", f"{_BM25_TERM_SCORE} AS s")
    )
    per_term = [
        F.coalesce(F.sum(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0))
        for t in BM25_QUERY
    ]
    fixed_sum = per_term[0]
    for part in per_term[1:]:
        fixed_sum = fixed_sum + part
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        round_dbl(fixed_sum).alias("score"),
    )


BIGRAM_SMOOTH_K = 0.5  # add-k smoothing mass per bigram type


@query(
    "text_bigram_perplexity",
    category="llm_text",
    description="Per-document perplexity under an add-k-smoothed corpus bigram LM",
    oracle=f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        bg AS (
            SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
            FROM ws, UNNEST(range(1, len(ws))) AS t(i)
            WHERE len(ws) >= 2
        ),
        big AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2 FROM bg GROUP BY w1, w2),
        ctx AS (SELECT w1, SUM(c2) AS c1 FROM big GROUP BY w1),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        ),
        scored AS (
            SELECT bg.doc_id,
                   LN((big.c2 + {BIGRAM_SMOOTH_K}) / (ctx.c1 + {BIGRAM_SMOOTH_K} * vocab.v)) AS lp
            FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               {sql_round_dbl('-AVG(lp)')} AS cross_entropy,
               {sql_round_dbl('EXP(-AVG(lp))')} AS perplexity
        FROM scored
        GROUP BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own add-k bigram model —
    the CCNet-style quality filter one rung above
    ``text_unigram_logprob`` (junk shows up as improbable TRANSITIONS,
    not just rare words: shuffled text keeps its unigram score but its
    bigram perplexity explodes).

    Model: P(w2|w1) = (c(w1,w2) + k) / (c(w1→·) + k·V) with
    k=0.5 and V the corpus vocabulary size; context mass
    c(w1→·) is the sum of bigram counts from w1, so every conditional
    distribution is properly normalized over the smoothed vocabulary.

    Shape at 100 TB: bigram extraction is per-document-local
    (slice + zip_with, the ``grams3`` discipline — constant evaluations
    of the split per row, codegen throughout); the model tables are
    bigram-type- and vocabulary-sized aggregates (Heaps' law keeps both
    broadcastable), so the token stream joins against broadcasts and
    never re-shuffles; the per-doc reduction partial-aggregates in
    place. The vocabulary count is a second (column-pruned) pass over
    the text — deliberate: V must include doc-final words the bigram
    relation drops, and caching split word arrays corpus-wide to save
    one scan is a worse trade at 100 TB than re-reading one column (in
    a real pipeline V comes from the unigram model table that already
    exists). Docs under 2 tokens have no bigrams and drop out in both
    engines."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("words")
    )
    m = F.greatest(F.size("words") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("words", 1, m),
        F.slice("words", 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # big feeds ctx AND the broadcast join — checkpoint the (micro,
    # bigram-type-sized) model table so the corpus-sized bigram aggregate
    # underneath runs once, not once per branch (no CSE across branches)
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c2"))
        .localCheckpoint(eager=False)
    )
    ctx = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_tokens(F.col("text"))).alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    lp = F.log(
        (F.col("c2") + BIGRAM_SMOOTH_K)
        / (F.col("c1") + BIGRAM_SMOOTH_K * F.col("v"))
    )
    return (
        bg.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_dbl(-F.avg(lp)).alias("cross_entropy"),
            round_dbl(F.exp(-F.avg(lp))).alias("perplexity"),
        )
    )


#: PMI collocation floor: bigrams must occur at least this often to be
#: scored (rare-pair PMI is pure noise — the classic failure mode).
PMI_MIN_COUNT = 5


@query(
    "text_pmi_collocations",
    category="llm_text",
    description=f"Pointwise mutual information for adjacent-word collocations (count floor {PMI_MIN_COUNT})",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        toks AS (SELECT unnest(w) AS t FROM words),
        uni AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
        n AS (SELECT COUNT(*) AS total FROM toks),
        bi AS (
            SELECT w[i] AS t1, w[i+1] AS t2, COUNT(*) AS c
            FROM words, UNNEST(range(1, len(w))) AS u(i)
            GROUP BY 1, 2
        ),
        nb AS (SELECT SUM(c) AS total FROM bi)
        SELECT b.t1, b.t2, CAST(b.c AS BIGINT) AS c,
               {sql_round_dbl(
                   'LN((CAST(b.c AS DOUBLE) / nb.total) / '
                   '((CAST(u1.c AS DOUBLE) / n.total) * (CAST(u2.c AS DOUBLE) / n.total)))',
                   4,
               )} AS pmi
        FROM bi b
        JOIN uni u1 ON u1.t = b.t1
        JOIN uni u2 ON u2.t = b.t2, n, nb
        WHERE b.c >= {PMI_MIN_COUNT}
        ORDER BY t1, t2
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the corpus
    statistic behind multi-word-expression detection and tokenizer-merge
    candidates: PMI(x,y) = ln(p(xy) / (p(x)p(y))) compares a bigram's
    observed rate to its independence expectation. Counts are exact
    integers (bigram + unigram tables), the ratio divides exact ints in
    a fixed order, so both engines produce IEEE-identical doubles before
    the floor-round; the count floor (PMI_MIN_COUNT) kills the
    rare-pair noise that dominates raw PMI rankings, and ALL qualifying
    pairs are emitted ordered by (t1, t2) — a top-k cut at a float PMI
    boundary would make the result set tie-fragile across engines.

    Plan shape: one token explode → unigram aggregate; one zip_with
    bigram explode → bigram aggregate (both partial-aggregated, keyed
    by vocab — dimension-bounded); the PMI join joins the bigram
    relation to two broadcast unigram copies and two scalar totals. At
    100 TB the two explodes are the only fact passes; the vocab tables
    are the small side everywhere."""
    d = load_table(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("w")
    )
    toks = d.select(F.explode("w").alias("t"))
    uni = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_tot = toks.agg(F.count(F.lit(1)).alias("total"))
    m = F.greatest(F.size("w") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("w", 1, m),
        F.slice("w", 2, m),
        lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
    )
    bi = (
        d.select(F.explode(pairs).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= PMI_MIN_COUNT)
    )
    nb_tot = (
        d.select(F.explode(pairs).alias("p"))
        .agg(F.count(F.lit(1)).alias("btotal"))
    )
    u1 = uni.select(F.col("t").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c").cast("double") / F.col("btotal"))
        / (
            (F.col("c1").cast("double") / F.col("total"))
            * (F.col("c2").cast("double") / F.col("total"))
        )
    )
    return (
        bi.join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(nb_tot))
        .select("t1", "t2", "c", round_dbl(pmi, 4).alias("pmi"))
        .orderBy("t1", "t2")
    )


#: BPE pair-count step: top adjacent character pairs reported.
BPE_TOP_PAIRS = 20


@query(
    "text_bpe_top_pairs",
    category="llm_text",
    description=f"BPE merge-step candidate scan: top-{BPE_TOP_PAIRS} adjacent character pairs across the corpus",
    oracle=f"""
        WITH words AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        pairs AS (
            SELECT unnest(list_transform(range(1, length(w)),
                                         i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
            FROM words WHERE length(w) >= 2
        ),
        counted AS (
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM pairs GROUP BY pair
        ),
        ranked AS (
            SELECT pair, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
            FROM counted
        )
        SELECT pair, cnt, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= {BPE_TOP_PAIRS} ORDER BY rnk
    """,
)
def text_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-scan half of a byte-pair-encoding merge step: count
    every adjacent character pair inside whitespace words across the
    corpus and report the top candidates — the statistic a BPE trainer
    computes per merge iteration (the merge itself rewrites the corpus
    and re-counts; ONE deterministic step is the differentially
    testable unit, the same trade the graph family makes with fixed
    unrolls). Ties break lexicographically so the ranking is exact
    cross-engine; counts are exact integers.

    Plan shape: split/explode/pair-expand are all per-row codegen (the
    pair list is built IN-ROW by transform over a sequence — no join,
    no per-character explode of the corpus); one partial-aggregated
    count per pair (vocabulary of pairs is alphabet², bounded), then a
    top-20 over the tiny pair relation. At 100 TB the only
    fact-sized stage is the scan+expand, embarrassingly parallel; a
    full BPE trainer iterates this exact plan with a broadcast merge
    table."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    rnk = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair"))
    return (
        counted.select("pair", "cnt", rnk.cast("long").alias("rnk"))
        .filter(F.col("rnk") <= BPE_TOP_PAIRS)
        .orderBy("rnk")
    )


@query(
    "text_vocabulary_hapax",
    category="llm_text",
    description="Corpus vocabulary profile: type-token ratio and hapax legomena share (exact counts)",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(LOWER(text), ' ')) AS t
            FROM documents
        ),
        freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t)
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               FLOOR((CAST(COUNT(*) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5)
                   / 1000000.0 AS type_token_ratio,
               FLOOR((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS hapax_ratio
        FROM freq
    """,
)
def text_vocabulary_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth profile — the two numbers a corpus curator
    reads before trusting token-count budgets: type-token ratio (lexical
    diversity; synthetic or templated text shows an abnormally low TTR)
    and the hapax legomena share (vocabulary still growing ⇒ high hapax
    share; a plateaued crawl re-crawling itself ⇒ low). Pure integer
    counts over the suite's canonical lowercase space-split tokenizer;
    two double divisions at the end.

    Plan shape: explode → one partial-aggregated groupBy(word) (THE
    vocabulary shuffle every frequency-based text op pays — map-side
    combine collapses repeated words before the exchange) → a global
    fold of the frequency relation. At 100 TB the word relation is the
    only exchanged data; hot words are pre-combined per partition."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    ttr = F.count(F.lit(1)).cast("double") / F.sum("c")
    hap = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return freq.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        hap.cast("long").alias("n_hapax"),
        (F.floor(ttr * 1000000.0 + 0.5) / 1000000.0).alias("type_token_ratio"),
        (F.floor((hap.cast("double") / F.count(F.lit(1))) * 1000000.0 + 0.5) / 1000000.0).alias(
            "hapax_ratio"
        ),
    )
