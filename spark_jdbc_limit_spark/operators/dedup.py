"""Deduplication operators over documents (north-star LLM pipeline,
SURVEY.md §2B; build plan M5): exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Scale design (the 100 TB story):
- exact dedup is a hash groupBy — one shuffle on a 16-byte digest;
- MinHash/LSH replaces the O(n²) pair space with band-bucket joins:
  shuffle keyed on (band_id, band_hash), pairs generated only inside
  buckets; candidate verification re-joins shingle sets on the candidate
  pair keys only;
- SimHash packs a document into one int — near-dup search is a
  band-bucketed self-join on bit slices, cheapest of all;
- embedding near-dup blocks on a coarse key (here: label; in production,
  an LSH bucket) before the quadratic inner comparison;
- all hashes are pure int64 arithmetic (base-131 rolling hash mod 2^31-1,
  affine minhash permutations) so the DuckDB oracle reproduces every
  pipeline BIT-FOR-BIT — the LSH queries are deterministically testable,
  not just "approximately right". Products stay < 2^62: ANSI-safe.

On real corpora, prune stop-shingles (document frequency ≫ average)
before the LSH join; this synthetic corpus has near-unique shingles
(max df ≈ 7) so no cutoff is applied here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.operators.relational import round_dbl, set_pairs, sql_round_dbl
from spark_jdbc_limit_spark.operators.reuse import memo
from spark_jdbc_limit_spark.operators.text import FP_BASE, FP_MOD
from spark_jdbc_limit_spark.sources.catalog import load_table

SHINGLE_K = 3          # words per shingle
NUM_HASHES = 16        # minhash signature length
LSH_BANDS = 8          # bands × rows: 8 × 2 (recall ≈ 0.9 at jaccard 0.5)
LSH_ROWS = NUM_HASHES // LSH_BANDS
JACCARD_THRESHOLD = 0.5

#: affine permutation params for minhash j: (a_j * h + b_j) mod FP_MOD.
MINHASH_A = [(7919 * j + 104729) % FP_MOD for j in range(NUM_HASHES)]
MINHASH_B = [(104729 * j + 7919) % FP_MOD for j in range(NUM_HASHES)]


def _sql_char_hash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(regexp_extract_all({expr}, '.'), c -> unicode(c)::BIGINT)), "
        f"(a, c) -> (a * {FP_BASE} + c) % {FP_MOD})"
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism before
    an Arrow/Python stage. The sf* documents files arrive as a single
    input split (a few MB), which would serialize the per-doc Python work
    through one worker; at 100 TB the scan is already thousands of splits
    and this shuffle is a no-op to remove."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _word_hashes(text: str) -> list[int]:
    """Per-word base-131 rolling hash over code points, mod 2^31-1.

    Exact Python-int mirror of the oracle's
    ``list_reduce(... (a, c) -> (a*131 + unicode(c)) % (2^31-1))`` — integer
    arithmetic is engine-exact, so moving it from interpreted higher-order
    functions to Arrow-batched Python changes NOTHING about the values,
    only the speed (measured ~3× on the full LSH pipeline: per-character
    HOF lambdas are evaluated interpreted, per element, on the JVM).
    """
    out = []
    for w in text.split(" "):
        h = 0
        for c in w:
            h = (h * FP_BASE + ord(c)) % FP_MOD
        out.append(h)
    return out


def _shingle_set(text: str, k: int = SHINGLE_K) -> set[int]:
    """Distinct hashed k-word shingles of one document (combines k word
    hashes arithmetically — k× less character work than hashing every
    shingle string)."""
    wh = _word_hashes(text)
    if len(wh) < k:
        return set()
    out: set[int] = set()
    for i in range(len(wh) - k + 1):
        h = wh[i]
        for j in range(1, k):
            h = (h * FP_BASE + wh[i + j]) % FP_MOD
        out.add(h)
    return out


def shingle_hashes(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, h): distinct hashed k-word shingles per document.

    Shingling is per-document-local, so it runs shuffle-free inside
    ``mapInPandas``; per-doc dedup via a Python set replaces the global
    ``.distinct()`` shuffle of the naive shingle-explode plan. At 100 TB
    this stage is embarrassingly parallel and scales with scan bandwidth.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ss = _shingle_set(text, k)
                ids.extend([doc_id] * len(ss))
                hs.extend(ss)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "h": np.asarray(hs, dtype=np.int64),
                }
            )

    return _spread(docs.select("doc_id", "text")).mapInPandas(gen, "doc_id long, h long")


def _sql_shingles(k: int = SHINGLE_K) -> str:
    word_hash = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(regexp_extract_all(w, '.'), c -> unicode(c)::BIGINT)), "
        f"(a, c) -> (a * {FP_BASE} + c) % {FP_MOD})"
    )
    combine = "wh[i]"
    for j in range(1, k):
        combine = f"(({combine}) * {FP_BASE} + wh[i+{j}]) % {FP_MOD}"
    return f"""
        SELECT DISTINCT doc_id, {combine} AS h
        FROM (SELECT doc_id,
                     list_transform(string_split(text, ' '), w -> {word_hash}) AS wh
              FROM documents) d,
             UNNEST(range(1, len(wh) - {k - 2})) AS t(i)
        WHERE len(wh) >= {k}
    """


#: minhash permutation params as (NUM_HASHES, 1) int64 arrays for numpy
#: broadcasting against a doc's shingle vector. Products stay < 2^62.
_MH_A = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
_MH_B = np.asarray(MINHASH_B, dtype=np.int64)[:, None]


def minhash_band_buckets(docs: DataFrame, spread: bool = True) -> DataFrame:
    """(doc_id, band_id, band_hash): LSH bucket keys per document.

    The minhash signature is a pure function of ONE document, so the whole
    stage (shingle → NUM_HASHES mins → band hashes) runs shuffle-free in a
    single ``mapInPandas`` pass — the naive plan (explode shingles, groupBy
    doc_id for the mins) costs a full shuffle of the shingle set, which at
    100 TB is the dominant cost of the pipeline. The bucket join that
    follows is keyed on (band_id, band_hash), never on the raw pair space.
    Integer arithmetic matches the DuckDB oracle bit-for-bit.

    ``spread=False`` skips the pre-Arrow round-robin repartition — the
    streaming ingest gate (streaming/ingest.py) feeds micro-batches whose
    partitioning the file source already set, and a shuffle inside the
    per-trigger plan would buy nothing.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            bids: list[int] = []
            bhashes: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ss = _shingle_set(text)
                if not ss:
                    continue
                hs = np.fromiter(ss, dtype=np.int64, count=len(ss))
                mins = ((_MH_A * hs + _MH_B) % FP_MOD).min(axis=1)
                for b in range(LSH_BANDS):
                    bh = int(
                        (mins[b * LSH_ROWS] * FP_BASE + mins[b * LSH_ROWS + 1]) % FP_MOD
                    )
                    ids.append(doc_id)
                    bids.append(b)
                    bhashes.append(bh)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "band_id": np.asarray(bids, dtype=np.int32),
                    "band_hash": np.asarray(bhashes, dtype=np.int64),
                }
            )

    src = docs.select("doc_id", "text")
    if spread:
        src = _spread(src)
    return src.mapInPandas(gen, "doc_id long, band_id int, band_hash long")


def _sql_minhash_bands() -> str:
    mins = ",\n               ".join(
        f"MIN(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {FP_MOD}) AS m{j}"
        for j in range(NUM_HASHES)
    )
    band_rows = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, (m{b * LSH_ROWS} * {FP_BASE} + m{b * LSH_ROWS + 1}) % {FP_MOD} AS band_hash FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
        sh AS ({_sql_shingles()}),
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        bands AS ({band_rows})
    """


@query(
    "dedup_exact",
    category="llm_dedup",
    description="Exact dedup: content-hash groups with deterministic keeper",
    oracle="""
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY keeper_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on the digest; min(doc_id) is the canonical survivor
    (dropDuplicates would keep an arbitrary row — nondeterministic across
    reruns, so the engine always dedupes via group-min)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (d1 < d2) from band buckets via ONE
    bucket-keyed shuffle (optimization round 14, guide §2.2): group each
    (band_id, band_hash) bucket into a sorted doc set, expand the
    C(|bucket|, 2) ordered pairs in-row (``relational.set_pairs``, the
    supplier-edge / basket expansion), then distinct across bands. The
    self-equi-join form this replaces shuffled the band relation TWICE
    (aliasing defeats exchange reuse) and needed a localCheckpoint to
    keep the signature pass from running per branch — single-consumer
    bands need neither. The minhash LSH candidates (and through
    ``_near_dup_candidates`` the verified pipeline, its connected
    components and the sketch audit) come from here; the dHash blocking
    (multimodal.py) keeps its self-join, measured faster on its small
    band relation. Work is Σ C(|bucket|, 2) either way (identical to the
    join's per-bucket pair count); a mega-bucket would hit both forms
    alike, and LSH bucket occupancy is the designed bound."""
    sets = bands.groupBy("band_id", "band_hash").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ds")
    )
    return set_pairs(sets, "ds", "d1", "d2").select("d1", "d2").distinct()



@query(
    "dedup_minhash_lsh_candidates",
    category="llm_dedup",
    description="MinHash/LSH candidate pairs (16 hashes, 8 bands × 2 rows)",
    oracle=f"""
        WITH {_sql_minhash_bands()}
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        ORDER BY d1, d2
    """,
)
def dedup_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs agreeing on ANY band are candidates. Pairs come from the
    one-shuffle bucket expansion (``_band_pairs``), so cost scales with
    bucket occupancy, not n² — and the band relation is consumed exactly
    once, so no checkpoint is needed to bound the signature pass."""
    d = load_table(spark, sf_dir, "documents")
    return _band_pairs(minhash_band_buckets(d))


def _near_dup_candidates(spark: SparkSession, d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The LSH candidate pairs ``cand`` (d1 < d2) and the shingle hashes
    ``sh`` of the documents in some pair, both eagerly localCheckpointed
    and memoized per (session, documents files): a rebuild of the verify
    pipeline, the sketch audit and ``dedup_connected_components``
    building on it read the checkpoints instead of re-running the band
    and shingle jobs."""

    def build() -> tuple[DataFrame, DataFrame]:
        # one-shuffle bucket expansion (see _band_pairs); cand feeds both
        # the candidate-doc semi-join and the common-shingle join, so it
        # is checkpointed and the band pipeline runs once.
        cand = _band_pairs(minhash_band_buckets(d)).localCheckpoint()
        # Verification needs shingle sets ONLY for docs in some candidate
        # pair — a small fraction of the corpus. Re-shingling just those
        # (broadcast semi-join on the candidate ids) instead of everything
        # removes the pipeline's second full-corpus scan + hash pass: at
        # 100 TB the corpus is read once for signatures, and verification
        # I/O scales with the near-dup rate, not the corpus size.
        cand_docs = (
            cand.select(F.col("d1").alias("doc_id"))
            .unionByName(cand.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        # sh fans out to sizes (twice, via z1/z2) and both sides of the
        # common-shingle join — four scans of the plan absent CSE (five in
        # the sketch audit, which signs its docs from it), so the small
        # candidate-shingle set is checkpointed too.
        sh = shingle_hashes(
            d.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        ).localCheckpoint()
        return cand, sh

    return memo(spark, "near_dup_candidates", d, build)


@query(
    "dedup_minhash_verified",
    category="llm_dedup",
    description="LSH candidates verified by exact Jaccard ≥ 0.5",
    oracle=f"""
        WITH {_sql_minhash_bands()},
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT c.d1, c.d2, COUNT(*) AS n_common
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.d1
            JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
            GROUP BY c.d1, c.d2
        )
        SELECT common.d1, common.d2,
               {sql_round_dbl('CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common)', 4)} AS jaccard
        FROM common
        JOIN sizes z1 ON z1.doc_id = common.d1
        JOIN sizes z2 ON z2.doc_id = common.d2
        WHERE CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common) >= {JACCARD_THRESHOLD}
        ORDER BY d1, d2
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: LSH candidates → exact Jaccard on the
    candidate pairs only. Verification touches |candidates| × shingles,
    not n² — the shape that survives 100 TB."""
    cand, sh = _near_dup_candidates(spark, load_table(spark, sf_dir, "documents"))
    return _jaccard_pairs(_common_shingles(cand, sh), sh, JACCARD_THRESHOLD)


def _common_shingles(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(d1, d2, n_common) for each candidate pair sharing a shingle: the
    candidates join the shingle hashes on their own keys only, so the
    work is |candidates| × shingles, never n² — shared by the verified
    pipeline and the sketch audit."""
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("h").alias("h1"))
    s2 = sh.select(F.col("doc_id").alias("d2b"), F.col("h").alias("h2"))
    return (
        cand.join(s1, "d1")
        .join(s2, (F.col("d2") == F.col("d2b")) & (F.col("h1") == F.col("h2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _with_sizes(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """``pairs`` (d1, d2, ...) with each side's shingle-set size ``n1`` /
    ``n2`` from ``sh`` — the one size tail of every shingle-overlap
    entry (verified, exhaustive and prefix-filter Jaccard, containment,
    the sketch audit)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return pairs.join(z1, "d1").join(z2, "d2")


def _jaccard_pairs(common: DataFrame, sh: DataFrame, tau: float) -> DataFrame:
    """(d1, d2, jaccard ≥ tau) from the pairs' shared-shingle counts."""
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return (
        _with_sizes(common, sh)
        .filter(jac >= tau)
        .select("d1", "d2", round_dbl(jac, 4).alias("jaccard"))
    )


def _posting_common_counts(sh: DataFrame) -> DataFrame:
    """(d1 < d2, n_common) over the inverted shingle index via the
    aliased self-join on shingle hash — shared by the exhaustive
    Jaccard pairs and the containment entry.

    Round-15 measured NEGATIVE (kept out, recorded here): rebuilding
    this as the one-exchange ``_band_pairs`` shape — groupBy(h) into a
    sorted posting array, C(|list|, 2) in-row expansion, map-side pair
    count — timed ~1.4× SLOWER at sf0.1 on BOTH consumers (jaccard
    1.78 → 2.52 s median, containment 1.61 → 2.27, one-session
    alternating A/B). The collect_set aggregation ships the same bytes
    as the join's second exchange but adds per-key array construction,
    and the C(n,2) Generate runs in fresh whole-stage codegen vs the
    join's precompiled SMJ path — the r14 lsh-candidates win does NOT
    transfer because here the posting relation is fact-sized (every
    shingle), not band-bucket-sized. The self-join's two exchanges of
    (doc_id, h) longs are simply cheap."""
    a = sh.select(F.col("doc_id").alias("d1"), "h")
    b = sh.select(F.col("doc_id").alias("d2"), F.col("h").alias("h2"))
    return (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _exhaustive_jaccard_pairs(sh: DataFrame, tau: float) -> DataFrame:
    """(d1, d2, jaccard≥tau) via the inverted shingle index (join on
    shingle hash, never a cross join) — ONE definition shared by
    ``dedup_ngram_jaccard_exhaustive`` and the prefix-filter entry's
    cost-chosen exhaustive arm, so the two can never drift. ``sh``
    should be checkpointed by the caller (it feeds four branches)."""
    return _jaccard_pairs(_posting_common_counts(sh), sh, tau)


@query(
    "dedup_ngram_jaccard_exhaustive",
    category="llm_dedup",
    description="Exhaustive n-gram Jaccard pairs ≥ 0.5 (exact baseline)",
    oracle=f"""
        WITH sh AS ({_sql_shingles()}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2,
               {sql_round_dbl('CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common)', 4)} AS jaccard
        FROM common
        JOIN sizes z1 ON z1.doc_id = d1
        JOIN sizes z2 ON z2.doc_id = d2
        WHERE CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common) >= {JACCARD_THRESHOLD}
        ORDER BY d1, d2
    """,
)
def dedup_ngram_jaccard_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs via the inverted shingle index (join on
    shingle hash, never a cross join). The recall yardstick for the LSH
    path; tests assert LSH-verified ⊆ exhaustive."""
    d = load_table(spark, sf_dir, "documents")
    # sh feeds sizes (twice, via z1/z2) and both join sides — checkpoint so
    # the corpus is shingled once, not four times (no CSE across branches)
    sh = shingle_hashes(d).localCheckpoint(eager=False)
    return _exhaustive_jaccard_pairs(sh, JACCARD_THRESHOLD)


SIMHASH_BITS = 24


@query(
    "dedup_simhash",
    category="llm_dedup",
    description=f"{SIMHASH_BITS}-bit SimHash fingerprint per document",
    oracle=f"""
        WITH wh AS (
            SELECT doc_id, {_sql_char_hash('w')} AS h
            FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) t
        )
        SELECT doc_id,
               CAST({" + ".join(
                   f"(CASE WHEN SUM(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
                   f"THEN {1 << i} ELSE 0 END)"
                   for i in range(SIMHASH_BITS)
               )} AS BIGINT) AS simhash
        FROM wh
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic SimHash: each word votes ±1 per bit of its hash; the sign
    vector packs into one integer. Near-dup docs land at small Hamming
    distance — at scale, candidate pairs come from exact-matching bit
    bands of the fingerprint (same LSH trick as minhash, but on one int).
    Duplicate words vote once per occurrence (bag semantics)."""
    d = load_table(spark, sf_dir, "documents")
    bit_positions = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = np.int64(1) << bit_positions

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-document-local → shuffle-free mapInPandas (the explode +
        # 24-column vote aggregation plan shuffles every word row; this
        # computes the same integer votes in one numpy pass per doc).
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                whs = np.asarray(_word_hashes(text), dtype=np.int64)
                bits = (whs[:, None] >> bit_positions) & 1  # (n_words, BITS)
                votes = (2 * bits - 1).sum(axis=0)  # ±1 per occurrence
                ids.append(doc_id)
                fps.append(int(((votes > 0) * weights).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "simhash": np.asarray(fps, dtype=np.int64),
                }
            )

    return _spread(d.select("doc_id", "text")).mapInPandas(gen, "doc_id long, simhash long")


CC_MAX_ITERS = 20
STAR_MAX_ROUNDS = 50   # ≫ the O(log² n) bound of star contraction


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u connects each strictly-larger
    neighbor v to m = min(Γ(u) ∪ {u}). Halves the depth of tall trees in
    one round. One groupBy + one join, both keyed on the node id."""
    nbr = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = nbr.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge high→low; every node u connects
    its smaller neighbors (and itself) to m = min of those neighbors.
    Flattens shallow trees into stars."""
    nbr = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    mins = nbr.groupBy("u").agg(F.min("v").alias("m"))
    return (
        nbr.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionByName(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _star_contract_components(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating small-star/large-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log² n) rounds regardless of
    component DIAMETER — the property plain label propagation lacks, and
    why this is the fallback when propagation blows its round budget on a
    long-chain component. Each round is two groupBy+join pairs keyed on
    node id, looped on the graph family's ``run_until_settled`` (lineage
    cut + one settlement count per round) until the canonical edge set
    stops changing.

    ``pairs``: undirected edges as columns (d1, d2). Returns
    (doc_id, component) where component is the min node id, exactly like
    the propagation path."""
    from spark_jdbc_limit_spark.operators.graph import run_until_settled

    edges = (
        pairs.select(F.least("d1", "d2").alias("a"), F.greatest("d1", "d2").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    cur, _, settled = run_until_settled(
        edges,
        lambda e: _small_star(_large_star(e))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        key_cols=["a", "b"],
        value_cols=[],
        max_rounds=STAR_MAX_ROUNDS,
    )
    if not settled:
        raise RuntimeError(
            f"star contraction did not converge within {STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint is a star forest centered at each component's min node:
    # label = min(self, neighbors); roots label themselves
    nbr = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("doc_id"), F.least("mn", "u").alias("component"))
    )


@query(
    "dedup_connected_components",
    category="llm_dedup",
    description="Near-dup clusters: connected components over verified LSH pairs",
    oracle=f"""
        WITH RECURSIVE {_sql_minhash_bands()},
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT c.d1, c.d2, COUNT(*) AS n_common
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.d1
            JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
            GROUP BY c.d1, c.d2
        ),
        verified AS (
            SELECT common.d1, common.d2
            FROM common
            JOIN sizes z1 ON z1.doc_id = common.d1
            JOIN sizes z2 ON z2.doc_id = common.d2
            WHERE CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common)
                  >= {JACCARD_THRESHOLD}
        ),
        edges AS (SELECT d1 AS a, d2 AS b FROM verified
                  UNION SELECT d2, d1 FROM verified),
        reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT rr.id, e.b FROM reach rr JOIN edges e ON e.a = rr.r
        )
        SELECT id AS doc_id, MIN(r) AS component
        FROM reach GROUP BY id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: the transitive closure of the
    verified-pair graph, labeled by each component's smallest doc_id (the
    canonical keeper). Iterative min-label propagation — per round, every
    node takes the min of its own and its neighbors' labels; rounds =
    graph diameter (near-dup clusters are tiny, so 2-3 in practice,
    CC_MAX_ITERS caps pathology). Each round is one join + one groupBy on
    the edge key; ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1 (and caps the plan size). If a
    component's diameter exceeds the round budget, the query falls back to
    alternating small-star/large-star contraction
    (:func:`_star_contract_components`) whose round count is O(log² n)
    regardless of diameter — no DIAMETER can defeat convergence; the
    contraction itself still guards its fixpoint with STAR_MAX_ROUNDS and
    raises rather than return unconverged labels if that bound is ever
    hit. The DuckDB oracle computes the same closure with a
    recursive CTE — exact, since labels are integer mins."""
    # Checkpoint the verified pairs BEFORE the self-union: Spark performs
    # no common-subexpression elimination across union branches, so
    # union(pairs, swap(pairs)) over the raw plan would run the whole
    # minhash-verify pipeline twice in the first job (measured: ~2x the
    # pipeline cost). After the checkpoint both branches read the tiny
    # materialized pair set.
    pairs = (
        dedup_minhash_verified(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=False)  # the sizing count below materializes it
    )
    # The verified pair set is dup-pair-cardinality (micro) but inherits
    # the verify pipeline's shuffle partitioning — right-size it so every
    # propagation round's stages schedule O(pairs/64k) tasks, not 32+
    # near-empty ones (the graph family's round-11 fix; the count job is
    # also what materializes the checkpoint — one job, not two).
    from spark_jdbc_limit_spark.operators.graph import _size_partitions

    pairs = _size_partitions(pairs, pairs.count())
    edges = pairs.unionByName(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    )
    # Fuse the first propagation round into the init: label = min(self,
    # neighbors). Pair/star clusters — the dominant near-dup shape — are
    # already converged here, so the loop runs one confirming round
    # instead of two full ones.
    labels = edges.groupBy(F.col("d1").alias("doc_id")).agg(
        F.min(F.least(F.col("d1"), F.col("d2"))).alias("component")
    )
    converged = False
    for _ in range(CC_MAX_ITERS):
        neighbor = edges.join(
            labels, edges["d1"] == labels["doc_id"], "inner"
        ).select(
            F.col("d2").alias("doc_id"),
            "component",
            F.lit(None).cast("long").alias("own"),
        )
        # Carry each node's previous label ("own", unique per doc) through
        # the union so change detection is a column compare on the round's
        # aggregate — no second join against the old labels per round.
        agg = (
            labels.select("doc_id", "component", F.col("component").alias("own"))
            .unionByName(neighbor)
            .groupBy("doc_id")
            .agg(
                F.min("component").alias("component"),
                F.max("own").alias("own"),
            )
            # lazy: the change-count action below materializes the
            # checkpoint, merging the round's two jobs into one (the
            # run_until_settled round-14 pattern); lineage is cut the same
            .localCheckpoint(eager=False)
        )
        labels = agg.select("doc_id", "component")
        # min-propagation only ever lowers labels, so < means "changed";
        # the count materializes + scans the round result once.
        if agg.filter(F.col("component") < F.col("own")).count() == 0:
            converged = True
            break
    if not converged:
        # A component's diameter exceeded the propagation round budget
        # (per-round progress is one hop). Unconverged labels would be
        # silently wrong, so switch to star contraction, whose round count
        # is O(log² n) regardless of diameter — the 100 TB-safe path for
        # pathological long-chain components.
        return _star_contract_components(pairs)
    return labels


COSINE_THRESHOLD = 0.4


@query(
    "dedup_embedding_cosine_pairs",
    category="llm_dedup",
    description=f"Embedding near-dup pairs: same-label cosine ≥ {COSINE_THRESHOLD}",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               {sql_round_dbl('list_cosine_similarity(a.v, b.v)', 3)} AS cos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_THRESHOLD}
        ORDER BY v1, v2
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup, blocked by label so the quadratic part
    stays inside blocks (in production the block key is an LSH bucket —
    see similarity.ann_lsh_hyperplane_buckets). Each block is one
    ``applyInPandas`` group computing the pairwise similarities as a
    normalized matrix product (numpy GEMM over Arrow batches) — ~15×
    faster than the join-then-fold plan, whose interpreted per-element
    lambdas dominate. Block size is bounded by the blocking key (LSH
    buckets are sized to executor memory at scale), never by n."""
    e = load_table(spark, sf_dir, "embeddings")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"v1": [], "v2": [], "cos_sim": []}).astype(
                {"v1": "int64", "v2": "int64", "cos_sim": "float64"}
            )
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        u = v / np.linalg.norm(v, axis=1, keepdims=True)
        sims = u @ u.T
        i, j = np.triu_indices(len(ids), k=1)
        keep = sims[i, j] >= COSINE_THRESHOLD
        raw = sims[i, j][keep]
        # same half-up rounding as round_dbl: floor(x*10^n + 0.5)/10^n
        return pd.DataFrame(
            {
                "v1": ids[i[keep]],
                "v2": ids[j[keep]],
                "cos_sim": np.floor(raw * 1000.0 + 0.5) / 1000.0,
            }
        )

    return e.groupBy("label").applyInPandas(
        block_pairs, "v1 long, v2 long, cos_sim double"
    )


PASSAGE_WORDS = 20     # words per exact-dedup passage window


@query(
    "dedup_passage_exact",
    category="llm_dedup",
    description=f"Exact {PASSAGE_WORDS}-word passage dedup, global first-occurrence wins",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE length(text) > 0
        ),
        p AS (
            SELECT doc_id,
                   unnest(range(0, CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT)))
                       AS passage_idx,
                   unnest([
                       md5(array_to_string(
                           w[k * {PASSAGE_WORDS} + 1 : (k + 1) * {PASSAGE_WORDS}], ' '))
                       for k in range(0, CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT))
                   ]) AS passage_md5
            FROM w
        )
        SELECT passage_md5,
               MIN({{'doc_id': doc_id, 'passage_idx': passage_idx}}).doc_id
                   AS doc_id,
               MIN({{'doc_id': doc_id, 'passage_idx': passage_idx}}).passage_idx
                   AS passage_idx
        FROM p
        GROUP BY passage_md5
    """,
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sub-document (passage-level) deduplication: split every
    document into fixed PASSAGE_WORDS-word windows, dedup the windows
    EXACTLY across the whole corpus, first occurrence (lowest
    (doc_id, passage_idx)) wins. This is the corpus-level analogue of
    exact-substring training-data dedup — boilerplate headers, licence
    blocks, and syndicated paragraphs repeat across documents even when
    whole-document hashes differ.

    Scale shape: passages are digested to md5 BEFORE the shuffle, so
    the single exchange carries (digest, doc_id, idx) — 40ish bytes per
    passage, never the text. Survivor selection is
    ``groupBy(digest).agg(min(struct(doc_id, idx)))`` — an aggregate,
    not a window, so map-side partial aggregation collapses every
    partition-local repeat before the wire; a window formulation
    (row_number over digest) would ship every occurrence. At 100 TB the
    shuffle is bounded by distinct-passage count, and a hot digest (a
    boilerplate passage repeated 10⁹ times) partially aggregates to one
    row per map partition instead of skewing one reducer.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.split(F.col("text"), " ")
    n_pass = F.ceil(F.size("words") / F.lit(float(PASSAGE_WORDS)))
    base = d.select("doc_id", words.alias("words")).select(
        "doc_id",
        "words",
        F.sequence(F.lit(0).cast("long"), n_pass - 1).alias("ks"),
    )
    passages = base.select(
        "doc_id",
        F.explode("ks").alias("passage_idx"),
        "words",
    ).select(
        "doc_id",
        "passage_idx",
        F.md5(
            F.array_join(
                F.slice(
                    "words",
                    (F.col("passage_idx") * PASSAGE_WORDS + 1).cast("int"),
                    PASSAGE_WORDS,
                ),
                " ",
            )
        ).alias("passage_md5"),
    )
    first = passages.groupBy("passage_md5").agg(
        F.min(F.struct("doc_id", "passage_idx")).alias("s")
    )
    return first.select(
        "passage_md5",
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.passage_idx").alias("passage_idx"),
    )


CONTAINMENT_THRESHOLD = 0.7


@query(
    "dedup_ngram_containment",
    category="llm_dedup",
    description=f"Asymmetric containment pairs ≥ {CONTAINMENT_THRESHOLD} (excerpt/superset detection)",
    oracle=f"""
        WITH sh AS ({_sql_shingles()}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2,
               {sql_round_dbl('GREATEST(CAST(n_common AS DOUBLE) / z1.n, CAST(n_common AS DOUBLE) / z2.n)', 4)}
                   AS containment
        FROM common
        JOIN sizes z1 ON z1.doc_id = d1
        JOIN sizes z2 ON z2.doc_id = d2
        WHERE GREATEST(CAST(n_common AS DOUBLE) / z1.n,
                       CAST(n_common AS DOUBLE) / z2.n) >= {CONTAINMENT_THRESHOLD}
        ORDER BY d1, d2
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection — the metric Jaccard is blind to:
    an excerpt inside a 100× longer document has near-zero Jaccard but
    containment ≈ 1 on the excerpt side, and quote/boilerplate/superset
    dedup in training corpora needs exactly that signal (max of the two
    directions, so either side being mostly-contained flags the pair).
    Same shingle machinery and common-shingle join as the Jaccard
    baseline — only the denominator changes (each side's OWN size, not
    the union). Exhaustive over shingle-sharing pairs here so the oracle
    is exact; at 100 TB the candidate stage would be an LSH tuned for
    containment (size-stratified bands) rather than the symmetric
    minhash bands, whose recall degrades as sizes diverge."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(d).localCheckpoint(eager=False)
    cont = F.greatest(
        F.col("n_common").cast("double") / F.col("n1"),
        F.col("n_common").cast("double") / F.col("n2"),
    )
    # shared self-join counts (a one-exchange rewrite measured slower —
    # see _posting_common_counts)
    return (
        _with_sizes(_posting_common_counts(sh), sh)
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select("d1", "d2", round_dbl(cont, 4).alias("containment"))
    )


@query(
    "dedup_exact_provenance",
    category="llm_dedup",
    description="Dedup with provenance: per duplicate cluster, the sources and span it came from",
    oracle="""
        SELECT md5(text) AS content_hash,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(doc_id) AS keeper_doc_id,
               MAX(doc_id) AS last_doc_id,
               array_to_string(list_sort(list_distinct(list(source))), ',')
                   AS sources
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GOVERNANCE: removing a duplicate is easy — explaining it
    later is what audits need. Per content cluster,
    record (for EVERY content cluster) how many copies existed, which doc survived, and the SORTED
    set of sources the copies came from (the cross-source contamination
    signal: one page syndicated across N crawls). Still one shuffle on
    the digest; collect_set is bounded by the distinct-source count (20
    here; small in any real corpus), so the aggregate state stays tiny
    even for a boilerplate cluster with 10⁹ copies — the reason this
    aggregates sources as a SET, never as a list of rows."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
            # serialized CSV, not array<string>: the driver's canonicalizer
            # cannot hash list cells (it sort_values every output column)
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias(
                "sources"
            ),
        )
        # no multi-copy filter: singleton clusters keep the differential
        # NON-VACUOUS at scale factors where the corpus has no exact dups
        # (sf0.001/sf0.01); multi-copy provenance is pinned at sf0.1 by
        # tests/test_llm_ops.py.
    )


@query(
    "dedup_cluster_best_representative",
    category="llm_dedup",
    description="Per near-dup cluster: keep the LONGEST copy (survivor policy over CC clusters)",
    oracle=f"""
        WITH RECURSIVE {_sql_minhash_bands()},
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT c.d1, c.d2, COUNT(*) AS n_common
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.d1
            JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
            GROUP BY c.d1, c.d2
        ),
        verified AS (
            SELECT common.d1, common.d2
            FROM common
            JOIN sizes z1 ON z1.doc_id = common.d1
            JOIN sizes z2 ON z2.doc_id = common.d2
            WHERE CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common)
                  >= {JACCARD_THRESHOLD}
        ),
        edges AS (SELECT d1 AS a, d2 AS b FROM verified
                  UNION SELECT d2, d1 FROM verified),
        reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT rr.id, e.b FROM reach rr JOIN edges e ON e.a = rr.r
        ),
        comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
        SELECT component, cluster_size, rep_doc_id, rep_n_chars
        FROM (
            SELECT c.component,
                   CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT)
                       AS cluster_size,
                   d.doc_id AS rep_doc_id,
                   d.n_chars AS rep_n_chars,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                                      ORDER BY d.n_chars DESC, d.doc_id) AS rn
            FROM comp c JOIN documents d USING (doc_id)
        )
        WHERE rn = 1
    """,
)
def dedup_cluster_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor DECISION on top of the near-dup clusters: per
    connected component, keep the longest copy (least-truncated — the
    policy real pipelines prefer over first-seen; swap the struct's
    first field for a quality score to change policy in one line), with
    the cluster size for the audit trail. Built as ONE aggregate over
    clusters x document metadata — a lexicographic max(struct(n_chars,
    -doc_id)) per component, no window over the corpus, so the reduction
    is map-side-combined and skew-proof even for a boilerplate cluster
    with millions of members. The oracle recomputes clusters with its
    recursive-CTE closure and picks representatives with a ranked
    window — an independent formulation of both steps.

    Cost posture: as a self-contained registry entry this recomputes
    ``dedup_connected_components`` from scratch, so its standalone bench
    time is dominated by the embedded CC pass. In a production pipeline
    the CC relation is a MATERIALIZED intermediate (written once per
    dedup run, read by every downstream survivor/provenance/audit step);
    the marginal cost of this operator there is just the broadcast-sized
    metadata join + one skew-proof aggregate over the cluster relation —
    seconds, not the CC runtime. The registry entry stays independent so
    its oracle can verify BOTH steps end-to-end."""
    comp = dedup_connected_components(spark, sf_dir)
    return best_representative_frame(spark, sf_dir, comp)


def best_representative_frame(
    spark: SparkSession, sf_dir: str, comp: DataFrame
) -> DataFrame:
    """The survivor-decision step alone, over a given (doc_id, component)
    cluster relation — the production shape, where CC is a materialized
    intermediate shared by every downstream step. bench.py times this
    against a checkpointed CC to report the operator's MARGINAL pipeline
    cost next to the registry entry's self-contained cost."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    )
    return (
        comp.join(d, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            best.alias("best"),
        )
        .select(
            "component",
            "cluster_size",
            (-F.col("best.neg_id")).alias("rep_doc_id"),
            F.col("best.n_chars").alias("rep_n_chars"),
        )
    )


@query(
    "dedup_minhash_estimate_audit",
    category="llm_dedup",
    description=f"Sketch-accuracy audit: minhash Jaccard estimate vs exact, per LSH candidate pair",
    oracle=f"""
        WITH {_sql_minhash_bands()},
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        agree AS (
            SELECT c.d1, c.d2,
                   ({" + ".join(f"(s1.m{j} = s2.m{j})::BIGINT" for j in range(NUM_HASHES))})
                       AS n_agree
            FROM cand c
            JOIN sig s1 ON s1.doc_id = c.d1
            JOIN sig s2 ON s2.doc_id = c.d2
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT c.d1, c.d2, COUNT(*) AS n_common
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.d1
            JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
            GROUP BY c.d1, c.d2
        )
        SELECT a.d1, a.d2, a.n_agree,
               {sql_round_dbl(f'CAST(a.n_agree AS DOUBLE) / {NUM_HASHES}', 4)}
                   AS est_jaccard,
               {sql_round_dbl(
                   'CAST(COALESCE(common.n_common, 0) AS DOUBLE)'
                   ' / (z1.n + z2.n - COALESCE(common.n_common, 0))', 4)}
                   AS exact_jaccard,
               {sql_round_dbl(
                   f'ABS(CAST(a.n_agree AS DOUBLE) / {NUM_HASHES}'
                   ' - CAST(COALESCE(common.n_common, 0) AS DOUBLE)'
                   ' / (z1.n + z2.n - COALESCE(common.n_common, 0)))', 4)}
                   AS abs_err
        FROM agree a
        LEFT JOIN common ON common.d1 = a.d1 AND common.d2 = a.d2
        JOIN sizes z1 ON z1.doc_id = a.d1
        JOIN sizes z2 ON z2.doc_id = a.d2
    """,
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy AUDITING — the op you run before trusting a sketch
    at 100 TB: per LSH candidate pair, the minhash Jaccard estimate
    (signature agreement / 16), the exact Jaccard recomputed
    from shingle sets, and the absolute error. In production this runs
    on a small sample to choose the signature length; here the full
    candidate set is audited and the oracle reproduces estimate AND
    truth bit-for-bit (pure integer hashing; ratios are exact IEEE
    divisions in both engines). The candidate pairs and the candidate
    docs' shingles are ``_near_dup_candidates``' memoized checkpoints —
    the ones dedup_minhash_verified reads, so a session that built
    either entry runs no band or shingle job for the other — and the
    exact truth is the same ``_common_shingles`` / ``_with_sizes``
    verification. Only the signature agreement ``n_agree`` is the
    audit's own: the candidate docs' signatures are one aggregate over
    those checkpointed shingles, so the documents are not read again."""
    cand, sh = _near_dup_candidates(spark, load_table(spark, sf_dir, "documents"))
    # each candidate doc's signature from its checkpointed shingles, with
    # minhash_band_buckets' integer arithmetic (products stay < 2^62)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * MINHASH_A[j] + MINHASH_B[j]) % FP_MOD).alias(f"m{j}")
            for j in range(NUM_HASHES)
        ]
    )
    s1 = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(NUM_HASHES)])
    s2 = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(NUM_HASHES)])
    n_agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("long") for j in range(NUM_HASHES)
    )
    agree = cand.join(s1, "d1").join(s2, "d2").select("d1", "d2", n_agree.alias("n_agree"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact = nc.cast("double") / (F.col("n1") + F.col("n2") - nc)
    est = F.col("n_agree").cast("double") / NUM_HASHES
    return (
        _with_sizes(agree.join(_common_shingles(cand, sh), ["d1", "d2"], "left"), sh)
        .select(
            "d1",
            "d2",
            "n_agree",
            round_dbl(est, 4).alias("est_jaccard"),
            round_dbl(exact, 4).alias("exact_jaccard"),
            round_dbl(F.abs(est - exact), 4).alias("abs_err"),
        )
    )

SEMDEDUP_EPS = 0.3     # within-bucket cosine above this = semantic duplicate


def _semdedup_oracle() -> str:
    # deferred import keeps dedup importable standalone; similarity.py has
    # no back-edge to dedup so this is cycle-free under the registry's
    # import order (dedup before similarity)
    from spark_jdbc_limit_spark.operators.similarity import _sql_bucket_expr

    prior_max = (
        "(SELECT MAX(list_cosine_similarity(a.v, b.v)) FROM e b "
        "WHERE b.bucket = a.bucket AND b.vec_id < a.vec_id)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   {_sql_bucket_expr()} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id, a.bucket,
               CASE WHEN EXISTS (
                   SELECT 1 FROM e b
                   WHERE b.bucket = a.bucket AND b.vec_id < a.vec_id
                     AND list_cosine_similarity(a.v, b.v) >= {SEMDEDUP_EPS}
               ) THEN 0 ELSE 1 END AS kept,
               COALESCE({sql_round_dbl(prior_max, 4)}, -2.0) AS max_prior_sim
        FROM e a
        ORDER BY a.vec_id
    """


@query(
    "dedup_semantic_semdedup",
    category="llm_dedup",
    description=f"SemDeDup-style retention: drop vectors with an earlier same-LSH-bucket neighbor at cosine ≥ {SEMDEDUP_EPS}",
    oracle=_semdedup_oracle(),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup in the SemDeDup (Abbas et al. 2023, public) shape:
    block the corpus by a coarse cluster key, then inside each block drop
    every item that has a near-duplicate neighbor, keeping one canonical
    representative per duplicate group. The cluster key here is the same
    deterministic 16-plane hyperplane LSH bucket the ANN stack uses
    (similarity.hyperplane_bucket_udf) — unlike the paper's k-means it is
    reproducible in ANSI SQL, so the retention DECISION itself is
    oracle-verifiable, not just spot-checked. The keep rule is
    order-deterministic and non-transitive by construction: a vector is
    DROPPED iff some STRICTLY EARLIER (lower vec_id) vector in its bucket
    has cosine ≥ eps to it — i.e. first occurrence wins, mirroring the
    exact-dedup survivor policy. (The greedy transitive variant — compare
    only against previously KEPT vectors — needs a sequential scan per
    bucket; this EXISTS form is the set-parallel version that a single
    SQL predicate can express, and for disjoint duplicate PAIRS the two
    coincide.)

    Physical plan: one scan, one shuffle on the bucket key
    (``repartition(bucket) + sortWithinPartitions``), then ONE
    ``mapInPandas`` pass per PARTITION that walks its buckets in numpy,
    doing each bucket's pairwise cosine as a normalized GEMM and a masked
    row-max over the strict lower triangle — no pair relation is ever
    materialized. mapInPandas (not per-group ``applyInPandas``) matters
    here: hyperplane buckets are numerous and small (~1.9k buckets of
    1-13 vectors at sf0.1), and applyInPandas pays a per-GROUP Arrow
    serialization round-trip (~4 ms × groups ≈ 8 s); batching a whole
    partition of buckets through one Arrow exchange makes the same
    computation ~40× cheaper. The partition's batches are concatenated
    first because Arrow splits a partition at maxRecordsPerBatch and a
    bucket must not straddle the split; memory is bounded by the
    partition, which the bucket-hash repartition keeps balanced. At
    100 TB: widen the LSH to more planes so bucket sizes stay
    executor-bounded (bucket count grows 2^planes) and raise the
    partition count so each holds a memory-sized slice of buckets, or
    substitute the IVF KMeans assignment (similarity.ivf_assignments) as
    the block key offline; the retention pass itself is embarrassingly
    parallel across buckets. Decision
    soundness at the float boundary is pinned by
    tests/test_llm_ops.py::test_semdedup_margins (min |cos − eps| ≈ 2e-4
    on all shipped SFs, ~9 orders above GEMM-vs-sequential accumulation
    error). Reference parity: the reference has no semantic-dedup
    operator; this extends its dedup family (SURVEY.md §2B) along the
    training-data-pipeline axis."""
    from spark_jdbc_limit_spark.operators.similarity import hyperplane_bucket_udf

    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id", "embedding", hyperplane_bucket_udf()("embedding").alias("bucket")
    )

    def keep_rule(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # partition arrives bucket-sorted; vec_id order within bucket is
        # what the keep rule is defined over
        pdf = pdf.sort_values(["bucket", "vec_id"], kind="mergesort")
        buckets = pdf["bucket"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        emb = pdf["embedding"].to_numpy()
        # contiguous [start, end) runs of equal bucket
        starts = np.flatnonzero(np.r_[True, buckets[1:] != buckets[:-1]])
        ends = np.r_[starts[1:], len(buckets)]
        prior_max = np.full(len(buckets), -np.inf)
        for s, t in zip(starts, ends):
            n = t - s
            if n == 1:
                continue
            v = np.stack(emb[s:t]).astype(np.float64)
            # clamp zero norms: a zero vector would otherwise inject NaN
            # rows into the GEMM, and NaN < eps is False — every later
            # vector in the bucket would be silently dropped. With the
            # clamp a zero vector has cosine 0 to everything, matching
            # the oracle's list_cosine_similarity NULL/0 treatment of
            # degenerate vectors closely enough that the kept decision
            # (eps = 0.85) is unaffected.
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            u = v / np.maximum(norms, 1e-300)
            sims = u @ u.T
            # row-max over strictly-earlier columns; first row has none
            lower = np.where(
                np.arange(n)[:, None] > np.arange(n)[None, :], sims, -np.inf
            )
            prior_max[s:t] = lower.max(axis=1)
        kept = (prior_max < SEMDEDUP_EPS).astype(np.int32)
        # same half-up rounding as round_dbl; −2.0 sentinel (outside
        # cosine range) = no earlier vector in the bucket
        out_sim = np.where(
            np.isneginf(prior_max), -2.0, np.floor(prior_max * 10000.0 + 0.5) / 10000.0
        )
        yield pd.DataFrame(
            {"vec_id": ids, "bucket": buckets, "kept": kept, "max_prior_sim": out_sim}
        )

    return (
        bucketed.repartition("bucket")
        .sortWithinPartitions("bucket", "vec_id")
        .mapInPandas(
            keep_rule, "vec_id long, bucket long, kept int, max_prior_sim double"
        )
        .orderBy("vec_id")
    )


INCR_BATCH_MOD = 5  #: doc_id % MOD == 0 plays the "newly ingested batch"


def corpus_probe_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The standing corpus's dedup probe index: its distinct content
    digests ``h`` and its distinct minhash band buckets ``(band_id,
    band_hash)``, the standing corpus being ``docs`` outside the new
    batch (doc_id % INCR_BATCH_MOD != 0). The one derivation behind the
    incremental entry, the streaming gate's derived sides and the index
    ``streaming.ingest.materialize_corpus_index`` writes."""
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) != 0)
    digests = corpus.select(F.md5(F.col("text").cast("binary")).alias("h")).distinct()
    bands = minhash_band_buckets(corpus).select("band_id", "band_hash").distinct()
    return digests, bands


@query(
    "dedup_incremental_new_batch",
    category="llm_dedup",
    description=f"Incremental ingest dedup: new batch (doc_id%{INCR_BATCH_MOD}==0) screened against the standing corpus only",
    oracle=f"""
        WITH {_sql_minhash_bands()},
        batch AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % {INCR_BATCH_MOD} = 0
        ),
        corpus_hash AS (
            SELECT DISTINCT md5(text) AS h FROM documents
            WHERE doc_id % {INCR_BATCH_MOD} <> 0
        ),
        exact AS (
            SELECT doc_id FROM batch
            WHERE md5(text) IN (SELECT h FROM corpus_hash)
        ),
        cbands AS (
            SELECT DISTINCT band_id, band_hash FROM bands
            WHERE doc_id % {INCR_BATCH_MOD} <> 0
        ),
        near AS (
            SELECT DISTINCT b.doc_id
            FROM bands b JOIN cbands c USING (band_id, band_hash)
            WHERE b.doc_id % {INCR_BATCH_MOD} = 0
        )
        SELECT b.doc_id,
               CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS is_exact_dup,
               CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS has_near_dup_candidate
        FROM batch b
        LEFT JOIN exact e USING (doc_id)
        LEFT JOIN near n USING (doc_id)
    """,
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the shape that makes dedup affordable
    at 100 TB: a newly arrived batch (here the deterministic
    doc_id % 5 == 0 slice) is screened against the
    STANDING corpus without ever re-deduplicating the corpus against
    itself. Two asymmetric probes per new document:

    - exact: the batch's content digests semi-join the corpus digest
      set — at scale that set is a materialized, bucketed relation the
      ingest job probes, not recomputes;
    - near: the batch's minhash band buckets semi-join the DISTINCT
      corpus bucket keys (band_id, band_hash) — candidate generation
      cost is batch_bands × matching buckets, proportional to the NEW
      data, never to corpus² (and never even to corpus × batch: only
      bucket keys of the corpus participate, a relation bounded by the
      corpus's distinct-bucket count that an ingest pipeline keeps
      materialized exactly like the digest set).

    Each flag is an independent LEFT-join marker so downstream policy
    can admit, reject, or route to exact verification per reason. The
    oracle reproduces both probes bit-for-bit (md5 + pure-integer
    minhash). Flag counts are non-vacuous on shipped data (near
    candidates at every SF; exact hits at sf0.1, the only SF shipping
    exact duplicate documents — FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == 0)
    cmd5, cbands = corpus_probe_index(d)
    bmd5 = batch.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact_ids = bmd5.join(cmd5, "h", "left_semi").select("doc_id")
    bands_b = minhash_band_buckets(batch)
    near_ids = (
        bands_b.join(cbands, ["band_id", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        batch.select("doc_id")
        .join(exact_ids.withColumn("e", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("e", F.lit(0)).cast("int").alias("is_exact_dup"),
            F.coalesce("n", F.lit(0)).cast("int").alias("has_near_dup_candidate"),
        )
    )


#: Winnowing window width, in shingle positions: every window of
#: WINNOW_W consecutive k-gram hashes contributes its minimum to the
#: document's fingerprint set (Schleimer/Wilkerson/Aiken, "Winnowing:
#: Local Algorithms for Document Fingerprinting", SIGMOD'03). Guarantee:
#: any shared run of at least WINNOW_W + SHINGLE_K - 1 words between two
#: documents yields at least one SHARED selected fingerprint — the
#: detection floor is tunable, unlike sampling "every n-th shingle"
#: (positional, breaks under any insertion) or "hash % p == 0" (no floor
#: at all). Density of selected prints is ~2/(W+1) of all shingles.
WINNOW_W = 4


def _winnow_set(text: str, k: int = SHINGLE_K, w: int = WINNOW_W) -> set[int]:
    """Distinct winnowed fingerprints of one document: sliding-window
    minima over the ORDERED k-gram hash sequence (contrast
    ``_shingle_set``, which keeps every distinct shingle). A doc with
    fewer than ``w`` shingles contributes its single global minimum.
    O(n·w) here — fine at document scale (w=4); a deque makes it O(n)
    if w ever grows."""
    wh = _word_hashes(text)
    n = len(wh) - k + 1
    if n <= 0:
        return set()
    seq = []
    for i in range(n):
        h = wh[i]
        for j in range(1, k):
            h = (h * FP_BASE + wh[i + j]) % FP_MOD
        seq.append(h)
    if n <= w:
        return {min(seq)}
    return {min(seq[i : i + w]) for i in range(n - w + 1)}


def winnow_fingerprints(docs: DataFrame, k: int = SHINGLE_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, fp): distinct winnowed fingerprints per document.
    Payload-local like ``shingle_hashes`` — one Arrow pass, shuffle-free,
    scales with scan bandwidth."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            fs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ss = _winnow_set(text, k, w)
                ids.extend([doc_id] * len(ss))
                fs.extend(ss)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "fp": np.asarray(fs, dtype=np.int64),
                }
            )

    return _spread(docs.select("doc_id", "text")).mapInPandas(gen, "doc_id long, fp long")


def _sql_winnow_fps(k: int = SHINGLE_K, w: int = WINNOW_W) -> str:
    """DuckDB twin of ``winnow_fingerprints``: ordered k-gram hashes via
    the same base-131 arithmetic, sliding minima as a ROWS window, full
    windows only (short docs keep their final running min = global min)."""
    word_hash = _sql_char_hash("x")
    combine = "wh[i]"
    for j in range(1, k):
        combine = f"(({combine}) * {FP_BASE} + wh[i+{j}]) % {FP_MOD}"
    return f"""
        SELECT DISTINCT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS fp
        FROM (
            SELECT doc_id, i, {combine} AS h,
                   COUNT(*) OVER (PARTITION BY doc_id) AS cnt
            FROM (SELECT doc_id,
                         list_transform(string_split(text, ' '), x -> {word_hash}) AS wh
                  FROM documents) d,
                 UNNEST(range(1, len(wh) - {k - 2})) AS t(i)
            WHERE len(wh) >= {k}
        )
        QUALIFY (cnt >= {w} AND i >= {w}) OR (cnt < {w} AND i = cnt)
    """


@query(
    "dedup_winnowing_fingerprints",
    category="llm_dedup",
    description=f"Winnowed document fingerprints (window {WINNOW_W} over {SHINGLE_K}-gram hashes): per-doc density and cross-doc sharing",
    oracle=f"""
        WITH fps AS ({_sql_winnow_fps()}),
        freq AS (SELECT fp, COUNT(*) AS n_docs FROM fps GROUP BY fp)
        SELECT f.doc_id,
               COUNT(*) AS n_fingerprints,
               CAST(SUM(CASE WHEN q.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM fps f JOIN freq q USING (fp)
        GROUP BY f.doc_id
        ORDER BY f.doc_id
    """,
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (the MOSS fingerprinting algorithm): select the minimum
    k-gram hash of every 4-wide window, so a shared word run of
    at least 4+3-1 = 6 words between two documents is
    GUARANTEED to surface as a shared stored fingerprint — the
    containment-detection floor MinHash cannot promise (minhash bounds
    expected Jaccard error; winnowing bounds the shortest detectable
    overlap). Storage is ~2/(W+1) of the full shingle set, which is the
    practical point at 100 TB: an index over winnowed prints is ~2.5×
    smaller than the full-shingle index of ``dedup_passage_exact``-style
    lookups at a known detection floor.

    Plan: fingerprint selection is payload-local (one Arrow pass per
    input split, ordered hashes never leave their document), so the only
    corpus shuffle is the fingerprint-frequency aggregate + the
    fan-back join keyed on fp — both partial-aggregated, no windows over
    the corpus, skew bounded by the hottest fingerprint (a boilerplate
    phrase), which the verify-stage joins of the MinHash family already
    tolerate. Reports per doc: fingerprints stored and how many of them
    are shared with at least one other document (the slice a plagiarism
    / near-dup triage reads first)."""
    # lineage cut: fps feeds two branches (frequency agg + fan-back join)
    # whose exchanges differ — without it the per-doc Python winnowing
    # pass runs twice (no CSE across branches, same discipline as the
    # shingle_hashes checkpoints above)
    fps = winnow_fingerprints(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        fps.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_shared"),
        )
        .orderBy("doc_id")
    )


#: prefix-filter threshold τ = PREFIX_TAU_NUM / PREFIX_TAU_DEN (exact rational,
#: so the prefix length is computed in INTEGER arithmetic — a float ceil that
#: rounds up spuriously would shorten the prefix and silently break the
#: completeness guarantee).
PREFIX_TAU_NUM = 3
PREFIX_TAU_DEN = 5
PREFIX_TAU = PREFIX_TAU_NUM / PREFIX_TAU_DEN

#: Cost-based path switch for the exact-similarity join: the expected
#: posting-list length seen by a random shingle occurrence,
#: r = Σ len² / Σ len over the corpus-frequency relation. The exhaustive
#: index join generates ~S·r candidate pairs (S = shingle occurrences);
#: the prefix filter's 2-3 extra passes over S only pay for themselves
#: when r is large (heavy-tailed posting lists — a frequent shingle in a
#: million docs sends r to ~10⁶). Below this threshold the exhaustive
#: index IS the cheaper plan — measured 2.16x vs 1.0x at sf0.1 on the
#: shipped short-posting-list corpus (BASELINE_TOP20.json, round 10).
PPJOIN_EXHAUSTIVE_R = 64.0


@query(
    "dedup_jaccard_prefix_filter",
    category="llm_dedup",
    description=f"Exact Jaccard ≥ {PREFIX_TAU} join via lossless prefix filtering (PPJoin-style)",
    oracle=f"""
        WITH sh AS ({_sql_shingles()}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2,
               {sql_round_dbl('CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common)', 4)} AS jaccard
        FROM common
        JOIN sizes z1 ON z1.doc_id = d1
        JOIN sizes z2 ON z2.doc_id = d2
        WHERE CAST(n_common AS DOUBLE) / (z1.n + z2.n - n_common) >= {PREFIX_TAU}
        ORDER BY d1, d2
    """,
)
def dedup_jaccard_prefix_filter(
    spark: SparkSession, sf_dir: str, path: str = "auto"
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family) —
    the deterministic sibling of the MinHash/LSH path: same candidate →
    verify shape, but the filter is LOSSLESS (guaranteed 100% recall, no
    sketch probability), so the output is value-identical to the
    exhaustive all-pairs join the oracle runs.

    Prefix-filtering lemma: order every document's shingles by one global
    canonical order (rarest-first: ascending corpus frequency, hash as
    tiebreak) and keep only the first ``p = n - ceil(τ·n) + 1`` of its
    ``n`` shingles; any pair with Jaccard ≥ τ MUST share at least one
    prefix shingle. ``ceil(τ·n)`` is computed as the integer
    ``(NUM·n + DEN - 1) div DEN``, never a float ceil.

    Why this scales where the exhaustive join dies: the inverted index
    is built over PREFIX shingles only (~``(1-τ)``· the full index), and
    rarest-first ordering puts each doc's LOWEST-frequency shingles in
    its prefix, so posting lists in the candidate join are the shortest
    ones the corpus has — the frequent-shingle hot buckets that dominate
    the exhaustive join's skew never enter the exchange. Verification
    then touches candidate pairs only, as payload-local sorted-array
    intersection (codegen ``array_intersect`` on per-doc shingle arrays,
    bounded by doc length — no posting-list re-shuffle).

    Stages at 100 TB: shingle (map-local) → corpus frequency agg
    (vocabulary-sized) → per-doc prefix window (partitioned by doc_id,
    bounded partitions) → prefix self-join (short posting lists) →
    candidate-pair array verify. Tests pin prefix ⊆ full index and
    output ≡ exhaustive. Honest bench note: on the shipped synthetic
    corpus (31-word vocabulary, uniformly short posting lists) the
    exhaustive index is already cheap and this path's extra stages cost
    more than they save (~2× at sf0.1) — the prefix filter's win is
    conditional on the skewed, heavy-tailed posting lists real corpora
    have, which is exactly when the exhaustive join's hot buckets
    explode.

    Retime audit (round 9, same-session A/B per the repo timing
    discipline): two restructurings both measured NET-NEGATIVE at
    sf0.1, so this shape is the floor. (a) Collapsing the rank window +
    n_per_doc + doc_sets into ONE groupBy(doc_id) emitting a
    freq-sorted struct array (prefix = slice, payload = transform)
    saves two doc-id exchanges but materializes every doc's array
    through the checkpoint and re-explodes for the candidate join:
    2.8 → 3.2 s. (b) Replacing the n_per_doc aggregate+join with
    count(*) OVER the same doc partition adds an unbounded-frame
    buffering pass to the rank window: 3.1 → 3.8 s. The candidate
    join's shuffle already carries only (doc_id, h) — no payload to
    defer — and the verify fan-back is the winnowing pattern already.

    COST-BASED PATH CHOICE (round 10): the prefix filter's win is
    conditional on heavy-tailed posting lists; on a corpus where the
    mean occurrence-weighted posting length r = Σlen²/Σlen is small,
    the exhaustive index join is simply the cheaper plan (the candidate
    space ~S·r is already linear-ish) and the filter's extra passes are
    pure overhead (measured 2.16x vs baseline at sf0.1,
    BASELINE_TOP20.json). The corpus-frequency relation BOTH paths need
    anyway yields r in one micro agg + a 1-row parameter fetch; below
    ``PPJOIN_EXHAUSTIVE_R`` the query runs the exhaustive index join —
    same output by the prefix-filter exactness lemma (pinned
    output ≡ exhaustive in tests), the planner-style decision a
    cost-based engine makes rather than documents. ``path`` overrides
    the choice for tests: "prefix" / "exhaustive" force an arm, "auto"
    (the registry entry) measures r and decides."""
    from pyspark.sql import Window as W

    if path not in ("auto", "prefix", "exhaustive"):
        raise ValueError("path must be auto|prefix|exhaustive")
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(d).localCheckpoint(eager=False)
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    if path == "auto":
        # r is a data property: one 1-row parameter fetch per corpus
        r_col = (F.sum(F.col("freq").cast("double") * F.col("freq")) / F.sum("freq")).alias("r")
        r = memo(spark, "ppjoin_posting_r", d, lambda: freq.agg(r_col).head().r)
        path = "exhaustive" if r is not None and r < PPJOIN_EXHAUSTIVE_R else "prefix"
    if path == "exhaustive":
        return _exhaustive_jaccard_pairs(sh, PREFIX_TAU)
    n_per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # TRUE integer division (SQL `div`), matching the lemma test's `//`
    # form exactly — a float quotient + floor happens to be safe at these
    # operand sizes but would silently diverge from the proven arithmetic
    prefix_len = (
        F.col("n")
        - F.expr(f"({PREFIX_TAU_NUM} * n + {PREFIX_TAU_DEN - 1}) div {PREFIX_TAU_DEN}")
        + 1
    )
    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy("freq", "h")
    )
    # prefix feeds both sides of the candidate self-join and is
    # recomputed once per side — measured A/B at sf0.1: checkpointing it
    # is NET-NEGATIVE (3.4 s vs 3.9 s warm), because the subtree above
    # the already-checkpointed sh is two cheap joins + a bounded window,
    # less than the materialization it would buy. The lineage-cut
    # discipline applies to EXPENSIVE re-used subtrees (sh itself), not
    # reflexively to every fork.
    prefix = (
        sh.join(freq, "h")
        .withColumn("rnk", rank)
        .join(n_per_doc, "doc_id")
        .filter(F.col("rnk") <= prefix_len)
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    doc_sets = sh.groupBy("doc_id").agg(F.collect_set("h").alias("hs"))
    n_common = F.size(F.array_intersect(F.col("hs1"), F.col("hs2")))
    jac = n_common.cast("double") / (
        F.size("hs1") + F.size("hs2") - n_common
    )
    return (
        cand.join(doc_sets.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1")), "d1")
        .join(doc_sets.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2")), "d2")
        .filter(jac >= PREFIX_TAU)
        .select("d1", "d2", round_dbl(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Longest duplicated substring (generalized-suffix-array LCP, anchor-bucketed)
# ---------------------------------------------------------------------------

#: Minimum detectable duplicated token run. Any cross-document common run
#: of >= DUP_ANCHOR_L tokens shares its first DUP_ANCHOR_L-token gram, so
#: bucketing suffixes by that anchor gram loses NOTHING above the floor —
#: the same guarantee shape as winnowing's W+k-1, but here the report is
#: the RUN LENGTH itself, not just "a fingerprint is shared".
DUP_ANCHOR_L = 8
#: Suffix truncation cap: reported run lengths saturate at this many
#: tokens ("at least CAP"). The cap is what makes the suffix relation
#: LINEAR in corpus size (<= CAP tokens carried per surviving position)
#: instead of quadratic like a full generalized suffix array.
DUP_LCP_CAP = 48

#: token-LCP of two space-joined suffix strings, with early-stop fold
#: (whole-stage-codegen HOF — no Python in the hot path). zip_with pads
#: the shorter side with NULL and NULL <=> token is false, so the fold
#: stops at min length; equal-length all-equal folds run to len = lcp.
_LCP_EXPR = """
    aggregate(
        zip_with(split(s, ' '), split(ps, ' '), (x, y) -> if(x <=> y, 1, 0)),
        named_struct('l', 0L, 'g', true),
        (acc, v) -> named_struct(
            'l', acc.l + if(acc.g and v = 1, 1L, 0L),
            'g', acc.g and v = 1),
        acc -> acc.l)
"""


def _dup_anchors(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(toks, anchors): per-doc token arrays (docs with >= 8
    tokens) and one (doc_id, i, ah) row per suffix position — the
    anchor digest is all that crosses the wire in phase 1.

    The digest is ``xxhash64`` over the token-array slice (optimization
    round 14, guide §2.3 narrower types / §4 no per-row string work): the
    previous ``md5(array_join(...))`` materialized a joined string AND a
    32-char hex string per token position, so phase 1's shuffle carried
    ~40 bytes of key per position; the 8-byte long is a 4-5x narrower
    shuffle key and skips the string build entirely. Collision posture:
    digests only BUCKET positions (64-bit, birthday-safe to ~10^9 shared
    grams; a collision would only merge two buckets, and every entry in
    the family is verified value-identical against md5-bucketed DuckDB
    oracles at three scale factors)."""
    L = DUP_ANCHOR_L
    toks = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= L
    )
    anchors = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("w") - L + 1)).alias("i"),
        "w",
    ).select(
        "doc_id",
        "i",
        F.expr(f"xxhash64(slice(w, i, {L}))").alias("ah"),
    )
    return toks, anchors


def _dup_survivors(docs: DataFrame) -> DataFrame:
    """Surviving suffix positions (doc_id, i, ah, s): every position
    whose 8-token anchor digest appears in >= 2 distinct
    documents, carrying its 48-token truncated suffix string.
    Phase 1 shuffles only (digest, doc_id, pos); only survivors rebuild
    ``s`` via the doc_id-keyed join back to the text."""
    CAP = DUP_LCP_CAP
    toks, anchors = _dup_anchors(docs)
    shared = (
        anchors.groupBy("ah")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ah")
    )
    # lineage cut: the survivors feed multiple branches (count, window,
    # emission) whose exchanges differ — without it the anchor scan
    # re-runs per branch (the winnowing/shingle checkpoint rule)
    return (
        anchors.join(shared, "ah")
        .join(toks, "doc_id")
        .select(
            "doc_id",
            "i",
            "ah",
            F.expr(f"array_join(slice(w, i, {CAP}), ' ')").alias("s"),
        )
        .localCheckpoint(eager=False)
    )


def _dup_cross_adjacent(sv: DataFrame) -> DataFrame:
    """Adjacent CROSS-document suffix pairs within each anchor bucket,
    with their token-LCP: one lag() over the bucket-partitioned sorted
    order + the codegen fold. Columns: doc_id, pdoc, s, lcp.

    The adjacency lemma needs lexicographic order on TOKEN SEQUENCES, so
    the window sorts by the token ARRAY, not the space-joined string: a
    token containing a character below 0x20 (tab, newline) makes the
    joined-string order interleave inside another token-prefix group —
    brute-force search finds corpora where string-sorted adjacency then
    under-reports max_dup_len vs the all-pairs oracle (round-12 advice;
    pinned in tests/test_llm_ops.py with a tab-token corpus). Array
    comparison is element-wise on whole tokens, which is exactly the
    suffix order the LCP range-min argument assumes."""
    win = Window.partitionBy("ah").orderBy(
        F.expr("split(s, ' ')"), "doc_id", "i"
    )
    return (
        sv.select(
            "doc_id",
            "ah",
            "s",
            F.lag("doc_id").over(win).alias("pdoc"),
            F.lag("s").over(win).alias("ps"),
        )
        .filter(F.col("pdoc").isNotNull() & (F.col("pdoc") != F.col("doc_id")))
        .withColumn("lcp", F.expr(_LCP_EXPR))
    )


def longest_dup_substring_frame(docs: DataFrame) -> DataFrame:
    """Per document: the length of the longest token run (capped at
    48) it shares with at least one OTHER document, plus how
    many of its suffix positions start a shared >= 8-gram.

    This is the unbounded-length exact-substring dedup modality (the
    suffix-array LCP family): classic generalized-SA theory says the
    longest substring shared by two distinct documents equals the max
    LCP over ADJACENT suffix pairs from different documents in sorted
    suffix order — and for any one document D, the max over adjacent
    cross-document pairs INVOLVING D equals D's true max (walk from D's
    best suffix toward its partner; the first doc-boundary crossing is
    an adjacent cross pair whose LCP >= the pair's, since adjacent LCPs
    on the path are all >= the range min). Both facts need only
    sortedness, so truncation and tie order cannot break them.

    Distributed shape (why this scales where a monolithic suffix array
    cannot):
    - suffixes are BUCKETED by their first-8-token anchor
      gram (md5 digest, 16 bytes on the wire — never the text): any
      cross-doc run >= 8 lands both its suffixes in one
      bucket, so global suffix sorting shrinks to independent per-bucket
      sorts — a window over the anchor key, skew bounded by the hottest
      boilerplate anchor;
    - phase 1 shuffles only (digest, doc_id, pos) rows — ~24 bytes per
      token position — to find anchors spanning >= 2 distinct docs
      (partial-aggregated groupBy, no window over the corpus);
    - only SURVIVING positions (actually-duplicated regions) rebuild
      their 48-token truncated suffix via a doc_id-keyed join
      back to the text, so the CAP-times-text blowup applies to the
      duplicated subset, not the corpus;
    - adjacent-pair LCP is one lag() + a codegen fold per surviving row;
      per-doc answers are partial-aggregated MAX/COUNT.

    The exhaustive all-pairs-within-bucket twin is the ORACLE (audit
    tier, like the catalog's other exhaustive oracles); the engine runs
    the linear adjacency plan. Complements winnowing: that entry stores
    a bounded fingerprint index with a detection floor; this one reports
    exact duplicated-run lengths for triage/cut decisions (licence
    blocks, syndicated paragraphs, copy-pasted boilerplate)."""
    sv = _dup_survivors(docs)
    emissions = _dup_cross_adjacent(sv).select(
        F.explode(F.array("doc_id", "pdoc")).alias("doc_id"),
        "lcp",
    )
    mx = emissions.groupBy("doc_id").agg(F.max("lcp").alias("max_dup_len"))
    cnt = sv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_anchors"))
    # inner join is exact, not lossy: every doc holding a shared anchor
    # appears in >= 1 adjacent cross pair of that anchor's bucket (the
    # docstring's boundary-crossing argument), so cnt and mx cover the
    # same doc set
    return cnt.join(mx, "doc_id").select(
        "doc_id", "max_dup_len", "n_dup_anchors"
    ).orderBy("doc_id")


def _sql_longest_dup(l_: int = DUP_ANCHOR_L, cap: int = DUP_LCP_CAP) -> str:
    """Exhaustive twin of ``longest_dup_substring_frame``: all suffix
    pairs from different docs within an anchor bucket, token-LCP via
    list_zip (list_position returns 0 when no mismatch is found — equal
    truncated suffixes — in which case the LCP is the full min length;
    padding guarantees a mismatch whenever lengths differ)."""
    return f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= {l_}
        ),
        suff AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {l_ - 1}], ' ')) AS ah,
                   w[i : i + {cap - 1}] AS s
            FROM w, UNNEST(range(1, len(w) - {l_} + 2)) AS t(i)
        ),
        shared AS (
            SELECT ah FROM suff GROUP BY ah HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        sv AS (SELECT suff.* FROM suff JOIN shared USING (ah)),
        pairs AS (
            SELECT a.doc_id,
                   list_position(
                       list_transform(list_zip(a.s, b.s),
                                      p -> p[1] IS NOT DISTINCT FROM p[2]),
                       false) AS fpos,
                   least(len(a.s), len(b.s)) AS minlen
            FROM sv a JOIN sv b ON a.ah = b.ah AND a.doc_id <> b.doc_id
        ),
        mx AS (
            SELECT doc_id,
                   MAX(CAST(IF(fpos = 0, minlen, fpos - 1) AS BIGINT))
                       AS max_dup_len
            FROM pairs GROUP BY doc_id
        ),
        cnt AS (
            SELECT doc_id, COUNT(*) AS n_dup_anchors FROM sv GROUP BY doc_id
        )
        SELECT cnt.doc_id, mx.max_dup_len, cnt.n_dup_anchors
        FROM cnt JOIN mx USING (doc_id)
        ORDER BY cnt.doc_id
    """


@query(
    "dedup_longest_dup_substring",
    category="llm_dedup",
    description=(
        f"Longest duplicated token run per doc (>= {DUP_ANCHOR_L}, capped "
        f"{DUP_LCP_CAP}): suffix-array adjacency LCP, anchor-gram bucketed"
    ),
    oracle=_sql_longest_dup(),
)
def dedup_longest_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry over the documents table; see
    ``longest_dup_substring_frame`` for the algorithm and scale story.
    Closes the one LLM-corpus dedup modality the catalog lacked
    (round-11 verdict #5): unbounded-length exact substring duplication,
    vs the fixed windows of passage dedup and the probabilistic floors
    of MinHash/winnowing."""
    return longest_dup_substring_frame(load_table(spark, sf_dir, "documents"))


def _sql_dup_spans(l_: int = DUP_ANCHOR_L, cap: int = DUP_LCP_CAP) -> str:
    """Exhaustive twin of ``dedup_dup_span_extract``: all cross-doc suffix
    pairs within anchor buckets, each carrying its shared-prefix TEXT;
    per doc keep (max length, then lexicographically smallest text)."""
    return f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= {l_}
        ),
        suff AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {l_ - 1}], ' ')) AS ah,
                   w[i : i + {cap - 1}] AS s
            FROM w, UNNEST(range(1, len(w) - {l_} + 2)) AS t(i)
        ),
        shared AS (
            SELECT ah FROM suff GROUP BY ah HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        sv AS (SELECT suff.* FROM suff JOIN shared USING (ah)),
        pairs AS (
            SELECT doc_id, s,
                   CAST(IF(fpos = 0, minlen, fpos - 1) AS BIGINT) AS lcp
            FROM (
                SELECT a.doc_id, a.s,
                       list_position(
                           list_transform(list_zip(a.s, b.s),
                                          p -> p[1] IS NOT DISTINCT FROM p[2]),
                           false) AS fpos,
                       least(len(a.s), len(b.s)) AS minlen
                FROM sv a JOIN sv b ON a.ah = b.ah AND a.doc_id <> b.doc_id
            )
        ),
        spans AS (
            SELECT doc_id, lcp,
                   array_to_string(list_slice(s, 1, lcp), ' ') AS span
            FROM pairs
        ),
        best_len AS (
            SELECT doc_id, MAX(lcp) AS dup_len FROM spans GROUP BY doc_id
        )
        SELECT s.doc_id, b.dup_len, MIN(s.span) AS dup_text
        FROM spans s JOIN best_len b
          ON b.doc_id = s.doc_id AND s.lcp = b.dup_len
        GROUP BY s.doc_id, b.dup_len
        ORDER BY s.doc_id
    """


def dup_span_extract_frame(sv: DataFrame) -> DataFrame:
    """Longest duplicated span TEXT per doc over a surviving-suffix
    relation (``_dup_survivors`` output, possibly a materialized pipeline
    intermediate): the single plan body shared by the registry entry and
    bench.py's pipeline-marginal timing (round-12 advice — the inline
    re-implementation the bench carried could drift from this source).
    Unordered; callers add their own orderBy."""
    adj = _dup_cross_adjacent(sv)
    # both sides of an adjacent pair share the prefix — one span column
    # serves both emissions
    spans = adj.select(
        F.explode(F.array("doc_id", "pdoc")).alias("doc_id"),
        "lcp",
        F.expr("array_join(slice(split(s, ' '), 1, int(lcp)), ' ')").alias("span"),
    )
    # lineage cut: spans feeds both the per-doc max and the winner join
    spans = spans.localCheckpoint(eager=False)
    best_len = spans.groupBy("doc_id").agg(F.max("lcp").alias("dup_len"))
    return (
        spans.alias("sp")
        .join(
            best_len.alias("bl"),
            (F.col("sp.doc_id") == F.col("bl.doc_id"))
            & (F.col("sp.lcp") == F.col("bl.dup_len")),
        )
        .select(F.col("sp.doc_id").alias("doc_id"), "bl.dup_len", "sp.span")
        .groupBy("doc_id", "dup_len")
        .agg(F.min("span").alias("dup_text"))
    )


@query(
    "dedup_dup_span_extract",
    category="llm_dedup",
    description=(
        "Longest duplicated span TEXT per doc (max length, then smallest "
        "text): the extraction twin of dedup_longest_dup_substring"
    ),
    oracle=_sql_dup_spans(),
)
def dedup_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXTRACTION twin of ``dedup_longest_dup_substring``: a cut/keep
    decision needs the duplicated span itself (is it a licence block? a
    syndicated header?), not just its length. Per document with a
    cross-document run >= 8: the longest shared token run's
    TEXT (capped at 48 tokens), ties on length broken by the
    lexicographically smallest span.

    Determinism across the two engines' different pair sets: the engine
    sees only ADJACENT cross-doc pairs, the oracle ALL cross-doc pairs —
    but for every (doc D, max-length span text t) the oracle derives,
    some adjacent cross pair involving D carries exactly t (walk from
    D's t-prefixed suffix toward its partner inside t's bucket region:
    every suffix between them also starts with t, so the first
    doc-boundary crossing is an adjacent cross pair whose LCP is the
    same max and whose shared prefix is t). Hence max-then-min-text
    agrees even though positions and intermediate pair sets differ —
    which is also why the tiebreak is the TEXT, not the position (the
    adjacency plan does not preserve which position attains the max).
    Same plan shape and scale story as the length entry; the span
    materializes only for the per-doc winners."""
    sv = _dup_survivors(load_table(spark, sf_dir, "documents"))
    return dup_span_extract_frame(sv).orderBy("doc_id")


def _sql_remove_spans(l_: int = DUP_ANCHOR_L) -> str:
    """Exhaustive twin of ``dedup_remove_duplicated_spans``: covered
    positions via a bucket×offset expansion, reassembly via an
    index-filtered list comprehension."""
    return f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        anch AS (
            SELECT doc_id, i,
                   md5(array_to_string(w[i : i + {l_ - 1}], ' ')) AS ah
            FROM w, UNNEST(range(1, len(w) - {l_} + 2)) AS t(i)
            WHERE len(w) >= {l_}
        ),
        b AS (
            SELECT ah, MIN(doc_id) AS own
            FROM anch GROUP BY ah HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
            SELECT DISTINCT a.doc_id, a.i + off AS pos
            FROM anch a JOIN b USING (ah), UNNEST(range(0, {l_})) AS t(off)
            WHERE a.doc_id > b.own
        ),
        cv AS (SELECT doc_id, list(pos) AS cov FROM cov GROUP BY doc_id)
        SELECT w.doc_id,
               CAST(len(w.w) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(cv.cov), 0) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(
                   [w.w[k] for k in range(1, len(w.w) + 1)
                    if cv.cov IS NULL OR NOT list_contains(cv.cov, k)],
                   ' '), '') AS cleaned_text
               -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
               -- array_join([]) is '' — a fully-removed doc must agree
        FROM w LEFT JOIN cv USING (doc_id)
        ORDER BY w.doc_id
    """


@query(
    "dedup_remove_duplicated_spans",
    category="llm_dedup",
    description=(
        f"Apply the dedup cut: drop tokens covered by a shared >= "
        f"{DUP_ANCHOR_L}-gram wherever this doc is not the bucket's "
        "canonical (min-doc_id) owner; canonical copies survive"
    ),
    oracle=_sql_remove_spans(),
)
def dedup_remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step closing the suffix-dedup trio (detect → extract →
    CUT): per document, remove every token covered by some shared
    8-gram occurrence for which this document is not the
    anchor bucket's canonical owner (min doc_id across the bucket's
    documents — first-occurrence-wins, the passage-dedup survivor rule).
    Exactly one copy of every duplicated region survives corpus-wide;
    unique text is untouched; docs shorter than the anchor floor pass
    through whole. Output per doc: original token count, tokens
    removed, and the cleaned text with original token order preserved.

    Plan: phase 1 is the shared anchor pipeline — (digest, doc_id, pos)
    rows only; bucket owners come from the same partial-aggregated
    groupBy that finds shared anchors (MIN rides along with the
    distinct-doc count). Covered positions expand only for NON-owner
    occurrences of shared anchors (duplicated-region mass, not corpus
    mass), collapse to a per-doc sorted position set (collect_set —
    bounded by doc length), and the cut itself is one index-aware
    ``filter(w, (x, i) -> ...)`` over the token array — codegen-local,
    no per-token shuffle, no Python. The reassembled text never crosses
    a shuffle: the only exchanges are the anchor groupBy, the
    anchors⋈buckets join, and the doc_id-keyed fan-back of the micro
    position-set relation."""
    return remove_duplicated_spans_frame(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


def remove_duplicated_spans_frame(docs: DataFrame) -> DataFrame:
    """The cut step as a frame function over any ``(doc_id, text)``
    relation — the registry entry applies it to the raw documents table;
    the curation capstone (pipeline.py: ``curate_span_cut_pipeline``)
    applies it to the quality-gated survivors, where the anchor buckets
    (and hence the canonical owners) are computed over the gated corpus
    only. Unordered; callers add their own orderBy. See the registry
    entry's docstring for semantics and the plan's scale story."""
    L = DUP_ANCHOR_L
    toks_all = docs.select("doc_id", F.split("text", " ").alias("w"))
    _, anchors = _dup_anchors(docs)
    buckets = (
        anchors.groupBy("ah")
        .agg(
            F.min("doc_id").alias("own"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("ah", "own")
    )
    # Shuffle anchor STARTS, not exploded positions (optimization round
    # 14, guide §2.3 shuffle fewer bytes): the covered-position expansion
    # is a pure per-doc function of the start set, so exploding the L
    # offsets BEFORE the groupBy shipped L× the rows through the exchange
    # only to collapse them again; collecting the starts and expanding
    # in-row (codegen transform + flatten + array_distinct) moves the
    # same information in 1/L the shuffle rows.
    cov = (
        anchors.join(buckets, "ah")
        .filter(F.col("doc_id") > F.col("own"))
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(flatten(transform(starts,"
                f" s -> sequence(s, s + {L - 1}))))"
            ).alias("cov"),
        )
    )
    return cut_covered_positions(toks_all, cov)


def cut_covered_positions(
    toks_all: DataFrame, cov: DataFrame, extra_zero_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Shared cut/reassembly tail: given ``(doc_id, w)`` token arrays and
    a ``(doc_id, cov)`` covered-position-set relation (1-based
    positions), drop the covered tokens and reassemble — one index-aware
    codegen ``filter`` per doc, no per-token shuffle. Used by the dedup
    cut step, the decontamination span cut, and the composed curation
    capstone (pipeline.py: ``pipeline_decontaminate_span_cut``,
    ``curate_full_pipeline``). ``extra_zero_cols`` names additional
    numeric columns on ``cov`` (e.g. per-cut-family removal counters) to
    carry through, coalesced to 0L for uncovered docs — so callers
    needing per-doc breakdowns alongside the cut pay ONE aggregate over
    the coverage relation, not a second join."""
    joined = toks_all.join(cov, "doc_id", "left").select(
        "doc_id",
        "w",
        F.coalesce("cov", F.array().cast("array<int>")).alias("cov2"),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in extra_zero_cols
        ],
    )
    return joined.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size("cov2").cast("long").alias("n_removed"),
        *extra_zero_cols,
        F.expr(
            "array_join(filter(w, (x, i) -> NOT array_contains(cov2, i + 1)), ' ')"
        ).alias("cleaned_text"),
    )
