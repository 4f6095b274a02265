"""Structural correctness properties for the scale-pattern operators
(two-phase row numbering, gap-fill densification, SCD2 intervals) that
the value-hash differential alone wouldn't explain on failure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators import get_query


def test_global_rownum_is_a_permutation_and_monotone(spark, sf_correct):
    out = (
        get_query("global_rownum_two_phase")
        .builder(spark, sf_correct)
        .orderBy("rn")
        .collect()
    )
    n = len(out)
    assert [r.rn for r in out] == list(range(1, n + 1))
    keys = [r.o_orderkey for r in out]
    assert keys == sorted(keys)


def test_gapfill_spine_is_dense_with_real_gaps(spark, sf_correct):
    df = get_query("events_gapfill_locf").builder(spark, sf_correct)
    agg = df.agg(
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("bucket").alias("n_buckets"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_events") == 0, 1).otherwise(0)).alias("n_gap_rows"),
        F.sum(
            F.when(
                (F.col("n_events") == 0) & F.col("value_locf").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_gap_rows_filled"),
    ).first()
    # dense grid: every (type, hour) cell exists exactly once
    assert agg.n_rows == agg.n_types * agg.n_buckets
    # the synthetic corpus leaves real silent hours per type...
    assert agg.n_gap_rows > 0
    # ...and LOCF fills every gap row that has any prior observation
    # (only a leading gap before a type's first hour may stay null)
    assert agg.n_gap_rows_filled >= agg.n_gap_rows - agg.n_types


def test_scd2_intervals_tile_each_user_timeline(spark, sf_correct):
    df = get_query("scd2_user_type_history").builder(spark, sf_correct)
    # exactly one open (current) interval per user
    open_per_user = (
        df.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
        .filter(F.col("n_open") != 1)
        .count()
    )
    assert open_per_user == 0
    # closed intervals chain exactly: this row's valid_to equals the next
    # row's valid_from (no gaps, no overlaps) within each user
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("valid_from")
    chained = df.withColumn("next_from", F.lead("valid_from").over(w))
    broken = chained.filter(
        F.col("valid_to").isNotNull() & (F.col("valid_to") != F.col("next_from"))
    ).count()
    assert broken == 0
    # change suppression: consecutive intervals never carry the same type
    same_neighbor = (
        df.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type") == F.col("event_type"))
        .count()
    )
    assert same_neighbor == 0


def test_rotation_moves_sampled_names_to_back(monkeypatch, tmp_path):
    """The automatic correctness-sampling rotation must push every name
    recorded in a CORRECTNESS_r*.json to the back of the registry and
    keep never-sampled names (carried-over first, then _QUEUE_BEHIND
    order) at the front — exercised against a synthetic round file so
    the mechanism is pinned independently of the real repo history."""
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    fake_sampled = names[:3] + names[-3:]
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    f = tmp_path / "CORRECTNESS_r99.json"
    f.write_text(json.dumps({n: green for n in fake_sampled}))

    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob", lambda pattern: [str(f)] if "CORRECTNESS_r" in pattern else real_glob(pattern)
    )
    assert ops._driver_sampled_names() == set(fake_sampled)

    before = dict(ops.REGISTRY)
    try:
        ops._rotate_registry()
        rotated = list(ops.REGISTRY)
        assert set(rotated) == set(names), "rotation must not drop entries"
        assert rotated[-len(fake_sampled):] == [
            n for n in rotated if n in set(fake_sampled)
        ], "sampled names must all sit at the back"
        assert all(n not in set(fake_sampled) for n in rotated[: len(rotated) - len(fake_sampled)])
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)


def test_rotation_requeues_errored_and_stale_rows_only_records(monkeypatch, tmp_path):
    """A CORRECTNESS record whose driver check CRASHED (non-null err other
    than 'no_oracle') is unverified and must NOT count as sampled; a
    rows-only 'no_oracle' record goes stale (re-queued) once the query
    has since gained an oracle, and stays sampled while it hasn't."""
    import dataclasses
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    with_oracle = next(n for n in names if ops.REGISTRY[n].oracle is not None)
    # every registry entry is oracle-paired as of round 7, so synthesize a
    # rows-only spec (the rotation logic must keep handling the case — a
    # future genuinely-non-SQL-expressible op would reintroduce it)
    without_oracle = "_synthetic_rows_only"
    clean = next(n for n in names if n != with_oracle)
    f = tmp_path / "CORRECTNESS_r99.json"
    f.write_text(
        json.dumps(
            {
                clean: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
                # REAL driver shape for rows-only checks (r01-r05 on disk):
                # all match fields null — there is no verdict to be red on
                with_oracle: {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"},
                without_oracle: {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"},
                names[0]: {"err": "TypeError: unhashable type: 'list'"},
            }
        )
    )
    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f)] if "CORRECTNESS_r" in pattern else real_glob(pattern),
    )
    before = dict(ops.REGISTRY)
    try:
        ops.REGISTRY[without_oracle] = dataclasses.replace(
            ops.REGISTRY[with_oracle], name=without_oracle, oracle=None
        )
        sampled = ops._driver_sampled_names()
        assert clean in sampled
        assert without_oracle in sampled
        assert with_oracle not in sampled, "rows-only record must go stale once an oracle exists"
        assert names[0] not in sampled, "crashed check must re-enter the window"
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)


def test_rotation_requeues_red_records_at_front(monkeypatch, tmp_path):
    """A driver record with any of rows/schema/hash FALSE is a red row:
    the query is broken-then-fixed and must re-enter the front of the
    sampling window until the driver signs a green row. A red row that
    rotated to the back bit rounds 6-8 (sql_shared_text_rollup,
    join_bloom_prefilter: cast-fixed in-tree but never re-drawn). A
    LATER green record for the same name still marks it sampled."""
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    red_hash, red_rows, red_then_green = names[0], names[1], names[2]
    f1 = tmp_path / "CORRECTNESS_r97.json"
    f1.write_text(
        json.dumps(
            {
                red_hash: {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
                red_rows: {"rows_match": False, "schema_match": True, "hash_match": False, "err": None},
                red_then_green: {"rows_match": True, "schema_match": False, "hash_match": False, "err": None},
            }
        )
    )
    f2 = tmp_path / "CORRECTNESS_r99.json"
    f2.write_text(
        json.dumps(
            {red_then_green: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}}
        )
    )
    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f1), str(f2)] if "CORRECTNESS_r" in pattern else real_glob(pattern),
    )
    sampled = ops._driver_sampled_names()
    assert red_hash not in sampled, "hash-red record must re-enter the window"
    assert red_rows not in sampled, "rows-red record must re-enter the window"
    assert red_then_green in sampled, "a later green record marks the query sampled"

    before = dict(ops.REGISTRY)
    try:
        ops._rotate_registry()
        rotated = list(ops.REGISTRY)
        unsampled_front = rotated[: len(rotated) - len(sampled & set(names))]
        assert red_hash in unsampled_front and red_rows in unsampled_front
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)


def test_rotation_latest_record_wins_green_then_red(monkeypatch, tmp_path):
    """A green in an OLD round must not outvote a later red: only the
    LATEST round's record per name decides. Without latest-wins, a
    regression after a past green rotates to the back and its fix never
    re-enters the driver window — the mirror image of the red-then-green
    case the red-record rule fixed."""
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    regressed = names[0]
    f_old = tmp_path / "CORRECTNESS_r05.json"
    f_old.write_text(
        json.dumps(
            {regressed: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}}
        )
    )
    f_new = tmp_path / "CORRECTNESS_r11.json"
    f_new.write_text(
        json.dumps(
            {regressed: {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}}
        )
    )
    real_glob = importlib.import_module("glob").glob
    # deliberately list the newer file FIRST: precedence must come from
    # the round number in the filename, not glob order
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f_new), str(f_old)] if "CORRECTNESS_r" in pattern else real_glob(pattern),
    )
    # this fixture's only name ends red, so the parser legitimately finds
    # ZERO sampled names — assert the designed no-rotation warning fires
    # here (and is not a live-file parse failure: see
    # test_rotation_parses_live_correctness_files)
    with pytest.warns(RuntimeWarning, match="no sampled names parsed"):
        sampled = ops._driver_sampled_names()
    assert regressed not in sampled, "later red must supersede the old green"


def test_rotation_parses_live_correctness_files():
    """The REAL committed CORRECTNESS_r*.json files must parse from the
    repo root at import time: if the driver's filename/format ever drifts
    from the parser, the stalest-first ordering silently no-ops (round-10
    verdict #6). Rounds 1-10 drove all 314 registry entries green, so the
    live parse must yield (nearly) the whole registry with plausible
    verifying rounds."""
    import spark_jdbc_limit_spark.operators as ops

    rounds = ops._driver_sampled_rounds()
    assert len(rounds) >= 300, (
        f"live CORRECTNESS parse found only {len(rounds)} verified names"
    )
    in_registry = set(rounds) & set(ops.REGISTRY)
    assert len(in_registry) >= 300
    assert all(isinstance(r, int) and r >= 1 for r in rounds.values())
    stats = ops.rotation_stats()
    assert stats["current_round"] >= 10
    assert stats["n_verified_green"] >= 300
    # with a ~50-row window over ~314 entries a full re-confirmation
    # cycle is ceil(314/50)=7 rounds; the stalest-first ordering keeps
    # the achieved staleness bounded by that (allow +1: an all-red or
    # unprocessed latest round advances the filename-derived clock —
    # round-11 advice — without re-greening anything yet)
    assert stats["max_rounds_since_green"] <= 8
    # the rotation clock comes from the highest CORRECTNESS filename, not
    # the max green record (an all-red round must still advance it)
    assert stats["current_round"] == ops._latest_correctness_round()
    # growth-vs-staleness trend (round-11 verdict #7): the committed
    # artifact carries a per-round history including the current round
    hist = stats["history"]
    assert hist and hist[-1]["round"] == stats["current_round"]
    assert hist[-1]["n_entries"] == stats["n_entries"]


def test_size_partitions_grows_with_cardinality(spark):
    """The graph family's partition right-sizing (round-11): micro
    relations coalesce down to ceil(n/64k) partitions — the per-task
    scheduling floor was ~2/3 of the family's wall at sf0.1 — but the
    count keeps GROWING with the edge set, so a 100x corpus spreads
    instead of serializing (the failure mode an advisory-size rebalance
    hint would hit)."""
    from spark_jdbc_limit_spark.operators.graph import (
        EDGE_ROWS_PER_PARTITION,
        _size_partitions,
    )

    df = spark.range(1000).repartition(8)
    assert _size_partitions(df, 1000).rdd.getNumPartitions() == 1
    assert (
        _size_partitions(df, 3 * EDGE_ROWS_PER_PARTITION).rdd.getNumPartitions()
        == 3
    )
    shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = _size_partitions(df, (shuf + 5) * EDGE_ROWS_PER_PARTITION)
    assert big.rdd.getNumPartitions() == shuf + 5


def test_edge_count_memoized_per_corpus(spark, sf_dir, sf_correct):
    """The right-sizing count is memoized per (session, input files):
    repeated builds (pytest's registry-wide schema scan, bench reps) must
    not re-pay the count job, two SF dirs must not share an entry, and the
    key must carry the session (the count job is what materializes the
    per-session pairs cache that makes the downstream coalesce safe)."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    from spark_jdbc_limit_spark.operators import reuse
    from spark_jdbc_limit_spark.operators.graph import _supplier_edges
    from spark_jdbc_limit_spark.sources.catalog import load_table

    kind = "supplier_edge_count"
    _supplier_edges(spark, sf_dir)
    _supplier_edges(spark, sf_correct)

    def cached(sf: str) -> int:
        return reuse.memo(
            spark, kind, load_table(spark, sf, "lineitem"),
            lambda: pytest.fail(f"no memoized edge count for {sf}"),
        )

    # two corpora hold two entries, with their own counts
    assert cached(sf_dir) != cached(sf_correct)
    # a rebuild reuses the memoized count: a hit, no new miss
    hits, misses = reuse.hits[kind], reuse.misses[kind]
    _supplier_edges(spark, sf_dir)
    assert (reuse.hits[kind], reuse.misses[kind]) == (hits + 1, misses)
    # another session misses on the same corpus, and the memo must not
    # keep that session alive once it is dropped
    other = spark.newSession()
    _supplier_edges(other, sf_dir)
    assert reuse.misses[kind] == misses + 1
    gone = weakref.ref(other)
    del other
    # PySpark binds RDD.toDF to the newest session: bind it back to the
    # fixture's, so only the memo's weak key could still hold `other`
    _monkey_patch_RDD(spark)
    gc.collect()
    assert gone() is None


def test_rfm_scalable_twin_matches_ntile_exactly(spark, sf_correct):
    """The two-phase bucket-ranked RFM variant is pinned BIT-IDENTICAL to
    the ntile window version — the scale path claims the same answer,
    not an approximation — and its physical plan contains no ntile and
    ranks via bucket-partitioned windows (no single-task sort of the
    customer relation)."""
    a = get_query("customer_rfm_segmentation").builder(spark, sf_correct)
    b = get_query("customer_rfm_segmentation_scalable").builder(spark, sf_correct)
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    assert "hashpartitioning(bucket" in plan


def test_rotation_warns_on_unreadable_round_file(monkeypatch, tmp_path):
    import warnings

    import spark_jdbc_limit_spark.operators as ops

    bad = tmp_path / "CORRECTNESS_r98.json"
    bad.write_text("{not json")
    monkeypatch.setattr(
        "glob.glob", lambda pattern: [str(bad)] if "CORRECTNESS_r" in pattern else []
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        names = ops._driver_sampled_names()
    assert names == set()
    assert any("sampling window" in str(w.message) for w in caught)


def test_queue_behind_names_all_exist_in_registry():
    """A typo in _QUEUE_BEHIND silently drops the query from its intended
    queue slot — pin every listed name to a real registry entry."""
    import spark_jdbc_limit_spark.operators as ops

    missing = [n for n in ops._QUEUE_BEHIND if n not in ops.REGISTRY]
    assert not missing, f"_QUEUE_BEHIND names not in registry: {missing}"


def test_rotation_staleness(monkeypatch, tmp_path):
    """Round-9 verdict #7: within the already-verified block, STALEST
    green first — an entry verified in an earlier round must precede one
    verified later, so the ~50-row sample window re-confirms
    long-unverified entries first and rounds-since-last-green is bounded
    by ceil(n_verified / window) once the never-green pools drain.
    Pinned against synthetic two-round history AND the real repo
    history's resulting order."""
    import importlib
    import json
    import math

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    old_green = names[:3]  # verified long ago (round 1)
    new_green = names[3:6]  # verified last round (round 9)
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    f1 = tmp_path / "CORRECTNESS_r01.json"
    f1.write_text(json.dumps({n: green for n in old_green}))
    f9 = tmp_path / "CORRECTNESS_r09.json"
    f9.write_text(json.dumps({n: green for n in new_green}))

    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f1), str(f9)]
        if "CORRECTNESS_r" in pattern
        else real_glob(pattern),
    )
    rounds = ops._driver_sampled_rounds()
    assert all(rounds[n] == 1 for n in old_green)
    assert all(rounds[n] == 9 for n in new_green)

    # hold churn fixed (empty) so this pin isolates the staleness sort;
    # the churn tier has its own test below
    monkeypatch.setattr(ops, "_changed_modules_since", lambda r: set())
    before = dict(ops.REGISTRY)
    try:
        ops._rotate_registry()
        rotated = list(ops.REGISTRY)
        seen_block = rotated[-6:]
        # stalest greens (round 1) come before the recent greens (round 9)
        assert seen_block[:3] == old_green
        assert seen_block[3:] == new_green
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)

    # real history: the verified block of the live registry is ordered in
    # tiers (round-12 verdict #2) — staleness-critical first, churned
    # second, rest third, each ascending in verifying round — so the
    # redraw distance of the stalest entry stays bounded by
    # ceil(n_verified/window) sample windows while module churn gets the
    # window budget the critical tier leaves free.
    # UNDO the monkeypatches first — otherwise this half re-reads the
    # synthetic fixture and pins nothing about the repo's actual files.
    monkeypatch.undo()
    real_rounds = ops._driver_sampled_rounds()
    verified_in_order = [n for n in ops.REGISTRY if n in real_rounds]
    window = ops._SAMPLE_WINDOW
    if verified_in_order:
        current = ops._latest_correctness_round()
        bound = max(2, math.ceil(len(ops.REGISTRY) / window))
        # every staleness-critical entry (would exceed the bound if not
        # re-drawn this round) must sit inside the first sample window of
        # the verified block — the hard invariant churn must not break
        critical = [
            n for n in verified_in_order if current - real_rounds[n] >= bound - 1
        ]
        head = set(verified_in_order[:window])
        assert len(critical) <= window, "critical tier over-subscribed"
        assert set(critical) <= head, (
            "staleness-critical entries displaced from the sample window"
        )
        # the critical prefix itself is stalest-first
        rs_crit = [real_rounds[n] for n in verified_in_order[: len(critical)]]
        assert rs_crit == sorted(rs_crit)
        stalest_pos = verified_in_order.index(
            min(verified_in_order, key=lambda n: real_rounds[n])
        )
        assert stalest_pos < window


def test_rotation_churn_tier_promotes_changed_modules(monkeypatch, tmp_path):
    """Round-12 verdict #2: an entry whose implementing module changed
    since the round that greened it carries a stale driver signature —
    it must outrank unchanged recently-green entries, but NEVER displace
    a staleness-critical one."""
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    names = list(ops.REGISTRY)
    critical, churned, recent = names[0], names[1], names[2]
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    # current round = 99; bound with the live registry ≈ 7 → green at 93
    # is critical; 98-greens are fresh
    f93 = tmp_path / "CORRECTNESS_r93.json"
    f93.write_text(json.dumps({critical: green}))
    f98 = tmp_path / "CORRECTNESS_r98.json"
    f98.write_text(json.dumps({churned: green, recent: green}))
    f99 = tmp_path / "CORRECTNESS_r99.json"
    f99.write_text(json.dumps({}))

    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f93), str(f98), str(f99)]
        if "CORRECTNESS_r" in pattern
        else real_glob(pattern),
    )
    churned_mod = ops.REGISTRY[churned].builder.__module__.replace(".", "/") + ".py"
    monkeypatch.setattr(
        ops, "_changed_modules_since", lambda r: {churned_mod} if r == 98 else set()
    )
    before = dict(ops.REGISTRY)
    try:
        ops._rotate_registry()
        rotated = list(ops.REGISTRY)
        # seen block is the last 3: critical (tier 1), churned (tier 2),
        # untouched recent green (tier 3) — in exactly that order
        assert rotated[-3:] == [critical, churned, recent]
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)


def test_rotation_churn_tier_follows_helper_modules(monkeypatch, tmp_path):
    """Round-13 advice: entries whose logic lives in IMPORTED helper
    modules must churn-promote when the helper changes — the capstone's
    builder is in pipeline.py but its cut runs in dedup.py, so a
    dedup.py refactor must pull it into tier 2 ahead of an untouched
    same-round green."""
    import importlib
    import json

    import spark_jdbc_limit_spark.operators as ops

    dep_mod = "spark_jdbc_limit_spark/operators/dedup.py"
    deps = ops._module_deps("spark_jdbc_limit_spark/operators/pipeline.py")
    assert dep_mod in deps and "spark_jdbc_limit_spark/operators/text.py" in deps
    # derived, not hand-maintained: a module with no package imports is empty
    assert ops._module_deps("spark_jdbc_limit_spark/operators/no_such.py") == frozenset()

    helper_entry = "curate_span_cut_pipeline"  # builder pipeline.py, cut dedup.py
    other = next(
        n
        for n in ops.REGISTRY
        if ops.REGISTRY[n].builder.__module__
        == "spark_jdbc_limit_spark.operators.relational"
    )
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    f98 = tmp_path / "CORRECTNESS_r98.json"
    f98.write_text(json.dumps({helper_entry: green, other: green}))
    f99 = tmp_path / "CORRECTNESS_r99.json"
    f99.write_text(json.dumps({}))
    real_glob = importlib.import_module("glob").glob
    monkeypatch.setattr(
        "glob.glob",
        lambda pattern: [str(f98), str(f99)]
        if "CORRECTNESS_r" in pattern
        else real_glob(pattern),
    )
    monkeypatch.setattr(
        ops, "_changed_modules_since", lambda r: {dep_mod} if r == 98 else set()
    )
    before = dict(ops.REGISTRY)
    try:
        ops._rotate_registry()
        rotated = list(ops.REGISTRY)
        # same verifying round, so only the tier can order them: the
        # helper-dependent entry (tier 2 via dedup.py) must precede the
        # untouched relational entry (tier 3)
        assert rotated.index(helper_entry) < rotated.index(other)
    finally:
        ops.REGISTRY.clear()
        ops.REGISTRY.update(before)


def test_bench_vs_prev_norm_reads_committed_artifact():
    """bench.py's cross-round regression bar (round-13 verdict #1) reads
    git HEAD's BENCH_FULL.json and normalizes by ITS anchor factor; an
    sf-mismatched artifact must disable the trigger with a warning, not
    define the bar."""
    import json
    import os
    import subprocess
    import sys

    import pytest

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _prev_bench_norm

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        ["git", "-C", root, "show", "HEAD:BENCH_FULL.json"],
        capture_output=True,
        text=True,
    )
    if res.returncode != 0:
        pytest.skip("no committed BENCH_FULL.json on this checkout")
    prev = json.loads(res.stdout)
    norm = _prev_bench_norm(prev.get("sf"), prev.get("cpus"))
    assert norm, "committed artifact present but vs_prev map empty"
    name = "q1_pricing_summary"
    import statistics

    med = prev["queries"][name]
    solo = (prev.get("reprobe", {}).get(name) or {}).get("solo")
    if solo:
        med = min(med, statistics.median(solo))
    want = med / prev["anchor_factor"]
    assert abs(norm[name] - want) < 0.01
    # a cpus-mismatched call must disable the bar
    if prev.get("cpus") is not None:
        assert _prev_bench_norm(prev.get("sf"), prev["cpus"] + 1) == {}
    with pytest.warns(RuntimeWarning):
        assert _prev_bench_norm("no-such-sf", prev.get("cpus")) == {}


def test_bench_vs_prev_trigger_boundaries():
    """The cross-round trigger must fire on a genuine 1.5x normalized
    exceedance, clear when the slot factor explains the raw delta, and
    never fire below the absolute floor or without a previous row."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import VS_PREV_MIN_SEC, VS_PREV_X, _vs_prev_exceeds

    assert VS_PREV_X == 1.5 and VS_PREV_MIN_SEC == 0.5
    # genuine regression: 2.0s median on a quiet slot vs prev norm 1.0
    assert _vs_prev_exceeds(2.0, 1.0, 1.0)
    # same raw median on a 2x-contended slot normalizes to 1.0 → clear
    assert not _vs_prev_exceeds(2.0, 2.0, 1.0)
    # below the absolute floor: jitter territory, spread trigger owns it
    assert not _vs_prev_exceeds(0.4, 1.0, 0.1)
    # no previous row (new entry / first round) → never fires
    assert not _vs_prev_exceeds(5.0, 1.0, None)
    # exactly at the bar does not fire (strict >)
    assert not _vs_prev_exceeds(1.5, 1.0, 1.0)


def test_bench_vs_prev_bar_guards_and_robust_seed():
    """_prev_norm_from_artifact (round-14 verdict #6/#9): the committed
    artifact defines the regression bar only when recorded at the SAME sf
    AND cpus; and a contended committed median (spread-reprobed in that
    run) seeds the bar from min(median, solo median), so slot noise in
    one close artifact cannot weaken the next round's trigger."""
    import os
    import sys
    import warnings

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _prev_norm_from_artifact

    art = {
        "sf": 0.1,
        "cpus": 32,
        "anchor_factor": 2.0,
        "queries": {"a": 4.0, "b": 6.0},
        "reprobe": {"b": {"solo": [1.0, 2.0, 9.0]}},
    }
    # same sf+cpus: normalized by the anchor factor; b's contended 6.0
    # median is replaced by its solo median 2.0 before normalizing
    norm = _prev_norm_from_artifact(art, 0.1, 32)
    assert norm == {"a": 2.0, "b": 1.0}
    # cpus mismatch (the 8-cpu scaling-run overwrite scenario) → disabled
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _prev_norm_from_artifact(art, 0.1, 8) == {}
        assert any("cpus" in str(x.message) for x in w)
    # sf mismatch (smoke-scale artifact) → disabled, as before
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _prev_norm_from_artifact(art, 0.001, 32) == {}
        assert any("sf" in str(x.message) for x in w)
    # a legacy artifact without a cpus field cannot be checked → allowed
    legacy = {k: v for k, v in art.items() if k != "cpus"}
    assert _prev_norm_from_artifact(legacy, 0.1, 32)["a"] == 2.0


def test_rotation_churn_lookup_against_real_git():
    """The git plumbing itself: boundary-commit lookup + name-only diff
    must produce a set of repo-relative module paths (or None on a
    checkout without the boundary commit — never raise)."""
    import spark_jdbc_limit_spark.operators as ops

    ops._changed_modules_since.cache_clear()
    changed = ops._changed_modules_since(12)
    assert changed is None or all(
        p.startswith("spark_jdbc_limit_spark/") for p in changed
    )
    # memoized: second call must hit the cache
    assert ops._changed_modules_since(12) is changed
    # a round with no boundary commit → None (fallback, not a crash)
    assert ops._changed_modules_since(10**6) is None


def test_bench_baseline_constants_frozen():
    """bench.py's BASELINE_QUERY_SEC hardcodes BASELINE.md's round-1
    recorded 57-query plain-PySpark baseline (round-12 advice flagged the
    copy as drift-prone): pin the count, the recorded 63.8 s total, that
    every name still exists in the registry (a rename would silently
    drop its reprobe trigger), and that the anchor set is a subset."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import ANCHOR_QUERIES, ANCHOR_REF_SEC, BASELINE_QUERY_SEC

    import spark_jdbc_limit_spark.operators as ops

    assert len(BASELINE_QUERY_SEC) == 57
    assert abs(sum(BASELINE_QUERY_SEC.values()) - 63.8) < 0.3
    missing = [n for n in BASELINE_QUERY_SEC if n not in ops.REGISTRY]
    assert not missing, f"baseline names drifted from the registry: {missing}"
    assert set(ANCHOR_QUERIES) <= set(BASELINE_QUERY_SEC)
    # the quiet-slot reference stays in the physically-plausible band for
    # this anchor set at sf0.1/32cpus (re-records adjust the value, not
    # the order of magnitude)
    assert 2.0 < ANCHOR_REF_SEC < 3.5


def test_bench_cores_result_line_and_ratio():
    """bench_cores.py finds the worker's result by its prefix, not as the
    last stdout line, and a query timed on only one side has no ratio
    (a missing time is None, never a crash)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench_cores import RESULT_PREFIX, _ratio, _worker_result

    out = f'noise\n{RESULT_PREFIX}{{"cpus": 8, "times": {{"q": 1.5}}}}\ntrailing line\n'
    assert _worker_result(out) == {"cpus": 8, "times": {"q": 1.5}}
    with pytest.raises(RuntimeError):
        _worker_result("no result here\n")
    assert _ratio(3.0, 1.5) == 2.0
    assert _ratio(None, 1.5) is None and _ratio(3.0, None) is None


def test_codegen_class_cache_sized_for_registry(spark):
    """The session factory raises spark.sql.codegen.cache.maxEntries from
    Spark's default 100 (round-14 optimization #15): one registry pass
    generates far more than 100 codegen classes, so under the default
    every repeated query re-pays Janino compilation and restarts JIT
    profiling — measured +30-130% on codegen-heavy entries after a
    160-query flush, fully retained at 4096. Query-count-dependent, not
    data-scale-dependent; SPARK_GRAFT_CODEGEN_CACHE overrides — when the
    override is set the pin tests THAT value, not the default (ADVICE
    r14: asserting >= 4096 under a smaller override failed on designed
    behavior)."""
    import os

    expected = int(os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= expected


def test_codegen_cache_warning_compares_requested_size(spark):
    """A reused session asked for a different generated-class cache size
    must warn: the check compares the live value with the size actually
    requested (after the ``extra_conf`` override), not with the env
    default. Same arguments as the session fixture, so no runtime conf
    changes; only the static cache size differs."""
    from spark_jdbc_limit_spark import build_session

    live = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    with pytest.warns(RuntimeWarning, match="codegen.cache.maxEntries"):
        again = build_session(
            app_name="tests",
            cpus=8,
            shuffle_partitions=8,
            driver_memory="6g",
            extra_conf={
                "spark.sql.warehouse.dir": spark.conf.get("spark.sql.warehouse.dir"),
                "spark.sql.codegen.cache.maxEntries": str(live // 2),
            },
        )
    assert again is spark
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == live


def test_equidepth_two_phase_cuts_exact(spark, sf_correct):
    """The equidepth audit's histogram-pruned two-phase cutoffs (round-14
    optimization) must reproduce Spark's exact `percentile()` BIT-FOR-BIT:
    the interpolation is Percentile.scala's `(hi-pos)*v_lo +
    (pos-lo)*v_hi` — the algebraically-equal `v_lo + d*(v_hi-v_lo)` form
    provably diverges in the last ulp on this corpus (sf0.001 f=0.125),
    so the formula shape itself is load-bearing."""
    import struct

    from spark_jdbc_limit_spark.operators.advanced import (
        RANGE_SORT_BUCKETS,
        _RANGE_FRACS,
        equidepth_exact_cuts,
    )
    from spark_jdbc_limit_spark.sources.catalog import load_table

    li = load_table(spark, sf_correct, "lineitem").select("l_extendedprice")
    fracs_sql = ", ".join(str(f) for f in _RANGE_FRACS)
    ref = li.agg(
        F.expr(f"percentile(l_extendedprice, array({fracs_sql}))").alias("cs")
    ).collect()[0]["cs"]
    got = equidepth_exact_cuts(spark, li, "l_extendedprice").collect()[0]
    for i, r in enumerate(ref, 1):
        assert struct.pack("<d", r) == struct.pack("<d", got[f"c{i}"]), (
            f"c{i}: percentile()={r!r} two-phase={got[f'c{i}']!r}"
        )
    assert len(ref) == RANGE_SORT_BUCKETS - 1
