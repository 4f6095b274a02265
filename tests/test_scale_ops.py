"""Structural correctness properties for the scale-pattern operators
(two-phase row numbering, gap-fill densification, SCD2 intervals) that
the value-hash differential alone wouldn't explain on failure."""

from __future__ import annotations

import dataclasses
import json

import pytest
from pyspark.sql import functions as F

import rotation
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


_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _specs() -> dict:
    """A copy of the live registry as ``rotation.order``'s input: tests
    add synthetic entries to the copy, never to REGISTRY."""
    from spark_jdbc_limit_spark.operators import REGISTRY

    return dict(REGISTRY)


def _no_churn(module: str, round_: int) -> bool:
    return False


def _module_of(spec) -> str:
    return spec.builder.__module__.replace(".", "/") + ".py"


def test_import_has_no_side_effects():
    """Importing the operator library reads no driver artifact and starts
    no process: the sampling rotation's round files, ROTATION.json and
    git history belong to ``__spark_entry__.queries()``, not to the
    import. Observed with an audit hook in a fresh interpreter."""
    import os
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import json, os, sys

        events = []

        def hook(event, args):
            if event == "subprocess.Popen":
                events.append([event, repr(args[1])])
            elif event in ("open", "glob.glob") and isinstance(args[0], (str, bytes)):
                base = os.path.basename(os.fsdecode(args[0]))
                if base.startswith("CORRECTNESS_r") or base == "ROTATION.json":
                    events.append([event, base])

        sys.addaudithook(hook)
        import spark_jdbc_limit_spark.operators
        print(json.dumps(events))
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, res.stderr
    assert json.loads(res.stdout.splitlines()[-1]) == []


def test_queries_applies_the_rotation():
    """``queries()`` is the one place the sampling order is applied: it
    equals ``rotation.order`` over the live round files, lists every
    registered name exactly once, and leaves REGISTRY in registration
    order."""
    import __spark_entry__ as e
    from spark_jdbc_limit_spark.operators import REGISTRY

    registered = list(REGISTRY)
    got = list(e.queries())
    want = rotation.order(REGISTRY, *rotation.read_rounds(), rotation.changed_since)
    assert got == want
    assert len(got) == len(set(got)) and set(got) == set(registered)
    assert list(REGISTRY) == registered


def test_rotation_moves_sampled_names_to_back(tmp_path):
    """Every name with a green record in a CORRECTNESS_r*.json goes to the
    back; never-sampled names keep catalog order at the front. Pinned on
    a synthetic round file, independent of the real repo history."""
    specs = _specs()
    names = list(specs)
    sampled = names[:3] + names[-3:]
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({n: _GREEN for n in sampled})
    )
    latest, current = rotation.read_rounds(str(tmp_path))
    assert current == 99
    assert set(rotation.verified_rounds(specs, latest)) == set(sampled)

    got = rotation.order(specs, latest, current, _no_churn)
    assert sorted(got) == sorted(names), "rotation must not drop entries"
    assert got[: -len(sampled)] == [n for n in names if n not in sampled]
    assert set(got[-len(sampled):]) == set(sampled)


def test_rotation_requeues_errored_and_stale_rows_only_records():
    """A record whose driver check CRASHED (non-null err other than
    'no_oracle') is unverified and must NOT count as sampled; a rows-only
    'no_oracle' record goes stale (re-queued) once the query has since
    gained an oracle, and stays sampled while it hasn't."""
    specs = _specs()
    with_oracle, clean, crashed = [n for n in specs if specs[n].oracle is not None][:3]
    # every registry entry is oracle-paired, so synthesize a rows-only
    # spec (a future genuinely non-SQL-expressible op would reintroduce it)
    without_oracle = "_synthetic_rows_only"
    specs[without_oracle] = dataclasses.replace(
        specs[with_oracle], name=without_oracle, oracle=None
    )
    # the driver's real shape for rows-only checks: all match fields null
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}
    latest = {
        clean: (99, _GREEN),
        with_oracle: (99, rows_only),
        without_oracle: (99, rows_only),
        crashed: (99, {"err": "TypeError: unhashable type: 'list'"}),
    }
    sampled = rotation.verified_rounds(specs, latest)
    assert clean in sampled
    assert without_oracle in sampled
    assert with_oracle not in sampled, "rows-only record must go stale once an oracle exists"
    assert crashed not in sampled, "crashed check must re-enter the window"

    got = rotation.order(specs, latest, 99, _no_churn)
    front = got[: len(got) - len(sampled)]
    assert with_oracle in front and crashed in front
    assert clean not in front and without_oracle not in front


def test_rotation_requeues_red_records_at_front(tmp_path):
    """A driver record with any of rows/schema/hash FALSE is a red row:
    the query must re-enter the front of the sampling window until the
    driver signs a green row (a red row that rotated to the back was
    fixed in-tree but never re-drawn). A LATER green record for the same
    name still marks it sampled."""
    specs = _specs()
    red_hash, red_rows, red_then_green = list(specs)[:3]
    (tmp_path / "CORRECTNESS_r97.json").write_text(
        json.dumps(
            {
                red_hash: {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
                red_rows: {"rows_match": False, "schema_match": True, "hash_match": False, "err": None},
                red_then_green: {"rows_match": True, "schema_match": False, "hash_match": False, "err": None},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps({red_then_green: _GREEN}))
    latest, current = rotation.read_rounds(str(tmp_path))
    sampled = rotation.verified_rounds(specs, latest)
    assert red_hash not in sampled, "hash-red record must re-enter the window"
    assert red_rows not in sampled, "rows-red record must re-enter the window"
    assert red_then_green in sampled, "a later green record marks the query sampled"

    got = rotation.order(specs, latest, current, _no_churn)
    assert got[-1] == red_then_green
    front = got[: len(got) - len(sampled)]
    assert red_hash in front and red_rows in front


def test_rotation_latest_record_wins_green_then_red(tmp_path):
    """Only the LATEST round's record per name decides: a green in an old
    round must not outvote a later red (the regression would rotate to
    the back and its fix never re-enter the window), and a later green
    supersedes an old red. The fixture holds both directions, so the
    precedence is checked whichever file the directory lists first."""
    specs = _specs()
    regressed, recovered = list(specs)[:2]
    red = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({regressed: _GREEN, recovered: red})
    )
    (tmp_path / "CORRECTNESS_r11.json").write_text(
        json.dumps({regressed: red, recovered: _GREEN})
    )
    latest, current = rotation.read_rounds(str(tmp_path))
    assert current == 11
    assert latest[regressed] == (11, red) and latest[recovered] == (11, _GREEN)
    assert rotation.verified_rounds(specs, latest) == {recovered: 11}
    # a fixture whose only name ends red legitimately yields ZERO sampled
    # names: the designed no-rotation warning fires (and is not a
    # live-file parse failure: see test_rotation_parses_live_correctness_files)
    with pytest.warns(RuntimeWarning, match="no sampled names parsed"):
        assert rotation.verified_rounds(specs, {regressed: latest[regressed]}) == {}


def test_rotation_parses_live_correctness_files():
    """The REAL committed CORRECTNESS_r*.json files must parse from the
    repo root: if the driver's filename/format ever drifts from the
    parser, the stalest-first ordering silently no-ops. Past rounds drove
    the whole registry green, so the live parse must yield (nearly) all
    of it with plausible verifying rounds."""
    from spark_jdbc_limit_spark.operators import REGISTRY

    latest, current = rotation.read_rounds()
    rounds = rotation.verified_rounds(REGISTRY, latest)
    assert len(rounds) >= 300, (
        f"live CORRECTNESS parse found only {len(rounds)} verified names"
    )
    assert all(isinstance(r, int) and r >= 1 for r in rounds.values())
    stats = rotation.rotation_stats()
    assert stats["current_round"] >= 10
    assert stats["n_verified_green"] >= 300
    # with a 50-row window over ~325 entries a full re-confirmation cycle
    # is ceil(325/50)=7 rounds; the stalest-first ordering keeps the
    # achieved staleness bounded by that (allow +1: an all-red or
    # unprocessed latest round advances the filename-derived clock
    # without re-greening anything yet)
    assert stats["max_rounds_since_green"] <= 8
    # the clock comes from the highest CORRECTNESS filename, not the max
    # green record (an all-red round must still advance it)
    assert stats["current_round"] == current
    # growth-vs-staleness trend: the history includes the current round
    hist = stats["history"]
    assert hist and hist[-1]["round"] == stats["current_round"]
    assert hist[-1]["n_entries"] == stats["n_entries"]


def test_rotation_warns_on_unreadable_round_file(tmp_path):
    """A truncated or non-dict round file is skipped with a warning, never
    an exception: its queries may re-enter the window, visibly."""
    import warnings

    (tmp_path / "CORRECTNESS_r97.json").write_text("[1, 2]")
    (tmp_path / "CORRECTNESS_r98.json").write_text("{not json")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        latest, current = rotation.read_rounds(str(tmp_path))
    assert latest == {} and current == 98
    assert sum("sampling window" in str(w.message) for w in caught) == 2


def test_rotation_staleness(tmp_path):
    """Within the already-verified block, STALEST green first: an entry
    verified in an earlier round must precede one verified later, so the
    50-row sample window re-confirms long-unverified entries first and
    rounds-since-last-green is bounded by ceil(n_entries / window).
    Pinned on a synthetic two-round history AND on the order over the
    real repo history."""
    import math

    specs = _specs()
    names = list(specs)
    old_green = names[:3]  # verified long ago (round 1)
    new_green = names[3:6]  # verified last round (round 9)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({n: _GREEN for n in old_green}))
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps({n: _GREEN for n in new_green}))
    latest, current = rotation.read_rounds(str(tmp_path))
    assert rotation.verified_rounds(specs, latest) == {
        **{n: 1 for n in old_green},
        **{n: 9 for n in new_green},
    }
    # churn held empty so this pin isolates the staleness sort; the churn
    # tier has its own tests below
    got = rotation.order(specs, latest, current, _no_churn)
    assert got[-6:] == old_green + new_green

    # real history: the verified block is ordered in tiers (staleness-
    # critical, churned, rest; each ascending in verifying round), so the
    # redraw distance of the stalest entry stays bounded by
    # ceil(n_entries / window) windows while churn gets the budget the
    # critical tier leaves free
    from spark_jdbc_limit_spark.operators import REGISTRY

    latest, current = rotation.read_rounds()
    real_rounds = rotation.verified_rounds(REGISTRY, latest)
    got = rotation.order(REGISTRY, latest, current, rotation.changed_since)
    verified_in_order = [n for n in got if n in real_rounds]
    window = rotation._SAMPLE_WINDOW
    if verified_in_order:
        bound = max(2, math.ceil(len(REGISTRY) / window))
        # every staleness-critical entry must sit inside the first sample
        # window of the verified block: the invariant churn must not break
        critical = [
            n for n in verified_in_order if current - real_rounds[n] >= bound - 1
        ]
        assert len(critical) <= window, "critical tier over-subscribed"
        assert set(critical) <= set(verified_in_order[:window]), (
            "staleness-critical entries displaced from the sample window"
        )
        # the critical prefix itself is stalest-first
        rs_crit = [real_rounds[n] for n in verified_in_order[: len(critical)]]
        assert rs_crit == sorted(rs_crit)
        stalest_pos = verified_in_order.index(
            min(verified_in_order, key=lambda n: real_rounds[n])
        )
        assert stalest_pos < window


def test_rotation_churn_tier_promotes_changed_modules(monkeypatch):
    """An entry whose implementing module changed since the round that
    greened it carries a stale driver signature: it must outrank
    unchanged recently-green entries, but NEVER displace a
    staleness-critical one."""
    specs = _specs()
    names = list(specs)
    # recent precedes churned in catalog order, so only the tier can put
    # churned first; relational.py does not import dedup.py
    critical = names[0]
    recent = next(n for n in names[1:] if _module_of(specs[n]).endswith("/relational.py"))
    churned = next(n for n in names if _module_of(specs[n]).endswith("/dedup.py"))
    churned_mod = _module_of(specs[churned])
    assert churned_mod not in rotation.module_deps(_module_of(specs[recent]))
    monkeypatch.setattr(
        rotation, "changed_paths", lambda r: {churned_mod} if r == 98 else set()
    )
    # current round = 99 and bound ceil(325/50) = 7: green at 93 is
    # critical, greens at 98 are fresh
    latest = {critical: (93, _GREEN), churned: (98, _GREEN), recent: (98, _GREEN)}
    got = rotation.order(specs, latest, 99, rotation.changed_since)
    # the verified block: critical (tier 1), churned (tier 2), untouched
    # recent green (tier 3), in exactly that order
    assert got[-3:] == [critical, churned, recent]


def test_rotation_churn_tier_follows_helper_modules(monkeypatch):
    """Entries whose logic lives in IMPORTED helper modules must
    churn-promote when the helper changes: the capstone's builder is in
    pipeline.py but its cut runs in dedup.py, so a dedup.py refactor
    must pull it into tier 2 ahead of an untouched same-round green."""
    dep_mod = "spark_jdbc_limit_spark/operators/dedup.py"
    deps = rotation.module_deps("spark_jdbc_limit_spark/operators/pipeline.py")
    assert dep_mod in deps and "spark_jdbc_limit_spark/operators/text.py" in deps
    # derived, not hand-maintained: a module that cannot be read is empty
    assert rotation.module_deps("spark_jdbc_limit_spark/operators/no_such.py") == frozenset()

    specs = _specs()
    helper_entry = "curate_span_cut_pipeline"  # builder pipeline.py, cut dedup.py
    other = next(n for n in specs if _module_of(specs[n]).endswith("/relational.py"))
    monkeypatch.setattr(
        rotation, "changed_paths", lambda r: {dep_mod} if r == 98 else set()
    )
    latest = {helper_entry: (98, _GREEN), other: (98, _GREEN)}
    got = rotation.order(specs, latest, 99, rotation.changed_since)
    # same verifying round and `other` registers first, so only the tier
    # can order them: the helper-dependent entry (tier 2 via dedup.py)
    # must precede the untouched relational entry (tier 3)
    assert got.index(helper_entry) < got.index(other)


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


def test_edge_checkpoint_memoized_per_corpus(spark, sf_dir, sf_correct):
    """The shared edge checkpoint is memoized per (session, input files):
    repeated builds (pytest's registry-wide schema scan, bench reps) must
    not re-run it, two SF dirs must not share an entry, and the key must
    carry the session (a local checkpoint lives in its session)."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    from spark_jdbc_limit_spark.operators import reuse
    from spark_jdbc_limit_spark.operators.graph import supplier_edges_ckpt
    from spark_jdbc_limit_spark.sources.catalog import load_table

    kind = "supplier_edges_ckpt"
    supplier_edges_ckpt(spark, sf_dir)
    supplier_edges_ckpt(spark, sf_correct)

    def n_edges(sf: str) -> int:
        return reuse.memo(
            spark, kind, load_table(spark, sf, "lineitem"),
            lambda: pytest.fail(f"no memoized edge checkpoint for {sf}"),
        ).count()

    # two corpora hold two entries, with their own edges
    assert n_edges(sf_dir) != n_edges(sf_correct)
    # a rebuild reuses the memoized checkpoint: a hit, no new miss
    hits, misses = reuse.hits[kind], reuse.misses[kind]
    supplier_edges_ckpt(spark, sf_dir)
    assert (reuse.hits[kind], reuse.misses[kind]) == (hits + 1, misses)
    # another session misses on the same corpus, and the memo must not
    # keep that session alive once it is dropped
    other = spark.newSession()
    supplier_edges_ckpt(other, sf_dir)
    assert reuse.misses[kind] == misses + 1
    gone = weakref.ref(other)
    del other
    # PySpark binds RDD.toDF to the newest session: bind it back to the
    # fixture's, so only the memo could still hold `other`
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
    norm, state = _prev_bench_norm(prev.get("sf"), prev.get("cpus"))
    assert norm, "committed artifact present but vs_prev map empty"
    assert state == "on"
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
        assert _prev_bench_norm(prev.get("sf"), prev["cpus"] + 1)[0] == {}
    with pytest.warns(RuntimeWarning):
        assert _prev_bench_norm("no-such-sf", prev.get("cpus"))[0] == {}


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


def test_bench_vs_prev_state_reports_cpu_mismatch():
    """A regression bar that switched itself off says so: the state bench.py
    prints as ``"vs_prev"`` in its one-line JSON names both core counts on
    a cpu mismatch (and both scale factors on an sf mismatch), and reads
    "on" when the artifact matches or predates the ``cpus`` field."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _vs_prev_state

    art = {"sf": 0.1, "cpus": 8, "queries": {"a": 1.0}}
    assert _vs_prev_state(art, 0.1, 4) == "off: artifact cpus=8, run cpus=4"
    assert _vs_prev_state(art, 0.001, 8) == "off: artifact sf=0.1, run sf=0.001"
    assert _vs_prev_state(art, 0.1, 8) == "on"
    assert _vs_prev_state({"sf": 0.1}, 0.1, 4) == "on"


def test_rotation_churn_lookup_against_real_git():
    """The git plumbing itself: boundary-commit lookup + name-only diff
    must produce a set of repo-relative module paths (or None on a
    checkout without the boundary commit — never raise)."""
    rotation.changed_paths.cache_clear()
    changed = rotation.changed_paths(12)
    assert changed is None or all(
        p.startswith("spark_jdbc_limit_spark/") for p in changed
    )
    # memoized: second call must hit the cache
    assert rotation.changed_paths(12) is changed
    # a round with no boundary commit → None (fallback, not a crash)
    assert rotation.changed_paths(10**6) is None


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
    from bench import ANCHOR_PASSES, ANCHOR_QUERIES, ANCHOR_REF_SEC, BASELINE_QUERY_SEC

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
    # the reference is the median of this many passes
    assert ANCHOR_PASSES == 5


def test_bench_cores_result_line_and_ratio():
    """``bench.py --cores`` finds its child's result by its prefix, not as
    the last stdout line, and a query timed on only one side has no ratio
    (a missing time is None, never a crash)."""
    from bench import RESULT_PREFIX, _ratio, _worker_result

    out = f'noise\n{RESULT_PREFIX}{{"cpus": 8, "times": {{"q": 1.5}}}}\ntrailing line\n'
    assert _worker_result(out) == {"cpus": 8, "times": {"q": 1.5}}
    with pytest.raises(RuntimeError):
        _worker_result("no result here\n")
    assert _ratio(3.0, 1.5) == 2.0
    assert _ratio(None, 1.5) is None and _ratio(3.0, None) is None


class _TimedPlan:
    """Stands in for a DataFrame: its noop-sink write logs the arm and
    advances a fake clock by the arm's run time."""

    def __init__(self, name, sec, clock, log):
        self.name, self.sec, self.clock, self.log = name, sec, clock, log
        self.write = self

    def format(self, fmt):
        assert fmt == "noop"
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.log.append(self.name)
        self.clock[0] += self.sec


def test_bench_passes_round_robin_and_cap(monkeypatch):
    """``bench._passes``, the one timing core: arms run as round-robin
    passes (two arms alternate), each sample is the arm's builder plus
    noop write, ``after`` sees every sample's ordinal, and an arm with a
    sample above ``cap_s`` is not re-run."""
    import types

    import bench

    clock, log, seen = [0.0], [], []
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0]))

    def arms(**secs):
        return {
            n: (lambda n=n, s=s: _TimedPlan(n, s, clock, log)) for n, s in secs.items()
        }

    assert bench._passes(arms(x=1.0, y=2.0), 3) == {"x": [1.0] * 3, "y": [2.0] * 3}
    assert log == ["x", "y"] * 3
    log.clear()
    got = bench._passes(arms(a=1.0, b=5.0, c=2.0), 3, cap_s=4.0, after=seen.append)
    assert got == {"a": [1.0] * 3, "b": [5.0], "c": [2.0] * 3}
    assert log == ["a", "b", "c", "a", "c", "a", "c"]
    assert seen == list(range(1, 8))


def test_bench_session_ships_package(monkeypatch):
    """``bench._session`` ships the package to the Python workers, so
    UDF/Arrow entries import it when bench.py runs outside the repo root
    (session construction stubbed: no JVM starts)."""
    import bench

    session, shipped = object(), []
    monkeypatch.setattr(bench, "build_session", lambda **kw: session)
    monkeypatch.setattr(bench, "ship_package", shipped.append)
    assert bench._session("probe", 2) is session
    assert shipped == [session]


def test_bench_record_anchor_ref_reports_anchor_passes(monkeypatch, capsys):
    """``bench.py --record-anchor-ref`` times ANCHOR_PASSES round-robin
    passes over the anchor set through ``_passes`` and prints their
    totals and median (session and warm-up stubbed, fake clock)."""
    import json
    import types

    import bench

    clock, log = [0.0], []
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0]))
    monkeypatch.setattr(bench, "_session", lambda *a, **k: None)
    monkeypatch.setattr(bench, "_warm_session", lambda *a: None)
    monkeypatch.setattr(
        bench, "_entry_arms",
        lambda spark, sf, names: {
            n: (lambda n=n: _TimedPlan(n, 0.5, clock, log)) for n in names
        },
    )
    bench.record_anchor_ref()
    out = json.loads(capsys.readouterr().out)
    total = 0.5 * len(bench.ANCHOR_QUERIES)
    assert out["passes"] == [total] * bench.ANCHOR_PASSES
    assert out["median"] == total
    assert log == list(bench.ANCHOR_QUERIES) * bench.ANCHOR_PASSES


def test_bench_subset_names_and_merge_rules():
    """A subset names only entries of its scenario (a typo raises), and a
    subset run's rows merge into a block only under the block's own
    recorded setting; a whole-set run replaces the rows."""
    import bench

    assert bench._subset(["a", "b", "c"], None) == ["a", "b", "c"]
    assert bench._subset(["a", "b", "c"], ["c", "a"]) == ["a", "c"]
    with pytest.raises(ValueError, match="unknown entries"):
        bench._subset(["a", "b"], ["a", "typo"])
    block = {"base": "sf1", "cpus": [2, 4], "queries": {"a": 1}}
    assert bench._prior_rows(block, {"base": "sf1", "cpus": [2, 4]}, False) == {"a": 1}
    assert bench._prior_rows(block, {"base": "sf2", "cpus": [2, 4]}, True) == {}
    assert bench._prior_rows({}, {"base": "sf2"}, False) == {}
    with pytest.raises(ValueError, match="run the whole set"):
        bench._prior_rows(block, {"base": "sf1", "cpus": [1, 2]}, False)


def test_bench_subcommands_smoke(spark, sf_dir, tmp_path, monkeypatch):
    """Each ``bench.py`` subcommand runs end to end at sf0.001 with one
    entry and one pass (R in {1, 2} for the replication sweep), writing
    only its own block of a tmp copy of its artifact, in the committed
    schema; every other key of the artifact stays as committed."""
    import json
    import os

    import bench
    import bench_levers

    # a 10% licence injection instead of 30%: the exhaustive arm's hot
    # buckets shrink ~3x (pairs ~9x), which keeps the lever within budget
    monkeypatch.setattr(bench_levers, "INJECT_DECILES", 1)

    def committed(name):
        with open(os.path.join(bench.HERE, name)) as f:
            return json.load(f)

    scale0, base0 = committed("BENCH_SCALE.json"), committed("BASELINE_TOP20.json")
    scale_art, base_art = tmp_path / "BENCH_SCALE.json", tmp_path / "BASELINE_TOP20.json"
    q_scale, q_cores = "customer_gini_revenue", "q1_pricing_summary"
    lever, q_base = "suffix_adjacency_hot_boilerplate", "q16_supplier_part_variety"
    # the copies are stamped with this run's settings, so the one-entry
    # runs merge into the committed rows; a --cores row recorded under
    # the same settings stands in for an earlier subset run
    q_cores_prior = "q18_large_volume_customers"
    cores_prior = {"t_1cpus": 2.0, "ratio": 1.0}
    bench._write_json(str(scale_art), {
        **scale0, "base": sf_dir, "reps": [1, 2],
        "core_scaling": {
            "base": sf_dir, "replication": 2, "cpus": [1], "passes": 1,
            "queries": {q_cores_prior: cores_prior},
        },
    })
    bench._write_json(str(base_art), {**base0, "sf_dir": sf_dir})
    # refused before any timing: a typo'd name, and a subset at another R
    with pytest.raises(ValueError, match="unknown entries"):
        bench.run_levers(sf_dir, 2, 1, ["no_such_lever"], spark=spark, artifact=str(scale_art))
    with pytest.raises(ValueError, match="run the whole set"):
        bench.run_scale(
            sf_dir, 2, 1, [q_scale], spark=spark, replications=(1, 3),
            artifact=str(scale_art),
        )
    bench.run_scale(
        sf_dir, 2, 1, [q_scale], spark=spark, replications=(1, 2),
        work=str(tmp_path / "scale"), artifact=str(scale_art),
    )
    # one cpu → one child process (a second core count costs ~20 s of
    # child JVM start and warm-up; the N, N/2 pairing is a set literal)
    bench.run_cores(
        sf_dir, 1, 1, [q_cores], spark=spark, r=2, files=2,
        work=str(tmp_path / "cores"), artifact=str(scale_art),
    )
    bench.run_levers(
        sf_dir, 2, 1, [lever], spark=spark, work=str(tmp_path / "levers"),
        artifact=str(scale_art),
    )
    bench.run_baseline(sf_dir, 2, 1, [q_base], spark=spark, artifact=str(base_art))

    with open(scale_art) as f:
        scale = json.load(f)
    assert set(scale) == set(scale0) | {"core_scaling"}
    assert scale["forensics"] == scale0["forensics"]
    row = scale["queries"][q_scale]
    assert set(row) == set(scale0["queries"][q_scale])
    assert set(row["t_by_replication"]) == {"1", "2"}
    assert {n: r for n, r in scale["queries"].items() if n != q_scale} == {
        n: r for n, r in scale0["queries"].items() if n != q_scale
    }
    cores = scale["core_scaling"]
    assert set(cores) == {
        "metric", "base", "replication", "cpus", "passes", "queries", "total_ratio"
    }
    assert cores["cpus"] == [1] and cores["replication"] == 2
    assert set(cores["queries"][q_cores]) == {"t_1cpus", "ratio"}
    assert cores["queries"][q_cores_prior] == cores_prior
    assert set(scale["levers"][lever]) == set(scale0["levers"][lever])
    assert {n: r for n, r in scale["levers"].items() if n != lever} == {
        n: r for n, r in scale0["levers"].items() if n != lever
    }

    with open(base_art) as f:
        base = json.load(f)
    assert set(base0) <= set(base) <= set(base0) | {"reprobe"}
    assert set(base["queries"][q_base]) == set(base0["queries"][q_base])
    assert base["full_refresh_r14"] == base0["full_refresh_r14"]


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
