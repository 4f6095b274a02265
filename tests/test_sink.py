"""Transactional sink tests: SaveMode semantics + all-or-nothing visibility
(the engine's replacement for the reference's compensating-delete protocol,
including the failure-injection case the reference could only handle with
Postgres xmin forensics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.sinks import AtomicWriteError, write_parquet_atomic


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "t")


def _df(spark, n=100, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_create_and_read_back(spark, target):
    write_parquet_atomic(_df(spark), target, mode="error")
    assert spark.read.parquet(target).count() == 100


def test_overwrite_replaces(spark, target):
    write_parquet_atomic(_df(spark, 100), target, mode="error")
    write_parquet_atomic(_df(spark, 50, offset=1000), target, mode="overwrite")
    got = spark.read.parquet(target)
    assert got.count() == 50
    assert got.agg(F.min("id")).collect()[0][0] == 1000


def test_append_accumulates(spark, target):
    write_parquet_atomic(_df(spark, 100), target, mode="append")
    write_parquet_atomic(_df(spark, 100, offset=100), target, mode="append")
    got = spark.read.parquet(target)
    assert got.count() == 200
    assert got.select("id").distinct().count() == 200


def test_error_mode_raises(spark, target):
    write_parquet_atomic(_df(spark), target)
    with pytest.raises(AtomicWriteError, match="already exists"):
        write_parquet_atomic(_df(spark), target, mode="error")


def test_ignore_mode_noop(spark, target):
    write_parquet_atomic(_df(spark, 100), target)
    write_parquet_atomic(_df(spark, 7), target, mode="ignore")
    assert spark.read.parquet(target).count() == 100


def test_failed_job_leaves_target_untouched(spark, target, tmp_path):
    """The all-or-nothing guarantee: a task failure mid-write must leave the
    existing target intact and no staging debris — the scenario where the
    reference fires its compensating xmin DELETE (ExtJdbcUtils.scala:88-105).
    """
    write_parquet_atomic(_df(spark, 100), target)

    @F.udf("long")
    def boom(x):
        if x == 5:
            raise RuntimeError("injected task failure")
        return x

    bad = spark.range(10).repartition(4).select(boom(F.col("id")).alias("id"))
    with pytest.raises(AtomicWriteError, match="target .* untouched"):
        write_parquet_atomic(bad, target, mode="overwrite")

    got = spark.read.parquet(target)
    assert got.count() == 100
    # no staging/trash directories left behind
    debris = [p for p in os.listdir(tmp_path) if "__staging_" in p or "__trash_" in p]
    assert debris == []


def test_partitioned_write(spark, target):
    df = _df(spark, 100).withColumn("bucket", F.col("id") % 4)
    write_parquet_atomic(df, target, mode="overwrite", partition_by=["bucket"])
    got = spark.read.parquet(target)
    assert got.count() == 100
    assert set(got.columns) == {"id", "v", "bucket"}


def test_partitioned_append_keeps_table_readable(spark, target):
    """A partitioned append moves each data file into its partition dir
    (creating a partition the table lacks), so the table stays one
    readable hive layout with the exact rows of both appends."""
    write_parquet_atomic(
        spark.createDataFrame([(1, 0), (2, 1)], "id long, bucket int"),
        target, mode="append", partition_by=["bucket"],
    )
    write_parquet_atomic(
        spark.createDataFrame([(3, 1), (4, 2)], "id long, bucket int"),
        target, mode="append", partition_by=["bucket"],
    )
    got = spark.read.parquet(target)
    assert got.columns == ["id", "bucket"]
    assert dict(got.dtypes)["bucket"] == "int"
    assert sorted((r.id, r.bucket) for r in got.collect()) == [(1, 0), (2, 1), (3, 1), (4, 2)]


def test_overwrite_partitions_replaces_only_touched(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: rewrite ONE event_type partition;
    every other partition's bytes stay untouched."""
    from spark_jdbc_limit_spark.sinks import write_parquet_overwrite_partitions
    from spark_jdbc_limit_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    target = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    write_parquet_overwrite_partitions(ev, target, "event_type")

    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    assert len(types) >= 2
    victim, survivor = sorted(types)[0], sorted(types)[1]
    before_survivor = (
        spark.read.parquet(target).filter(F.col("event_type") == survivor).count()
    )

    patch = (
        ev.filter(F.col("event_type") == victim)
        .withColumn("value", F.col("value") * 2)
        .limit(5)
    )
    write_parquet_overwrite_partitions(patch, target, "event_type")

    got = spark.read.parquet(target)
    assert got.filter(F.col("event_type") == victim).count() == 5
    assert got.filter(F.col("event_type") == survivor).count() == before_survivor


def test_partition_publish_crash_recovery(spark, tmp_path):
    """Driver crash mid-swap: the journal manifest (written before the
    first rename) lets recover_atomic_publish roll the half-published
    state back to exactly the pre-publish target."""
    import shutil

    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    target = tmp_path / "t"
    # pre-publish target: partitions p=a (v=1) and p=b (v=2)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string")
    base.write.partitionBy("p").parquet(str(target))

    # fake a crashed publish: new data staged for p=a, p=b, p=c;
    # p=a already swapped (old copy in trash, new copy live, staging gone),
    # p=c swapped with no prior data, p=b untouched (still in staging).
    staging = tmp_path / "t__staging_deadbeef0000"
    patch = spark.createDataFrame([(10, "a"), (20, "b"), (30, "c")], "v int, p string")
    patch.write.partitionBy("p").parquet(str(staging))
    trash = tmp_path / "t__trash_deadbeef0000"
    trash.mkdir()
    trash_a = trash / "p=a"
    shutil.move(str(target / "p=a"), str(trash_a))
    shutil.move(str(staging / "p=a"), str(target / "p=a"))
    shutil.move(str(staging / "p=c"), str(target / "p=c"))
    # the journal plans p=b last, so the moves done are a leading run of it
    manifest = tmp_path / "t__publish_manifest_deadbeef0000.json"
    _journal(
        manifest, "deadbeef0000", staging,
        [
            (target / "p=a", trash_a),
            (staging / "p=a", target / "p=a"),
            (staging / "p=c", target / "p=c"),
            (target / "p=b", trash / "p=b"),
            (staging / "p=b", target / "p=b"),
        ],
    )

    recovered = recover_atomic_publish(spark, str(target))
    assert recovered == ["deadbeef0000"]
    got = {(r.v, r.p) for r in spark.read.parquet(str(target)).collect()}
    assert got == {(1, "a"), (2, "b")}  # pre-publish state, p=c gone
    assert not staging.exists() and not trash.exists()
    assert not manifest.exists()
    # idempotent no-op on a clean target
    assert recover_atomic_publish(spark, str(target)) == []


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """46k-micro-batch-files problem in miniature: 32-file table compacts
    to few files, atomically, with identical data."""
    from pyspark.sql import functions as F

    from spark_jdbc_limit_spark.sinks.maintenance import compact_parquet
    from spark_jdbc_limit_spark.sources.catalog import load_table

    target = str(tmp_path / "shattered")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(32).write.parquet(target)
    before_files = len(spark.read.parquet(target).inputFiles())
    assert before_files >= 32
    before_sum = spark.read.parquet(target).agg(F.sum("event_id")).collect()[0][0]
    before_count = spark.read.parquet(target).count()

    after_files = compact_parquet(spark, target, target_file_bytes=64 * 1024 * 1024,
                                  sort_within_by=["user_id"])
    got = spark.read.parquet(target)
    assert after_files < before_files / 4
    assert got.count() == before_count
    assert got.agg(F.sum("event_id")).collect()[0][0] == before_sum


def test_partition_publish_committed_crash_keeps_new_data(spark, tmp_path):
    """Crash AFTER the commit point (manifest deleted) but before trash
    cleanup: recovery must keep the published data and only sweep the
    orphan trash — the window that would otherwise lose the partition."""
    import shutil

    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    target = tmp_path / "t"
    base = spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string")
    base.write.partitionBy("p").parquet(str(target))

    # committed publish of p=a (new v=10), cleanup crashed: manifest gone,
    # old copy still in trash
    newdata = spark.createDataFrame([(10, "a")], "v int, p string")
    staging = tmp_path / "stage_once"
    newdata.write.partitionBy("p").parquet(str(staging))
    trash = tmp_path / "t__trash_cafecafe0000"
    trash.mkdir()
    shutil.move(str(target / "p=a"), str(trash / "p=a"))
    shutil.move(str(staging / "p=a"), str(target / "p=a"))

    assert recover_atomic_publish(spark, str(target)) == []  # no manifest
    got = {(r.v, r.p) for r in spark.read.parquet(str(target)).collect()}
    assert got == {(10, "a"), (2, "b")}  # published state stands
    assert not trash.exists()  # orphan swept


def _journal(manifest, token, staging, moves):
    """Hand-write a publish journal manifest, as ``_publish`` does."""
    import json

    manifest.write_text(
        json.dumps(
            {"token": token, "staging": str(staging),
             "moves": [[str(src), str(dst)] for src, dst in moves]}
        )
    )


def _swap_journal(t, token):
    """Journal of an overwrite of existing ``t``: t→trash, staging→t."""
    staging = t.parent / f"{t.name}__staging_{token}"
    trash = t.parent / f"{t.name}__trash_{token}"
    _journal(
        t.parent / f"{t.name}__publish_manifest_{token}.json",
        token, staging, [(t, trash), (staging, t)],
    )


def test_atomic_swap_crash_states_recover(spark, tmp_path):
    """Every crash point of the overwrite swap rolls back to the
    pre-publish state via the sibling manifest."""
    import shutil

    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    def fresh(name, rows):
        t = tmp_path / name
        spark.createDataFrame(rows, "v int").write.parquet(str(t))
        return t

    # state A: crash before any rename (staging written, target untouched)
    ta = fresh("a", [(1,)])
    spark.createDataFrame([(9,)], "v int").write.parquet(str(tmp_path / "a__staging_t1"))
    _swap_journal(ta, "t1")
    assert recover_atomic_publish(spark, str(ta)) == ["t1"]
    assert {r.v for r in spark.read.parquet(str(ta)).collect()} == {1}
    assert not (tmp_path / "a__staging_t1").exists()

    # state B: crash between the two renames (target missing!)
    tb = fresh("b", [(2,)])
    spark.createDataFrame([(9,)], "v int").write.parquet(str(tmp_path / "b__staging_t2"))
    shutil.move(str(tb), str(tmp_path / "b__trash_t2"))
    _swap_journal(tb, "t2")
    assert recover_atomic_publish(spark, str(tb)) == ["t2"]
    assert {r.v for r in spark.read.parquet(str(tb)).collect()} == {2}

    # state C: crash after staging renamed in, before commit (new target live)
    tc = fresh("c", [(3,)])
    shutil.move(str(tc), str(tmp_path / "c__trash_t3"))
    spark.createDataFrame([(9,)], "v int").write.parquet(str(tc))
    _swap_journal(tc, "t3")
    assert recover_atomic_publish(spark, str(tc)) == ["t3"]
    assert {r.v for r in spark.read.parquet(str(tc)).collect()} == {3}


def test_atomic_append_crash_recovers_partial_files(spark, tmp_path):
    """Append crash mid-move: manifest-driven recovery deletes exactly the
    half-published token files."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    t = tmp_path / "t"
    spark.createDataFrame([(1,), (2,)], "v int").write.parquet(str(t))
    n_before = spark.read.parquet(str(t)).count()
    # fake half-moved append: the first of the journal's token-prefixed
    # data-file moves is done, the rest are still in staging
    staging = tmp_path / "t__staging_tok9"
    spark.createDataFrame([(8,), (9,)], "v int").write.parquet(str(staging))
    files = sorted(p for p in staging.iterdir() if p.name.endswith(".parquet"))
    moves = [(f, t / f"tok9-{f.name}") for f in files]
    _journal(tmp_path / "t__publish_manifest_tok9.json", "tok9", staging, moves)
    files[0].rename(moves[0][1])
    assert recover_atomic_publish(spark, str(t)) == ["tok9"]
    got = spark.read.parquet(str(t))
    assert got.count() == n_before
    assert not staging.exists()


def test_atomic_committed_orphans_swept(spark, tmp_path):
    """Crash AFTER the commit point (manifest deleted) but before cleanup:
    leftover __trash_/__staging_ siblings are orphans of a committed
    publish — recover_atomic_publish sweeps them and restores nothing."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    t = tmp_path / "t"
    spark.createDataFrame([(5,)], "v int").write.parquet(str(t))
    spark.createDataFrame([(1,)], "v int").write.parquet(str(tmp_path / "t__trash_tokA"))
    spark.createDataFrame([(2,)], "v int").write.parquet(str(tmp_path / "t__staging_tokB"))
    assert recover_atomic_publish(spark, str(t)) == []  # no manifest → committed
    assert {r.v for r in spark.read.parquet(str(t)).collect()} == {5}
    assert not (tmp_path / "t__trash_tokA").exists()
    assert not (tmp_path / "t__staging_tokB").exists()


class _RefusingFS:
    """Proxy over the Hadoop FileSystem whose ``rename`` returns False — a
    failed rename, not a crash — for every source path ``refuse`` accepts.
    Everything else passes through."""

    def __init__(self, real, refuse):
        self._real = real
        self._refuse = refuse

    def rename(self, src, dst):
        return False if self._refuse(str(src)) else self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _refuse_renames(monkeypatch, refuse):
    import spark_jdbc_limit_spark.sinks.transactional as tx

    real_hfs = tx._hadoop_fs
    monkeypatch.setattr(
        tx,
        "_hadoop_fs",
        lambda s, p: (lambda j, f, h: (j, _RefusingFS(f, refuse), h))(*real_hfs(s, p)),
    )


def test_atomic_stranded_rollback_retains_manifest(spark, tmp_path, monkeypatch):
    """Double failure (publish rename fails AND trash rollback fails): the
    manifest must SURVIVE so recover_atomic_publish can still restore the
    trash — deleting it there would orphan the old data forever."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    t = tmp_path / "t"
    spark.createDataFrame([(7,)], "v int").write.parquet(str(t))
    # the first rename (old data to trash) succeeds; the staging->target
    # rename and the trash rollback both fail
    _refuse_renames(monkeypatch, lambda src: "__staging_" in src or "__trash_" in src)
    with pytest.raises(AtomicWriteError, match="stranded"):
        write_parquet_atomic(spark.createDataFrame([(9,)], "v int"), str(t), mode="overwrite")
    monkeypatch.undo()
    manifests = list(tmp_path.glob("t__publish_manifest_*.json"))
    assert manifests, "manifest was deleted on the stranded path"
    recovered = recover_atomic_publish(spark, str(t))
    assert len(recovered) == 1
    assert {r.v for r in spark.read.parquet(str(t)).collect()} == {7}
    assert not list(tmp_path.glob("t__trash_*")) and not list(tmp_path.glob("t__staging_*"))


def test_partition_swap_failed_restore_keeps_manifest(spark, tmp_path, monkeypatch):
    """A partition swap whose staging->target rename AND trash restore both
    fail must raise and keep its manifest, so recovery restores the old
    partition instead of sweeping its trash as an orphan."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish
    from spark_jdbc_limit_spark.sinks.transactional import write_parquet_overwrite_partitions

    t = tmp_path / "t"
    spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(str(t))
    _refuse_renames(monkeypatch, lambda src: "__staging_" in src or "__trash_" in src)
    with pytest.raises(AtomicWriteError, match="recover_atomic_publish"):
        write_parquet_overwrite_partitions(
            spark.createDataFrame([(10, "a")], "v int, p string"), str(t), "p"
        )
    monkeypatch.undo()
    assert list(tmp_path.glob("t__publish_manifest_*.json")), "manifest was deleted"
    assert len(recover_atomic_publish(spark, str(t))) == 1
    assert {(r.v, r.p) for r in spark.read.parquet(str(t)).collect()} == {(1, "a"), (2, "b")}
    assert not [p.name for p in tmp_path.rglob("*") if "__trash_" in p.name]


class _ReadingFS:
    """Proxy over the Hadoop FileSystem that calls ``after`` once each
    ``rename`` has run: a reader interleaved with every publish step."""

    def __init__(self, real, after):
        self._real = real
        self._after = after

    def rename(self, src, dst):
        ok = self._real.rename(src, dst)
        self._after()
        return ok

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_partition_swap_readable_after_every_rename(spark, tmp_path, monkeypatch):
    """A reader of the table between any two renames of a two-partition
    swap never fails partition discovery (replaced partitions are parked
    outside the table) and sees each partition old, absent or new."""
    import spark_jdbc_limit_spark.sinks.transactional as tx
    from spark_jdbc_limit_spark.sinks.transactional import write_parquet_overwrite_partitions

    t = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(t)
    seen, errors = [], []

    def read():
        try:
            seen.append({r.p: r.v for r in spark.read.parquet(t).collect()})
        except Exception as exc:  # recorded, so the failure names the read
            errors.append(str(exc)[:200])

    real_hfs = tx._hadoop_fs
    monkeypatch.setattr(
        tx,
        "_hadoop_fs",
        lambda s, p: (lambda j, f, h: (j, _ReadingFS(f, read), h))(*real_hfs(s, p)),
    )
    write_parquet_overwrite_partitions(
        spark.createDataFrame([(10, "a"), (20, "b")], "v int, p string"), t, "p"
    )
    monkeypatch.undo()
    assert not errors, errors
    assert len(seen) == 4  # two partitions x (park old, publish new)
    for rows in seen:
        assert rows.get("a") in (None, 1, 10) and rows.get("b") in (None, 2, 20)
    assert seen[-1] == {"a": 10, "b": 20}
    assert not [p for p in os.listdir(tmp_path) if "__trash_" in p or "__staging_" in p]


def test_recovery_refuses_a_manifest_that_is_not_a_journal(spark, tmp_path):
    """A manifest with no ``moves`` (or no JSON at all) raises before any
    sweep: its staging and trash dirs may be the only copy of the data."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    t = tmp_path / "t"
    spark.createDataFrame([(1,)], "v int").write.parquet(str(t))
    staging, trash = tmp_path / "t__staging_old1", tmp_path / "t__trash_old1"
    spark.createDataFrame([(9,)], "v int").write.parquet(str(staging))
    spark.createDataFrame([(8,)], "v int").write.parquet(str(trash))
    manifest = tmp_path / "t__publish_manifest_old1.json"
    for text in (
        f'{{"token": "old1", "mode": "swap", "staging": "{staging}", "trash": "{trash}"}}',
        "{not json",
    ):
        manifest.write_text(text)
        with pytest.raises(AtomicWriteError, match="not a rename journal"):
            recover_atomic_publish(spark, str(t))
        assert staging.exists() and trash.exists() and manifest.exists()


@pytest.mark.parametrize("order", ["atomic_first", "partition_first"])
def test_cross_protocol_recovery_preserves_live_target(spark, tmp_path, order):
    """Two crashes before the first rename, side by side in one parent dir:
    an overwrite swap of ``a`` and a partition swap of ``b``. Recovering
    the targets in either order keeps both live targets, and running it
    twice (a second startup) is still safe: one target's orphan sweep must
    never take the other's still-journaled staging, and a swept staging
    dir must never be read as 'staging was renamed in'."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    # Scenario A: write_parquet_atomic crashed BEFORE its first rename —
    # sibling manifest (trash planned, never created) + sibling staging,
    # target = live old data.
    ta = tmp_path / "a"
    spark.createDataFrame([(1,), (2,)], "v int").write.parquet(str(ta))
    spark.createDataFrame([(9,)], "v int").write.parquet(str(tmp_path / "a__staging_x1"))
    _swap_journal(ta, "x1")

    # Scenario B: write_parquet_overwrite_partitions crashed BEFORE the
    # first swap — staging holds the never-swapped new partition. The
    # pre-existing partitions must all survive.
    tb = tmp_path / "b"
    spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(str(tb))
    staging = tmp_path / "b__staging_x2"
    spark.createDataFrame([(10, "a")], "v int, p string").write.partitionBy("p").parquet(
        str(staging)
    )
    manifest = tmp_path / "b__publish_manifest_x2.json"
    _journal(
        manifest, "x2", staging,
        [(tb / "p=a", tmp_path / "b__trash_x2" / "p=a"), (staging / "p=a", tb / "p=a")],
    )

    targets = [str(ta), str(tb)]
    if order == "partition_first":
        targets.reverse()
    for t in targets + targets[::-1]:
        recover_atomic_publish(spark, t)

    assert {r.v for r in spark.read.parquet(str(ta)).collect()} == {1, 2}
    assert not (tmp_path / "a__staging_x1").exists()
    assert not (tmp_path / "a__publish_manifest_x1.json").exists()
    got = {(r.v, r.p) for r in spark.read.parquet(str(tb)).collect()}
    assert got == {(1, "a"), (2, "b")}  # pre-publish state, nothing lost
    assert not staging.exists()
    assert not manifest.exists()


def test_atomic_recovery_ambiguous_missing_staging_keeps_target(spark, tmp_path):
    """Swap manifest that PLANNED a trash (prior data existed) but neither
    trash nor staging is on disk: nothing was ever renamed, so the target
    is the live pre-publish data. Recovery must leave it untouched instead
    of misreading 'staging gone' as 'staging was renamed in'."""
    from spark_jdbc_limit_spark.sinks import recover_atomic_publish

    t = tmp_path / "t"
    spark.createDataFrame([(4,), (5,)], "v int").write.parquet(str(t))
    _swap_journal(t, "zz")
    assert recover_atomic_publish(spark, str(t)) == ["zz"]
    assert {r.v for r in spark.read.parquet(str(t)).collect()} == {4, 5}


class _SimulatedCrash(BaseException):
    """Raised by the crash-injection FS proxy; BaseException so no
    in-process except-Exception handler can compensate — exactly a dead
    driver."""


class _CrashingFS:
    """Proxy over the Hadoop FileSystem that dies on the k-th MUTATING
    call (create/rename/delete). Reads pass through untouched."""

    def __init__(self, real, budget):
        self._real = real
        self._budget = budget

    def _tick(self):
        self._budget[0] -= 1
        if self._budget[0] < 0:
            raise _SimulatedCrash()

    def create(self, *a):
        self._tick()
        return self._real.create(*a)

    def rename(self, *a):
        self._tick()
        return self._real.rename(*a)

    def delete(self, *a):
        self._tick()
        return self._real.delete(*a)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _crash_sweep(spark, monkeypatch, tmp_path, do_write, recover, read_ids):
    """Kill the writer at every mutating-FS-call boundary in turn; after
    each crash run recovery and assert the target is EXACTLY the old or
    EXACTLY the new content — never mixed, never missing — and no
    staging/trash/manifest debris survives."""
    import shutil

    import spark_jdbc_limit_spark.sinks.transactional as tx

    real_hfs = tx._hadoop_fs
    # Seed ONCE into a template dir, then filesystem-copy per crash point
    # (round-13 verdict #6: the sweep re-ran the Spark seed write for
    # every crash point — roughly half the sweep's 31.6 s wall was
    # identical seeding jobs; a copytree of the tiny parquet dir is
    # content-identical and milliseconds).
    template = tmp_path / "seed_template"
    old_ids, new_ids = _seed(spark, template)
    k = 0
    while True:
        target = tmp_path / f"t{k}"
        shutil.copytree(template, target)
        budget = [k]
        monkeypatch.setattr(
            tx,
            "_hadoop_fs",
            lambda s, p: (lambda j, f, h: (j, _CrashingFS(f, budget), h))(*real_hfs(s, p)),
        )
        crashed = False
        try:
            do_write(spark, str(target))
        except _SimulatedCrash:
            crashed = True
        finally:
            monkeypatch.setattr(tx, "_hadoop_fs", real_hfs)
        recover(spark, str(target))
        got = read_ids(spark, str(target))
        assert got in (old_ids, new_ids), (
            f"crash at mutation #{k}: target is a MIXED state "
            f"({len(got)} rows; old={len(old_ids)}, new={len(new_ids)})"
        )
        debris = [
            p.name
            for p in tmp_path.iterdir()
            if "__trash_" in p.name or "__staging_" in p.name or "__publish_manifest_" in p.name
        ]
        assert not debris, f"crash at mutation #{k}: debris after recovery: {debris}"
        if not crashed:
            assert got == new_ids, f"uncrashed write at k={k} did not publish"
            return k  # total mutating ops; sweep covered every boundary
        k += 1
        assert k < 40, "sweep did not terminate — op count exploded"


def test_atomic_overwrite_crash_sweep(spark, tmp_path, monkeypatch):
    """Atomic overwrite: every crash point rolls back (pre-commit) or
    rolls forward (post-commit) to a consistent table."""
    global _seed

    def _seed(spark, target):
        spark.range(0, 10).coalesce(1).write.parquet(str(target))
        return set(range(10)), set(range(100, 105))

    n_ops = _crash_sweep(
        spark,
        monkeypatch,
        tmp_path,
        lambda s, t: write_parquet_atomic(s.range(100, 105).coalesce(1), t, mode="overwrite"),
        lambda s, t: __import__(
            "spark_jdbc_limit_spark.sinks", fromlist=["recover_atomic_publish"]
        ).recover_atomic_publish(s, t),
        lambda s, t: {r.id for r in s.read.parquet(t).collect()},
    )
    assert n_ops >= 4  # manifest create, trash swap, publish, commit delete


def test_partition_overwrite_crash_sweep(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite: every crash point across the
    multi-partition swap sequence recovers to all-old or all-new."""
    global _seed

    def _seed(spark, target):
        # 2 partitions (was 3; round-12 suite budget): the sweep still
        # crosses a crash point BETWEEN partition swaps — the mixed-state
        # hazard — at ~2/3 the op count
        old = spark.createDataFrame(
            [(i, i % 2) for i in range(9)], "id long, p int"
        ).coalesce(1)
        old.write.partitionBy("p").parquet(str(target))
        return set(range(9)), set(range(100, 109))

    from spark_jdbc_limit_spark.sinks import recover_atomic_publish
    from spark_jdbc_limit_spark.sinks.transactional import write_parquet_overwrite_partitions

    def write_new(s, t):
        new = s.createDataFrame(
            [(i, i % 2) for i in range(100, 109)], "id long, p int"
        ).coalesce(1)
        write_parquet_overwrite_partitions(new, t, "p")

    n_ops = _crash_sweep(
        spark,
        monkeypatch,
        tmp_path,
        write_new,
        recover_atomic_publish,
        lambda s, t: {r.id for r in s.read.parquet(t).collect()},
    )
    assert n_ops >= 6  # manifest + 2x(trash,swap) + commit + cleanup


def test_atomic_append_crash_sweep(spark, tmp_path, monkeypatch):
    """Append publish: every crash point across the per-file move sequence
    recovers to exactly the old rows or exactly old+appended rows."""
    global _seed

    def _seed(spark, target):
        spark.range(0, 10).coalesce(1).write.parquet(str(target))
        return set(range(10)), set(range(10)) | set(range(100, 105))

    n_ops = _crash_sweep(
        spark,
        monkeypatch,
        tmp_path,
        lambda s, t: write_parquet_atomic(
            s.range(100, 105).repartition(2), t, mode="append"
        ),
        lambda s, t: __import__(
            "spark_jdbc_limit_spark.sinks", fromlist=["recover_atomic_publish"]
        ).recover_atomic_publish(s, t),
        lambda s, t: {r.id for r in s.read.parquet(t).collect()},
    )
    assert n_ops >= 5  # manifest create, 2 file moves, commit delete, staging delete


# ---------------------------------------------------------------------------
# Isolation negotiation (reference ExtJdbcUtils.scala:193-216 semantics)


class _FakeMeta:
    def __init__(self, supports_tx=True, default=2, supported=frozenset({2, 8})):
        self._tx, self._default, self._supported = supports_tx, default, supported

    def supportsTransactions(self):
        return self._tx

    def getDefaultTransactionIsolation(self):
        return self._default

    def supportsTransactionIsolationLevel(self, lvl):
        return lvl in self._supported


class _FakeConn:
    def __init__(self, meta):
        self._meta = meta

    def getMetaData(self):
        return self._meta


def test_negotiate_isolation_grants_supported_level():
    from spark_jdbc_limit_spark.sinks.transactional import (
        ISOLATION_LEVELS,
        negotiate_isolation,
    )

    conn = _FakeConn(_FakeMeta(supported=frozenset({2, 8})))
    assert negotiate_isolation(conn, "SERIALIZABLE") == ISOLATION_LEVELS["SERIALIZABLE"]


def test_negotiate_isolation_downgrades_to_default_with_warning():
    from spark_jdbc_limit_spark.sinks.transactional import (
        ISOLATION_LEVELS,
        negotiate_isolation,
    )

    conn = _FakeConn(_FakeMeta(default=2, supported=frozenset({2})))
    with pytest.warns(RuntimeWarning, match="not supported"):
        got = negotiate_isolation(conn, "SERIALIZABLE")
    assert got == ISOLATION_LEVELS["READ_COMMITTED"]


def test_negotiate_isolation_no_transactions_degrades_to_none():
    from spark_jdbc_limit_spark.sinks.transactional import (
        ISOLATION_LEVELS,
        negotiate_isolation,
    )

    conn = _FakeConn(_FakeMeta(supports_tx=False))
    with pytest.warns(RuntimeWarning, match="does not support transactions"):
        got = negotiate_isolation(conn, "READ_COMMITTED")
    assert got == ISOLATION_LEVELS["NONE"]


def test_negotiate_isolation_metadata_failure_degrades_to_none():
    from spark_jdbc_limit_spark.sinks.transactional import (
        ISOLATION_LEVELS,
        negotiate_isolation,
    )

    class _Broken:
        def getMetaData(self):
            raise RuntimeError("boom")

    with pytest.warns(RuntimeWarning, match="could not detect"):
        got = negotiate_isolation(_Broken(), "SERIALIZABLE")
    assert got == ISOLATION_LEVELS["NONE"]


def test_negotiate_isolation_none_requested_is_none():
    from spark_jdbc_limit_spark.sinks.transactional import (
        ISOLATION_LEVELS,
        negotiate_isolation,
    )

    # NONE short-circuits without touching metadata at all
    class _Untouchable:
        def getMetaData(self):
            raise AssertionError("metadata must not be probed for NONE")

    assert negotiate_isolation(_Untouchable(), "NONE") == ISOLATION_LEVELS["NONE"]


def test_observation_metrics_ride_the_write_pass(spark, tmp_path):
    """DQ metrics WITHOUT a second scan: df.observe() accumulates metrics
    on the SAME pass that writes the data — at 100 TB this is the
    difference between 'write + audit = one read' and 'write then
    re-read everything to count nulls'. Pinned: the observed counters
    must equal what a separate aggregation computes, and they must be
    collected from the write action itself."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    src = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 100 == 0, None)
        .otherwise(F.col("id") % 7)
        .alias("bucket"),
        (F.col("id") * 2.5).alias("amount"),
    )
    obs = Observation("write_audit")
    audited = src.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("bucket").isNull().cast("long")).alias("null_buckets"),
        F.sum("amount").alias("total_amount"),
    )
    out = str(tmp_path / "audited_write")
    audited.write.mode("overwrite").parquet(out)

    got = obs.get
    assert got["n_rows"] == 10_000
    assert got["null_buckets"] == 100
    assert got["total_amount"] == sum(i * 2.5 for i in range(10_000))
    # and the data really landed, matching the audited counters
    assert spark.read.parquet(out).count() == got["n_rows"]
