"""SparkSession factory tuned for this engine.

Local-mode defaults follow the harness contract (local[N] single JVM); the
config block is written so the same knobs transfer to a real cluster:
AQE handles runtime re-planning (partition coalescing, skew joins), shuffle
partitions default to core count locally (on a cluster you'd size to
2-3x total cores), session timezone is pinned to UTC so results are
comparable with the DuckDB oracle, and Arrow is enabled for the
pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "spark_jdbc_limit_spark"


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster you would drop ``master`` and let the submitter decide; every
    other config below is cluster-safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # Generated-class cache sized for a multi-query application. The
        # default (100 classes, LRU) is far below what a session running
        # this engine's full registry generates per pass, so under the
        # default every repeated query re-pays Janino compilation AND
        # starts HotSpot JIT profiling from zero each time it runs — a
        # measured +30-130% on codegen-heavy entries (flush test,
        # OPTIMIZATION_r14.md #15). Query-count-dependent, not
        # data-scale-dependent: the same value is right on a cluster
        # (the cache is per-JVM and generated classes are a few KB).
        # Static conf — applies only at session creation.
        "spark.sql.codegen.cache.maxEntries": str(_codegen_cache_entries()),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate() silently reuses an existing session, in which case the
    # static codegen-cache conf above is ignored (Spark only logs a JVM
    # warning). Surface that: a caller embedding build_session after
    # another session exists should see the under-sized cache instead of
    # silently re-paying Janino+JIT per query (ADVICE r14).
    actual = spark.conf.get("spark.sql.codegen.cache.maxEntries", None)
    requested = int(conf["spark.sql.codegen.cache.maxEntries"])
    if actual is not None and int(actual) != requested:
        import warnings

        warnings.warn(
            "build_session: getOrCreate() reused an existing SparkSession "
            f"whose spark.sql.codegen.cache.maxEntries={actual} differs from "
            f"the requested {requested}; static confs cannot change on a "
            "live session — repeated multi-query workloads will re-pay "
            "codegen compilation (see OPTIMIZATION_r14.md #15)",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def _codegen_cache_entries() -> int:
    """The generated-class cache size: SPARK_GRAFT_CODEGEN_CACHE override
    or the registry-sized default, validated HERE so a bad value fails
    with a clear message instead of deep inside Spark's static-conf
    parsing at session creation (ADVICE r14)."""
    raw = os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096")
    try:
        return int(raw)
    except ValueError as exc:
        raise ValueError(
            f"SPARK_GRAFT_CODEGEN_CACHE must be an integer, got {raw!r}"
        ) from exc


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Local tests resolve the module through the driver's cwd, but a driver
    that imports ``__spark_entry__`` from another working directory (or a
    real cluster, where workers share nothing with the driver) would fail
    inside any pandas UDF with ``ModuleNotFoundError``. Shipping a zip of
    the package via ``addPyFile`` removes the cwd dependency entirely;
    idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    archive = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="spark_graft_"), "spark_jdbc_limit_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(archive)
    sc._spark_graft_shipped = True
