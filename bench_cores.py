#!/usr/bin/env python
"""Core-scaling bench (round-14 verdict #5): produce a DATA-BOUND
parallelism artifact.

At sf0.1 the whole suite is scheduling/codegen-overhead-bound — the
driver's 8-cpu run beats its 32-cpu run on suite total — so the sf0.1
scaling block carries no parallelism evidence for the 100 TB story. This
harness replicates the sf0.1 corpus R× with ``bench_scale._replicate``
(replica-disjoint identity: graph/pair structure held fixed, volume ×R)
and times a shuffle-heavy entry subset at TWO core counts in separate
processes (``local[N]`` is a static conf). A wall-clock ratio
t(8cpus)/t(32cpus) materially above 1 on the replicated corpus is the
evidence that the plans actually parallelize once data binds.

Run:  python bench_cores.py            # orchestrates both core counts
Env:  SPARK_GRAFT_CORES_BASE   (default /root/testdata/sf0.1)
      SPARK_GRAFT_CORES_R      (default 10 — replication factor)
      SPARK_GRAFT_CORES_CPUS   (default 32,8)
      SPARK_GRAFT_CORES_QUERIES (comma list; default CORE_QUERIES)
      SPARK_GRAFT_CORES_WORK   (default /tmp/spark_graft_cores)
      SPARK_GRAFT_CORES_PASSES (default 2 — min over passes)

The result JSON is printed once; merge the ``core_scaling`` block into
BENCH_SCALE.json by hand (the bench_scale subset convention).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Shuffle-heavy subset spanning the operator families (TPC-H joins and
#: aggregations, window, two-phase ranks, dedup/anchor Arrow pipelines,
#: graph propagation, sketch audits): the entries whose 100 TB posture
#: depends on exchanges actually spreading across cores.
CORE_QUERIES = [
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "join_sortmerge_facts",
    "window_range_frame",
    "agg_spearman_rank_correlation",
    "sort_range_equidepth_audit",
    "sort_zorder_skipping_audit",
    "agg_cms_join_size_audit",
    "agg_approx_percentile_audit",
    "text_bm25_retrieval",
    "dedup_minhash_verified",
    "dedup_minhash_estimate_audit",
    "dedup_jaccard_prefix_filter",
    "dedup_longest_dup_substring",
    "curate_span_cut_pipeline",
    "curate_full_pipeline",
    "basket_lift_rules",
    "graph_connected_components",
    "embedding_pca_power_iteration",
    "events_peak_concurrency_sweep",
]


#: Marks the worker's result line: Spark or a library may print to stdout
#: after it, so the orchestrator finds the line by prefix, not position.
RESULT_PREFIX = "RESULT:"


def _worker_result(stdout: str) -> dict:
    """The JSON object on the worker's ``RESULT_PREFIX`` line."""
    for line in stdout.splitlines():
        if line.startswith(RESULT_PREFIX):
            return json.loads(line[len(RESULT_PREFIX):])
    raise RuntimeError(f"worker printed no {RESULT_PREFIX} line: {stdout[-500:]}")


def _ratio(lo: float | None, hi: float | None) -> float | None:
    """Low-over-high cpu time ratio; None when either side has no time."""
    if lo is None or hi is None:
        return None
    return round(lo / hi, 3)


def _worker(cpus: int, data_dir: str, queries: list[str], passes: int) -> None:
    """Time every query at local[cpus] over ``data_dir``; print one
    ``RESULT_PREFIX`` JSON line. Separate process per core count because master/static confs
    bind at session creation."""
    from spark_jdbc_limit_spark import build_session
    from spark_jdbc_limit_spark.operators import REGISTRY

    # The replicated corpus is written as 1-3 files per table (the base
    # tables arrive as single small parquet files), so at the default
    # 128 MB split size a 10x table yields only 2-4 scan tasks and NO
    # core count can engage on the scan stage. A finer split granularity
    # (env SPARK_GRAFT_CORES_SPLIT, default 16m) restores the scan
    # parallelism a production multi-file layout has; both arms run with
    # the same value, so the comparison stays like-for-like.
    split = os.environ.get("SPARK_GRAFT_CORES_SPLIT", "16m")
    spark = build_session(
        app_name=f"bench_cores_{cpus}",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": split},
    )

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm: every table (footers + OS cache) and the Arrow worker pool
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        _noop(spark.read.parquet(f"{data_dir}/{t}.parquet"))
    spark.range(0, cpus * 10, 1, cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for pass_i in range(passes):
        for name in queries:
            spark.sparkContext.setJobDescription(f"cores{cpus} {name}")
            t0 = time.perf_counter()
            _noop(REGISTRY[name].builder(spark, data_dir))
            dt = round(time.perf_counter() - t0, 3)
            cur = times.get(name)
            times[name] = min(dt, cur) if cur is not None else dt
            print(f"# cpus={cpus} pass{pass_i + 1} {name}: {dt:.2f}s", file=sys.stderr)
    print(RESULT_PREFIX + json.dumps({"cpus": cpus, "times": times}))


def main() -> None:
    base = os.environ.get("SPARK_GRAFT_CORES_BASE", "/root/testdata/sf0.1")
    r = int(os.environ.get("SPARK_GRAFT_CORES_R", "10"))
    cpus_list = [
        int(x) for x in os.environ.get("SPARK_GRAFT_CORES_CPUS", "32,8").split(",")
    ]
    only = os.environ.get("SPARK_GRAFT_CORES_QUERIES")
    queries = only.split(",") if only else CORE_QUERIES
    work = os.environ.get("SPARK_GRAFT_CORES_WORK", "/tmp/spark_graft_cores")
    passes = int(os.environ.get("SPARK_GRAFT_CORES_PASSES", "2"))

    # Output file count per table: bench_scale._replicate inherits the
    # base tables' 1-3 input partitions, so a replicated table lands as
    # 1-3 files with ~128 MB row groups — capping SCAN parallelism at
    # 2-4 tasks no matter the core count (measured: q1 at 10x read flat
    # 8 s on both 8 and 32 cpus). A production multi-file layout is the
    # posture under test, so rewrite each table into `files` files.
    files = int(os.environ.get("SPARK_GRAFT_CORES_FILES", "64"))
    data_dir = f"{work}/x{r}_f{files}"
    if not os.path.exists(f"{data_dir}/_BUILT"):
        from spark_jdbc_limit_spark import build_session
        from bench_scale import _replicate

        shutil.rmtree(data_dir, ignore_errors=True)
        raw = f"{work}/raw_x{r}"
        shutil.rmtree(raw, ignore_errors=True)
        spark = build_session(app_name="bench_cores_build", cpus=max(cpus_list))
        t0 = time.perf_counter()
        _replicate(spark, base, raw, r)
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            spark.read.parquet(f"{raw}/{t}.parquet").repartition(files).write.mode(
                "overwrite"
            ).parquet(f"{data_dir}/{t}.parquet")
        shutil.rmtree(raw, ignore_errors=True)
        print(f"# built {data_dir} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        open(f"{data_dir}/_BUILT", "w").close()
        spark.stop()

    here = os.path.dirname(os.path.abspath(__file__))
    # cpus_list may REPEAT values (e.g. "8,32,8,32"): alternating worker
    # processes bound slot-contention order effects the same way the main
    # bench's round-robin reps do; per-query times min-merge across a
    # value's workers.
    per_cpus: dict[int, dict[str, float]] = {}
    for cpus in cpus_list:
        env = dict(os.environ)
        env["SPARK_GRAFT_CORES_WORKER"] = json.dumps(
            {"cpus": cpus, "data_dir": data_dir, "queries": queries, "passes": passes}
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            cwd=here,
        )
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            raise RuntimeError(f"worker cpus={cpus} failed: {proc.stdout[-500:]}")
        row = _worker_result(proc.stdout)
        cur = per_cpus.setdefault(cpus, {})
        for name, t in row["times"].items():
            cur[name] = min(t, cur[name]) if name in cur else t

    cpus_list = sorted(set(cpus_list))
    hi, lo = max(cpus_list), min(cpus_list)
    out = {
        "metric": "core_scaling_ratio_low_over_high",
        "base": base,
        "replication": r,
        "cpus": cpus_list,
        "passes": passes,
        "queries": {
            name: {
                **{f"t_{c}cpus": per_cpus[c].get(name) for c in cpus_list},
                "ratio": _ratio(per_cpus[lo].get(name), per_cpus[hi].get(name)),
            }
            for name in queries
        },
        "total_ratio": round(
            sum(per_cpus[lo].values()) / max(sum(per_cpus[hi].values()), 1e-9), 3
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    worker_cfg = os.environ.get("SPARK_GRAFT_CORES_WORKER")
    if worker_cfg:
        cfg = json.loads(worker_cfg)
        _worker(cfg["cpus"], cfg["data_dir"], cfg["queries"], cfg["passes"])
    else:
        main()
