"""The repository benchmark: curation passes and a JDBC limit-read /
atomic-commit loop, in one fresh process on ``local[nproc]``.

    python3 perfbench/run.py --workload curate_small --seed 1 --seconds 20 --trace 0

A run, one client, closed loop:

1. set-up, once, as a fresh process pays it: ``build_session`` (which
   launches the JVM), ``ship_package`` and the
   ``spark_jdbc_limit_spark.operators`` import (which runs the registry
   rotation);
2. the workload's main phase, in passes: the cold pass, then warm passes
   until ``--seconds`` have gone since the cold pass ended and at least
   ``MIN_WARM`` warm passes ran:
   - ``curate``: a pass runs every entry of the workload's set, built and
     run into the ``noop`` sink, over a corpus generated from the seed
     (``corpus.py``);
   - ``jdbc``: a pass is one block of the JDBC mix over embedded in-memory
     Derby (``jdbc_mix.py``);
3. with ``--trace 1`` only, a cold and a warm pass of the other phase, so
   that every layer of the per-layer report is measured in every workload;
4. untimed checks: each entry that ran is compared with its DuckDB oracle
   (``tests/oracle_utils.run_differential``); the JDBC operations check
   their own results as they go.

The end-to-end metrics come from set-up and the main phase; input
generation and checks are outside every timed region. ``--trace 0``
prints them. ``--trace 1`` puts a span around every call into the library,
with status-store counts per call (``spans.py``), prints the per-layer
metrics and writes the spans to ``.perfbench_work/trace-<run id>.json``.
The last stdout line is the result object; the line before it records
cpus, seed, row counts, phase times and any failure causes.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "spark_jdbc_limit_spark"
#: Warm passes a main phase runs at least, whatever ``--seconds`` says.
MIN_WARM = 2
DRIVER_MEMORY = "3g"

#: The ten entries of the curation set.
CURATE_ENTRIES = (
    "q1_pricing_summary",
    "join_asof_nearest",
    "dedup_minhash_verified",
    "dedup_connected_components",
    "ann_ivf_topk",
    "text_bm25_retrieval",
    "curate_full_pipeline",
    "graph_connected_components",
    "sort_zorder_skipping_audit",
    "agg_approx_percentile_audit",
)
#: One cheap entry of each traced operator module, for the light pass.
LIGHT_ENTRIES = (
    "count_star_filter",
    "join_anti",
    "dedup_exact",
    "ann_cosine_topk_bruteforce",
    "text_token_stats",
    "sample_quota_per_source",
    "graph_triangle_stats",
    "sort_null_ordering",
    "agg_approx_topk_audit",
)
MODULES = (
    "relational", "joins", "dedup", "similarity", "text",
    "pipeline", "graph", "advanced", "sketches",
)
#: Per-module metrics of a curation pass, with their units.
OPERATOR_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "build_jobs": "count",
    "jobs": "count",
    "tasks": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "executor_s": "s",
}


@dataclass(frozen=True)
class Workload:
    main: str  # "curate" or "jdbc": the phase the end-to-end metrics measure
    entries: tuple[str, ...]  # the curation set
    corpus_scale: float  # 0.01 gives 60,000 lineitem rows
    source_rows: int  # rows of the Derby source table


WORKLOADS = {
    "curate_small": Workload("curate", CURATE_ENTRIES, 0.01, 100_000),
    "jdbc_rw": Workload("jdbc", LIGHT_ENTRIES, 0.001, 1_000_000),
}

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "op_s.p50": "s",
    "op_s.p90": "s",
    "ops_per_s": "1/s",
}


class Run:
    """Counts operations and failures, and keeps the failure causes."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.errors.append(f"{what}: {msg}"[:500])
        print(f"perfbench: {what} failed: {msg}", file=sys.stderr)


# -- set-up --------------------------------------------------------------------


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }


def _stop_jvm(spark) -> None:
    """Stop Spark and the JVM pyspark launched, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def set_up(cpus: int, work: str, tracer) -> tuple[object, dict[str, float]]:
    """The set-up of this fresh process, timed by part."""
    with tracer.span("setup", "session"):
        t0 = time.perf_counter()
        with tracer.span("build_session", "session"):
            from spark_jdbc_limit_spark.session import build_session, ship_package

            spark = build_session(
                cpus=cpus, driver_memory=DRIVER_MEMORY, extra_conf=_session_conf(work)
            )
        t1 = time.perf_counter()
        with tracer.span("ship_package", "session"):
            ship_package(spark)
        t2 = time.perf_counter()
        with tracer.span("operators_import", "session"):
            import spark_jdbc_limit_spark.operators  # noqa: F401
        t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "ship_s": t2 - t1, "import_s": t3 - t2, "total_s": t3 - t0}


def run_passes(one_pass, seconds: float, min_warm: int) -> list[float]:
    """Run ``one_pass(pass_no)``: the cold pass, then warm passes until
    ``seconds`` have gone since the cold pass ended and at least
    ``min_warm`` of them ran. Returns the pass times."""
    passes: list[float] = []
    t_warm = 0.0
    while len(passes) <= min_warm or time.perf_counter() - t_warm < seconds:
        t0 = time.perf_counter()
        one_pass(len(passes))
        passes.append(time.perf_counter() - t0)
        if len(passes) == 1:
            t_warm = time.perf_counter()
    return passes


# -- curation ------------------------------------------------------------------


def curate_pass(spark, names, sf_dir: str, pass_no: int, tracer, run: Run, ops, frames) -> None:
    """One pass over ``names``. Appends ``(pass, entry, seconds)`` of every
    entry that succeeded to ``ops`` and keeps its frame in ``frames``."""
    from spark_jdbc_limit_spark.operators import REGISTRY

    with tracer.span(f"pass{pass_no}", "operators", cold=pass_no == 0):
        for name in names:
            spec = REGISTRY[name]
            layer = "operators." + spec.builder.__module__.rsplit(".", 1)[-1]
            run.attempted += 1
            frames.pop(name, None)
            t_op = time.perf_counter()
            try:
                with tracer.span(name, layer):
                    df = tracer.call(
                        "build", layer, lambda: spec.builder(spark, sf_dir), role="build"
                    )
                    tracer.call(
                        "exec", layer,
                        lambda: df.write.format("noop").mode("overwrite").save(),
                        role="exec",
                    )
            except Exception as exc:  # counted; the pass goes on
                run.fail(name, exc)
                continue
            ops.append((pass_no, name, time.perf_counter() - t_op))
            frames[name] = df


def check_entries(spark, names, frames, sf_dir: str, run: Run) -> None:
    """Compare each entry's last frame with its DuckDB oracle, untimed."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_utils import run_differential

    from spark_jdbc_limit_spark.operators import REGISTRY

    for name in names:
        run.attempted += 1
        if name not in frames:
            run.fail(f"{name} oracle check", "no frame: the entry failed in its last pass")
            continue
        try:
            run_differential(spark, REGISTRY[name], sf_dir, frame=frames[name])
        except Exception as exc:  # a mismatch is an AssertionError; count all
            run.fail(f"{name} oracle check", exc)


# -- metrics -------------------------------------------------------------------


def end_to_end(setup, passes, ops) -> dict[str, float]:
    warm = [took for pass_no, _, took in ops if pass_no > 0]
    return {
        "setup_s": setup["total_s"],
        "cold_pass_s": passes[0],
        "warm_pass_s": statistics.median(passes[1:]),
        "op_s.p50": float(np.percentile(warm, 50)),
        "op_s.p90": float(np.percentile(warm, 90)),
        "ops_per_s": len(warm) / sum(warm),
    }


def _children(spans, parent_id):
    return [s for s in spans if s["parent"] == parent_id]


def _dur(span) -> float:
    return span["end"] - span["start"]


def per_layer(spans, setup, e2e, tracer, window_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced run's spans. Operators, sources and
    sinks are read from the warm passes (the ``cold=False`` pass spans) of
    whichever phase exercised them."""
    out: dict[str, tuple[float, str]] = {}
    med = statistics.median

    out["session.start_s"] = (setup["start_s"], "s")
    out["session.ship_s"] = (setup["ship_s"], "s")
    out["session.import_s"] = (setup["import_s"], "s")

    # operators: totals per pass and module; the warm passes by median
    def pass_totals(pass_span):
        tot = {m: dict.fromkeys(OPERATOR_METRICS, 0.0) for m in MODULES}
        for entry in _children(spans, pass_span["id"]):
            t = tot[entry["layer"].split(".", 1)[1]]
            for call in _children(spans, entry["id"]):
                t["build_s" if call["role"] == "build" else "exec_s"] += _dur(call)
                if call["role"] == "build":
                    t["build_jobs"] += call["jobs"]
                t["jobs"] += call["jobs"]
                t["tasks"] += call["tasks"]
                t["shuffle_mb"] += call["shuffle_write_bytes"] / 2**20
                t["spill_mb"] += call["spill_disk_bytes"] / 2**20
                t["executor_s"] += call["executor_ms"] / 1000.0
        return tot

    passes = [s for s in spans if s["layer"] == "operators" and s["parent"] is None]
    cold = pass_totals(passes[0])
    warm = [pass_totals(p) for p in passes[1:]]
    for m in MODULES:
        for k, unit in OPERATOR_METRICS.items():
            out[f"operators.{m}.{k}"] = (med(t[m][k] for t in warm), unit)
    for k in ("build_s", "exec_s", "build_jobs", "jobs"):
        out[f"operators.{k}"] = (
            med(sum(t[m][k] for m in MODULES) for t in warm), OPERATOR_METRICS[k])
    out["operators.cold_build_s"] = (sum(t["build_s"] for t in cold.values()), "s")
    out["operators.cold_build_jobs"] = (sum(t["build_jobs"] for t in cold.values()), "count")

    # sources and sinks: per operation, over the warm blocks
    warm_blocks = [s for s in spans if s["layer"] == "jdbc" and not s["cold"]]
    ops = [o for b in warm_blocks for o in _children(spans, b["id"])]
    reads = [o for o in ops if o["layer"] == "sources.jdbc"]
    previews = [o for o in reads if o["name"] == "preview"]
    calls = [c for r in reads for c in _children(spans, r["id"])]
    out["sources.jdbc.preview_s"] = (med(_dur(p) for p in previews), "s")
    out["sources.jdbc.scan_s"] = (med(_dur(r) for r in reads if r["name"] == "scan"), "s")
    out["sources.jdbc.build_s"] = (
        sum(_dur(c) for c in calls if c["role"] == "build") / len(reads), "s")
    out["sources.jdbc.exec_s"] = (
        sum(_dur(c) for c in calls if c["role"] == "exec") / len(reads), "s")
    out["sources.jdbc.tasks"] = (sum(c["tasks"] for c in calls) / len(reads), "count")
    out["sources.jdbc.executor_s"] = (
        sum(c["executor_ms"] for c in calls) / 1000.0 / len(reads), "s")
    fetched = sum(c["input_records"] for p in previews for c in _children(spans, p["id"]))
    out["sources.jdbc.rows_fetched"] = (fetched / len(previews), "count")
    out["sources.jdbc.fetched_per_returned"] = (
        fetched / sum(p["returned"] for p in previews), "ratio")

    commits = [o for o in ops if o["layer"] == "sinks.transactional"]
    out["sinks.transactional.commit_s"] = (med(_dur(c) for c in commits), "s")
    out["sinks.transactional.stage_s"] = (med(c["job_s"] for c in commits), "s")
    out["sinks.transactional.publish_s"] = (med(_dur(c) - c["job_s"] for c in commits), "s")
    out["sinks.transactional.jobs"] = (sum(c["jobs"] for c in commits) / len(commits), "count")
    out["sinks.transactional.rows_written"] = (
        sum(c["rows"] for c in commits) / len(commits), "count")

    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.overhead_share"] = (tracer.overhead_s / window_s, "ratio")
    out["trace.spans"] = (len(spans), "count")
    for k, v in e2e.items():
        out[f"traced.{k}"] = (v, END_TO_END[k])
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus that of the largest child
    it waited for (the JVM, once ``_stop_jvm`` has returned)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    children = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + children) / 1024


# -- main ----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: the {PKG} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import corpus
    from spans import Tracer

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK, run_id)  # removed at the end of the run
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # temporary files of this process, its Python workers and the JVM stay
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cpus = len(os.sched_getaffinity(0))
    do_curate = wl.main == "curate" or traced
    do_jdbc = wl.main == "jdbc" or traced

    phases: dict[str, float] = {}  # wall time of each phase, for the info line
    t_phase = [time.perf_counter()]

    def phase_done(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - t_phase[0]
        t_phase[0] = now

    # inputs, generated from the seed before anything is timed
    sf_dir = os.path.join(work, "corpus")
    corpus_rows = corpus.generate(sf_dir, args.seed, wl.corpus_scale) if do_curate else {}
    phase_done("inputs")

    tracer = Tracer(run_id, enabled=traced)
    run = Run()
    spark, setup = set_up(cpus, work, tracer)
    phase_done("setup")
    try:
        tracer.bind(spark)
        if do_jdbc:
            import jdbc_mix

            src = jdbc_mix.generate_source(work, args.seed, wl.source_rows)
            db = jdbc_mix.Derby(spark, f"perfbench_{run_id}")
            db.load(src)
            mix = jdbc_mix.Mix(spark, db, src, args.seed, cpus, tracer)
            phase_done("derby_load")

        ops: list[tuple[int, str, float]] = []  # (pass, operation, seconds)
        frames: dict[str, object] = {}

        def curate_phase(pass_no: int, ops: list) -> None:
            curate_pass(spark, wl.entries, sf_dir, pass_no, tracer, run, ops, frames)

        def jdbc_phase(pass_no: int, ops: list) -> None:
            mix.block(pass_no, run, ops)

        main_phase, rider = (
            (curate_phase, jdbc_phase) if wl.main == "curate" else (jdbc_phase, curate_phase)
        )
        passes = run_passes(lambda n: main_phase(n, ops), args.seconds, MIN_WARM)
        phase_done("main")
        if traced:
            run_passes(lambda n: rider(n, []), 0, 1)
            phase_done("rider")
        e2e = end_to_end(setup, passes, ops)

        if do_curate:
            check_entries(spark, wl.entries, frames, sf_dir, run)
            phase_done("checks")

        if traced:
            metrics = per_layer(tracer.spans, setup, e2e, tracer, phases["main"])
            tracer.dump(
                os.path.join(WORK, f"trace-{run_id}.json"),
                {"workload": args.workload, "seed": args.seed, "setup": setup},
            )
        else:
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    finally:
        _stop_jvm(spark)
        shutil.rmtree(work)
    phase_done("stop")
    if traced:
        metrics["session.rss_peak_mb"] = (peak_rss_mb(), "MB")

    info = {
        "workload": args.workload,
        "main": wl.main,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "cpus": cpus,
        "entries": list(wl.entries) if do_curate else [],
        "corpus_rows": corpus_rows,
        "source_rows": wl.source_rows if do_jdbc else 0,
        "passes_s": passes,
        "ops": len(ops),
        "warm_ops": sum(pass_no > 0 for pass_no, _, _ in ops),
        "phases_s": phases,
        "failed_ratio": run.failed / run.attempted,
        "errors": run.errors,
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
