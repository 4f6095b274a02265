"""Spans and Spark status-store counts taken at the benchmark's call
boundaries into the library.

A :class:`Tracer` records one span per call (name, layer, start, end,
parent, run id) in memory. Each call whose Spark work should be counted
runs under its own job group; when it returns, the tracer drains the
listener bus and reads, for every job of that group, the job's wall time
and its stages' tasks, executor run time, shuffle bytes, spill bytes and
input records from the status store (``statusTracker().getJobIdsForGroup``
and ``statusStore().lastStageAttempt``). Nothing is written until
:meth:`Tracer.dump` at the end of the run.

A disabled tracer runs the same calls with no job groups, reads and spans,
which is how the end-to-end metrics are measured.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Callable, Iterator
from typing import Any

from py4j.protocol import Py4JJavaError

#: Stage fields summed into a call's counts: output name → StageData getter.
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "input_records": "inputRecords",
}


class Tracer:
    """Records spans and per-call Spark counts when ``enabled``."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Count jobs of ``spark`` from now on (the session is built during
        set-up, so the tracer binds to it once it exists)."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs: Any) -> Iterator[dict[str, Any] | None]:
        """A timed span around a block; yields the span record (None when
        disabled) so the block can attach attributes to it."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, layer: str, fn: Callable[[], Any], **attrs: Any) -> Any:
        """Run ``fn`` as one call into ``layer``; when enabled, its Spark jobs
        run under a job group of their own and their counts land on the span."""
        if not self.enabled:
            return fn()
        group = f"{self.run_id}-{len(self.spans)}"
        try:
            with self.span(name, layer, **attrs) as rec:
                self._sc.setJobGroup(group, name)
                return fn()
        finally:
            t0 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._group_counts(group))
            self.overhead_s += time.perf_counter() - t0

    def _group_counts(self, group: str) -> dict[str, Any]:
        jsc_sc = self._sc._jsc.sc()
        jsc_sc.listenerBus().waitUntilEmpty()
        store = jsc_sc.statusStore()
        counts: dict[str, Any] = dict.fromkeys(_STAGE_FIELDS, 0)
        counts["jobs"] = 0
        counts["job_s"] = 0.0
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            counts["jobs"] += 1
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                counts["job_s"] += (
                    job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                ) / 1000.0
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    stage = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # stage evicted from the store
                    continue
                for key, getter in _STAGE_FIELDS.items():
                    counts[key] += getattr(stage, getter)()
        return counts

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        """Write every span and ``extra`` once, at the end of the run."""
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f)
