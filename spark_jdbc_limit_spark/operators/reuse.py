"""The operators' one reuse layer. Builders that run a job while building
their plan (a count for a cost switch or partition sizing, a fitted
quantizer, a checkpoint, a bucketed write) get its value from ``memo``, so
a session that builds the same entry again (bench reps, a registry-wide
schema scan) skips the job. Nothing else in the operators memoizes.

Memos are keyed by session because cached blocks and checkpoints live per
session: the graph edge count is the job that fills the ``pairs`` cache
its coalesce relies on, so a process-wide memo would let a rebuilt session
skip it and read a cold plan. The session key is weak, so a stopped
session and its values stay collectable. Within a session the key is
``(kind, sorted input file names)`` and each entry keeps its fingerprint:
``(name, length, modificationTime)`` per file, from one Hadoop
``listStatus`` per parent directory. A file rewritten in place changes the
fingerprint, and the recomputed value replaces the old entry, so a stale
value is neither served nor kept alive. A frame with no input files is
never memoized. ``hits`` and ``misses`` count lookups per kind.
"""

from __future__ import annotations

import weakref
from collections import Counter, defaultdict
from collections.abc import Callable, Hashable
from typing import TypeVar
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: session -> {(kind, input names): (fingerprint, value)}
_ENTRIES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
hits: Counter[Hashable] = Counter()
misses: Counter[Hashable] = Counter()


def memo(spark: SparkSession, kind: Hashable, df: DataFrame, compute: Callable[[], T]) -> T:
    """``compute()``'s value for ``df``'s input files in ``spark``: reused
    while the files' fingerprint is unchanged, recomputed otherwise."""
    names = tuple(sorted(df.inputFiles()))
    if not names:
        return compute()
    fp = _fingerprint(spark, names)
    entries = _ENTRIES.setdefault(spark, {})
    # popped first, so a stale value is released before its replacement runs
    entry = entries.pop((kind, names), None)
    if entry is not None and entry[0] == fp:
        hits[kind] += 1
    else:
        misses[kind] += 1
        entry = (fp, compute())
    entries[(kind, names)] = entry
    return entry[1]


def _fingerprint(spark: SparkSession, names: tuple[str, ...]) -> tuple[tuple[str, int, int], ...]:
    by_dir: dict[str, dict[str, str]] = defaultdict(dict)
    for name in names:
        parent, _, base = name.rpartition("/")
        by_dir[parent][unquote(base)] = name
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    fp = []
    for parent, files in by_dir.items():
        path = hadoop_path(parent)
        for status in path.getFileSystem(conf).listStatus(path):
            name = files.get(status.getPath().getName())
            if name is not None:
                fp.append((name, status.getLen(), status.getModificationTime()))
    return tuple(sorted(fp))
