"""The operators' one reuse layer. A builder job whose value depends only on
the input files gets its value from ``memo``, so a session that builds the
same entry again (bench reps, a registry-wide schema scan) skips the job.
Its users:

- table schemas: ``sources.catalog.load_table`` reads each parquet table
  with the schema inferred on its first load (schema inference is a job);
- parameter fetches: counts for cost switches and partition sizing, the
  query vector, the z-order key maxima, the jaccard posting-length probe,
  the IVF probe count;
- fitted models: the IVF centroids and the PQ codebooks;
- checkpoints: the supplier edge relation and the near-dup candidate
  pairs with their shingles, and the bucketed-table write.

Nothing else in the operators memoizes. A memoized checkpoint is a local
checkpoint: it lives as long as its session, and a lost executor loses
its blocks, so a query over it then fails rather than recomputes.

Memos are keyed by session because cached blocks and checkpoints live per
session: the graph edge count is the job that fills the ``pairs`` cache
its coalesce relies on, so a process-wide memo would let a rebuilt session
skip it and read a cold plan. The session key is weak, so a stopped
session and its values stay collectable. Within a session the key is
``(kind, sorted input file names)`` for a DataFrame and ``(kind, path)``
for a path, and each entry keeps its fingerprint: ``(name, length,
modificationTime)`` per file — a DataFrame's input files, from one Hadoop
``listStatus`` per parent directory, or every file under the path. A file
rewritten in place changes the fingerprint, and the recomputed value
replaces the old entry, so a stale value is neither served nor kept
alive. A source with no files is never memoized. ``hits`` and ``misses``
count lookups per kind.
"""

from __future__ import annotations

import weakref
from collections import Counter, defaultdict
from collections.abc import Callable, Hashable
from typing import TypeVar
from urllib.parse import unquote

from py4j.java_gateway import java_import
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: session -> {(kind, input names): (fingerprint, value)}
_ENTRIES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
hits: Counter[Hashable] = Counter()
misses: Counter[Hashable] = Counter()


def memo(
    spark: SparkSession, kind: Hashable, source: DataFrame | str, compute: Callable[[], T]
) -> T:
    """``compute()``'s value for ``source``'s files in ``spark`` (a
    DataFrame's input files, or every file under a path): reused while
    their fingerprint is unchanged, recomputed otherwise."""
    if isinstance(source, DataFrame):
        names = tuple(sorted(source.inputFiles()))
        fp = _fingerprint(spark, names) if names else ()
    else:
        names, fp = (source,), _tree_fingerprint(spark, source)
    if not fp:
        return compute()
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
    fp = []
    for parent, files in by_dir.items():
        path, fs = _hadoop_path(spark, parent)
        for status in fs.listStatus(path):
            name = files.get(status.getPath().getName())
            if name is not None:
                fp.append((name, status.getLen(), status.getModificationTime()))
    return tuple(sorted(fp))


def _tree_fingerprint(spark: SparkSession, path: str) -> tuple[tuple[str, int, int], ...]:
    """The fingerprint of every file under ``path`` (``path`` itself if it
    is a file); empty if nothing is there."""
    root, fs = _hadoop_path(spark, path)
    if not fs.exists(root):
        return ()
    fp, dirs = [], [root]
    while dirs:
        # listStatus, not listFiles: listFiles also fetches block locations
        for status in fs.listStatus(dirs.pop()):
            if status.isDirectory():
                dirs.append(status.getPath())
            else:
                fp.append((status.getPath().toString(), status.getLen(), status.getModificationTime()))
    return tuple(sorted(fp))


def _hadoop_path(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path``, with its file system."""
    # one class lookup instead of one py4j round trip per package level
    java_import(spark._jvm, "org.apache.hadoop.fs.Path")
    jpath = spark._jvm.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())
