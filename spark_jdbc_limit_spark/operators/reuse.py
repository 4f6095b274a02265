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

Nothing else in the operators keeps data across builds: no operator
registers a frame with Spark's cache (``.cache()`` / ``.persist()``),
whose CacheManager matches plans by path and so would serve a file
rewritten in place from its old blocks. A memoized checkpoint is a local
checkpoint: it lives as long as its session, and a lost executor loses
its blocks, so a query over it then fails rather than recomputes.

Memos are kept per session because checkpoints live per session. They
live on the session object itself: a memoized DataFrame refers to its
session, so a module-level map keyed by the session, even weakly, would
keep both alive for good; on the session they are collected with it.
Within a session the key is ``(kind, roots)``: a DataFrame's input
files, or the given path or paths. Each entry keeps its fingerprint,
``(path, length, modificationTime)`` for every file under the roots (a
file root lists only itself). A file rewritten in place changes the
fingerprint, and the recomputed value replaces the old entry, so a stale
value is neither served nor kept alive. A source with no files is never
memoized. ``hits`` and ``misses`` count lookups per kind.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Hashable, Sequence
from typing import TypeVar

from py4j.java_gateway import java_import
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

hits: Counter[Hashable] = Counter()
misses: Counter[Hashable] = Counter()


def memo(
    spark: SparkSession,
    kind: Hashable,
    source: DataFrame | str | Sequence[str],
    compute: Callable[[], T],
) -> T:
    """``compute()``'s value for ``source``'s files in ``spark`` (a
    DataFrame's input files, or every file under a path or paths): reused
    while their fingerprint is unchanged, recomputed otherwise."""
    jvm = spark._jvm
    # one class lookup each instead of one py4j round trip per package level
    java_import(jvm, "org.apache.hadoop.fs.Path")
    if isinstance(source, DataFrame):
        roots = tuple(sorted(source.inputFiles()))
        java_import(jvm, "java.net.URI")
        # input files are URIs: URI decodes their escapes, Path(String) would not
        paths = [jvm.Path(jvm.URI(root)) for root in roots]
    else:
        roots = (source,) if isinstance(source, str) else tuple(source)
        paths = [jvm.Path(root) for root in roots]
    fp = _tree_fingerprint(spark, paths)
    if not fp:
        return compute()
    # {(kind, roots): (fingerprint, value)}
    entries = spark.__dict__.setdefault("_reuse_memo", {})
    # popped first, so a stale value is released before its replacement runs
    entry = entries.pop((kind, roots), None)
    if entry is not None and entry[0] == fp:
        hits[kind] += 1
    else:
        misses[kind] += 1
        entry = (fp, compute())
    entries[(kind, roots)] = entry
    return entry[1]


def _tree_fingerprint(spark: SparkSession, roots: list) -> tuple[tuple[str, int, int], ...]:
    """The fingerprint of every file under the Hadoop paths ``roots`` (a
    file root lists only itself); empty if nothing is there."""
    conf = spark._jsc.hadoopConfiguration()
    fp = []
    for root in roots:
        fs = root.getFileSystem(conf)
        dirs = [root] if fs.exists(root) else []
        while dirs:
            # listStatus, not listFiles: listFiles also fetches block locations
            for status in fs.listStatus(dirs.pop()):
                if status.isDirectory():
                    dirs.append(status.getPath())
                else:
                    fp.append((status.getPath().toString(), status.getLen(), status.getModificationTime()))
    return tuple(sorted(fp))
