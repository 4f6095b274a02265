"""The JDBC limit-read / atomic-commit loop over embedded in-memory Derby.

The source table ``SRC(ID, GRP, VAL)`` is generated from the seed in
NumPy, written as CSV in the seed's row order and bulk-imported with
Derby's ``SYSCS_UTIL.SYSCS_IMPORT_TABLE``; the arrays stay in memory as
the closed form every read is checked against. The loop runs blocks of
the operations in ``BLOCK``, in a seeded order with seeded parameters;
block 0 is the cold one. Three operations, each a call into the
library's public functions:

- preview: ``jdbc_scan_with_limit`` with one partition predicate per cpu
  on ``ID`` ranges, a seeded selective predicate on ``GRP``/``VAL`` and a
  limit n ∈ {10, 20, 100}, then ``collect()``. The predicate matches
  ``MATCHES_PER_PARTITION`` × n rows per partition, so every partition
  holds more matches than the limit and its pushed LIMIT, not the
  predicate, ends its fetch: the case the paper's pushdown is for.
  Checked: exactly n distinct rows, each satisfying the predicate and
  equal to its source row.
- scan: ``jdbc_reader`` partitioned on ``ID`` (one partition per cpu),
  then a per-``GRP`` count and sum. Checked against ``np.bincount``.
- commit: ``write_jdbc_atomic`` of a seeded ``BATCH_ROWS`` batch into
  ``TGT``; every ``OVERWRITE_EVERY``-th commit overwrites so the target
  stays bounded. The batch is a small incremental append: on 4 cpus its
  Spark stage job takes about 0.05 s and the sink's own protocol (DDL,
  the publish transaction, the staging drop) about 0.10 s, so the
  library's commit code, not row transfer, sets a commit's time.
  Checked after every acknowledged commit: the target's row count and
  checksum, read over a plain JDBC connection, equal the expected ones.

The block gives each kind about a third of its time, from the warm
operation times measured on 4 cpus (preview 0.38 s, scan 0.6 s, commit
0.15 s): 3 previews, 2 scans and 8 commits, about 3.5 s. A 2× slowdown
of any one kind then moves ``warm_pass_s`` by about a third, and the
commits are the median operation, so a sink slowdown moves ``op_s.p50``
in full.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.sinks import write_jdbc_atomic
from spark_jdbc_limit_spark.sources.jdbc import jdbc_reader, jdbc_scan_with_limit

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
GROUPS = 100
VAL_RANGE = 1_000_000
PREVIEW_LIMITS = (10, 20, 100)
#: A preview's predicate matches this many rows per partition per row of
#: its limit.
MATCHES_PER_PARTITION = 2
BATCH_ROWS = 2_000
#: Two overwrites in each block's eight commits.
OVERWRITE_EVERY = 4
#: One block of the mix; its order is shuffled per block.
BLOCK = ("preview",) * 3 + ("scan",) * 2 + ("commit",) * 8


@dataclass
class Source:
    """The generated source table: values indexed by ``ID``."""

    grp: np.ndarray
    val: np.ndarray
    csv_path: str

    @property
    def rows(self) -> int:
        return len(self.grp)


def generate_source(work: str, seed: int, rows: int) -> Source:
    rng = np.random.default_rng([seed, 0xDB])
    grp = rng.integers(0, GROUPS, rows)
    val = rng.integers(0, VAL_RANGE, rows)
    order = rng.permutation(rows)  # the seed chooses the physical row order
    path = os.path.join(work, "src.csv")
    pacsv.write_csv(
        pa.table({"id": order, "grp": grp[order], "val": val[order]}),
        path,
        pacsv.WriteOptions(include_header=False),
    )
    return Source(grp, val, path)


class Derby:
    """An embedded in-memory Derby database in the Spark JVM."""

    def __init__(self, spark, name: str) -> None:
        self.spark = spark
        self.url = f"jdbc:derby:memory:{name};create=true"
        spark._jvm.java.lang.Class.forName(DRIVER)

    def query(self, *sql: str) -> list[list[int]]:
        """Run statements on one fresh connection; return the rows of the
        last one if it is a query (all columns read as long)."""
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            rows = []
            for s in sql:
                if stmt.execute(s):
                    rs = stmt.getResultSet()
                    n = rs.getMetaData().getColumnCount()
                    rows = []
                    while rs.next():
                        rows.append([rs.getLong(i + 1) for i in range(n)])
            return rows
        finally:
            conn.close()

    def load(self, src: Source) -> None:
        self.query(
            "CREATE TABLE SRC (ID BIGINT NOT NULL, GRP INT NOT NULL, VAL BIGINT NOT NULL)",
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, 'SRC', '{src.csv_path}', ',', NULL, NULL, 0)",
            "CREATE TABLE TGT (ID BIGINT NOT NULL, V BIGINT NOT NULL)",
        )
        (n,) = self.query("SELECT COUNT(*) FROM SRC")[0]
        if n != src.rows:
            raise RuntimeError(f"Derby import loaded {n} of {src.rows} rows")


class Mix:
    """The seeded operation sequence and the state its checks need."""

    def __init__(self, spark, db: Derby, src: Source, seed: int, cpus: int, tracer) -> None:
        self.spark = spark
        self.db = db
        self.src = src
        self.cpus = cpus
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 0x0B])
        bounds = np.linspace(0, src.rows, cpus + 1).astype(np.int64)
        self.partitions = [
            f"ID >= {lo} AND ID < {hi}" for lo, hi in zip(bounds[:-1], bounds[1:])
        ]
        self.commits = 0
        self.next_id = 0
        self.tgt_rows = 0
        self.tgt_sum = 0
        # grouped closed form for the scans
        self.scan_n = np.bincount(src.grp, minlength=GROUPS)
        self.scan_s = np.bincount(src.grp, weights=src.val, minlength=GROUPS).astype(np.int64)
        self.by_group = [np.sort(src.val[src.grp == g]) for g in range(GROUPS)]

    def block(self, block_no: int, run, ops: list) -> None:
        """One block of the mix in a seeded order (block 0 is the cold one).
        Appends ``(block, kind, seconds)`` of every operation that succeeded
        to ``ops``; failures are counted on ``run``."""
        with self.tracer.span(f"block{block_no}", "jdbc", cold=block_no == 0):
            for kind in self.rng.permutation(BLOCK):
                run.attempted += 1
                try:
                    took, problem = getattr(self, kind)()
                except Exception as exc:  # counted; the block goes on
                    run.fail(kind, exc)
                    continue
                if problem is None:
                    ops.append((block_no, kind, took))
                else:
                    run.fail(kind, problem)

    # -- operations: each returns (seconds, problem or None) -------------------

    def preview(self) -> tuple[float, str | None]:
        n = int(self.rng.choice(PREVIEW_LIMITS))
        g = int(self.rng.integers(0, GROUPS))
        matches = min(MATCHES_PER_PARTITION * n * len(self.partitions), len(self.by_group[g]))
        cut = int(self.by_group[g][matches - 1])
        pred = f"GRP = {g} AND VAL <= {cut}"
        t0 = time.perf_counter()
        with self.tracer.span("preview", "sources.jdbc") as rec:
            df = self.tracer.call(
                "jdbc_scan_with_limit",
                "sources.jdbc",
                lambda: jdbc_scan_with_limit(
                    self.spark, self.db.url, "SRC", n, predicate=pred,
                    partition_predicates=self.partitions, driver=DRIVER,
                ),
                role="build",
            )
            rows = self.tracer.call("collect", "sources.jdbc", df.collect, role="exec")
            if rec is not None:
                rec["returned"] = len(rows)
        took = time.perf_counter() - t0
        ids = [r["ID"] for r in rows]
        bad = [
            r for r in rows
            if r["GRP"] != g or r["VAL"] > cut
            or self.src.grp[r["ID"]] != r["GRP"] or self.src.val[r["ID"]] != r["VAL"]
        ]
        if len(rows) != n or len(set(ids)) != n or bad:
            return took, f"limit {n} pred ({pred}) returned {len(rows)} rows, {len(bad)} wrong"
        return took, None

    def scan(self) -> tuple[float, str | None]:
        t0 = time.perf_counter()
        with self.tracer.span("scan", "sources.jdbc"):
            df = self.tracer.call(
                "jdbc_reader.load",
                "sources.jdbc",
                lambda: jdbc_reader(
                    self.spark, url=self.db.url, table="SRC", driver=DRIVER,
                    partitionColumn="ID", lowerBound=0, upperBound=self.src.rows,
                    numPartitions=self.cpus,
                ).load(),
                role="build",
            )
            agg = df.groupBy("GRP").agg(F.count(F.lit(1)).alias("n"), F.sum("VAL").alias("s"))
            rows = self.tracer.call("aggregate", "sources.jdbc", agg.collect, role="exec")
        took = time.perf_counter() - t0
        got = {r["GRP"]: (r["n"], r["s"]) for r in rows}
        want = {g: (int(self.scan_n[g]), int(self.scan_s[g])) for g in range(GROUPS) if self.scan_n[g]}
        if got != want:
            wrong = sum(got.get(g) != v for g, v in want.items())
            return took, f"scan aggregate differs in {wrong} of {len(want)} groups"
        return took, None

    def commit(self) -> tuple[float, str | None]:
        mode = "overwrite" if self.commits % OVERWRITE_EVERY == 0 else "append"
        a, b = (int(x) for x in self.rng.integers(1, VAL_RANGE, 2))
        lo, hi = self.next_id, self.next_id + BATCH_ROWS
        batch = self.spark.range(lo, hi, numPartitions=2).select(
            "id", ((F.col("id") * a + b) % VAL_RANGE).alias("v")
        )
        t0 = time.perf_counter()
        self.tracer.call(
            "write_jdbc_atomic",
            "sinks.transactional",
            lambda: write_jdbc_atomic(
                batch, self.db.url, "TGT", mode=mode, properties={"driver": DRIVER}
            ),
            mode=mode,
            rows=BATCH_ROWS,
        )
        took = time.perf_counter() - t0
        self.commits += 1
        self.next_id = hi
        batch_sum = int(((np.arange(lo, hi, dtype=np.int64) * a + b) % VAL_RANGE).sum())
        if mode == "overwrite":
            self.tgt_rows, self.tgt_sum = 0, 0
        self.tgt_rows += BATCH_ROWS
        self.tgt_sum += batch_sum
        n, s = self.db.query("SELECT COUNT(*), COALESCE(SUM(V), 0) FROM TGT")[0]
        if (n, s) != (self.tgt_rows, self.tgt_sum):
            return took, f"target has {n} rows / sum {s}, expected {self.tgt_rows} / {self.tgt_sum}"
        return took, None
