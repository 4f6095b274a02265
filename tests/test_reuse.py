"""The reuse layer (``operators/reuse.py``) never serves a value for files
that changed, and a warm build runs no job whose answer the corpus files
already fix: table schemas, the near-dup checkpoints, the IVF probe count.
It is the operators' one reuse path: none of them uses Spark's cache."""

from __future__ import annotations

import ast
import glob
import os
import re
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.session import _monkey_patch_RDD

from spark_jdbc_limit_spark.operators import get_query, reuse
from spark_jdbc_limit_spark.sources.catalog import TABLES, load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_sees_in_place_schema_change(spark, tmp_path):
    """A table rewritten in place with an extra column loads with the new
    schema and its rows, not the memoized old schema."""
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(df.collect()) == [(0, "A", "x"), (1, "B", "y"), (2, "C", "z")]


def test_load_table_memoizes_schema_not_relation(spark, sf_dir):
    """A second load of a table runs no job (the schema comes from the
    memo) and still returns a new relation, so self-joins resolve."""
    load_table(spark, sf_dir, "nation")
    assert _jobs(spark, lambda: load_table(spark, sf_dir, "nation")) == 0
    a, b = load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "nation")

    def ids(df) -> str:  # the relation's attributes, with their ids
        return df._jdf.queryExecution().analyzed().output().toString()

    assert ids(a) != ids(b)
    assert a.join(b, a["n_regionkey"] == b["n_regionkey"]).count() == 125


def test_second_round_of_table_loads_runs_no_job(spark, sf_dir):
    """Loading ``events`` changes no other table's schema key: in a fresh
    session that loaded every table once, loading them all again runs no
    job."""
    fresh = spark.newSession()
    # PySpark binds RDD.toDF to the newest session: bind it back
    _monkey_patch_RDD(spark)

    def load_all() -> None:
        for name in TABLES:
            load_table(fresh, sf_dir, name)

    load_all()
    assert _jobs(spark, load_all) == 0


def test_memo_fingerprints_escaped_input_names(spark, tmp_path):
    """A DataFrame's input files are URIs: a table under a directory whose
    name is escaped in them is still fingerprinted, so its value is reused
    while the file is unchanged and recomputed after a rewrite."""
    sf = tmp_path / "a b"
    sf.mkdir()
    path = str(sf / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    kind = ("escaped_names", uuid.uuid4().hex)

    def value(compute) -> int:
        return reuse.memo(spark, kind, load_table(spark, str(sf), "region"), compute)

    assert (value(lambda: 1), value(lambda: 2)) == (1, 1)
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), path)
    assert value(lambda: 3) == 3


def _components(spark, sf: str) -> list:
    return sorted(get_query("graph_connected_components").builder(spark, sf).collect())


def test_connected_components_see_lineitem_rewrite(spark, sf_dir, tmp_path):
    """Rewriting ``lineitem`` in place changes the supplier graph's
    components, built again in the same session, to exactly what a
    never-built copy of the new corpus gives: no Spark cache serves the
    old supplier pairs."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(li, str(sf / "lineitem.parquet"))
    before = _components(spark, str(sf))
    # every line takes the next line's supplier: other baskets, other pairs
    col = li.schema.get_field_index("l_suppkey")
    supp = li.column(col)
    moved = li.set_column(col, "l_suppkey", pa.array(np.roll(supp.to_numpy(), 1), type=supp.type))
    pq.write_table(moved, str(sf / "lineitem.parquet"))
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(moved, str(fresh / "lineitem.parquet"))
    after = _components(spark, str(sf))
    assert after != before
    assert after == _components(spark, str(fresh))


def test_operators_use_no_spark_cache():
    """No operator registers a frame with Spark's cache: its CacheManager
    matches a plan by path, so a file rewritten in place would be served
    from the old blocks. ``reuse.memo`` is the one reuse path."""
    ops = os.path.join(ROOT, "spark_jdbc_limit_spark", "operators")
    found = [
        f"{os.path.relpath(os.path.join(d, name), ops)}:{node.lineno}"
        for d, _, names in os.walk(ops)
        for name in sorted(names)
        if name.endswith(".py")
        for node in ast.walk(ast.parse(open(os.path.join(d, name)).read()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("cache", "persist")
    ]
    assert not found, found


def _pairs(spark, sf: str) -> set[tuple[int, int]]:
    return {(r.d1, r.d2) for r in get_query("dedup_minhash_verified").builder(spark, sf).collect()}


def test_minhash_verified_sees_documents_rewrite(spark, sf_dir, tmp_path):
    """Rewriting ``documents`` in place changes the verified pair set to
    exactly what a never-memoized copy of the new corpus gives."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(docs, str(sf / "documents.parquet"))
    before = _pairs(spark, str(sf))
    # exact copies of ten documents under new ids: ten new pairs at least
    top = max(docs.column("doc_id").to_pylist())
    copies = docs.slice(0, 10)
    copies = copies.set_column(
        copies.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array([top + 1 + i for i in range(10)], type=docs.schema.field("doc_id").type),
    )
    grown = pa.concat_tables([docs, copies])
    pq.write_table(grown, str(sf / "documents.parquet"))
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(grown, str(fresh / "documents.parquet"))
    after = _pairs(spark, str(sf))
    assert after != before
    assert after == _pairs(spark, str(fresh))


def test_warm_near_dup_builds_run_no_jobs(spark, sf_dir):
    """Once a session built the near-dup pipeline, rebuilding it runs no
    job, and the connected-components entry and the minhash estimate
    audit reuse its checkpoints: a hit each on the near-dup kind and no
    new miss."""
    kind = "near_dup_candidates"
    verified = get_query("dedup_minhash_verified").builder
    verified(spark, sf_dir)
    assert _jobs(spark, lambda: verified(spark, sf_dir)) == 0
    hits, misses = reuse.hits[kind], reuse.misses[kind]
    get_query("dedup_connected_components").builder(spark, sf_dir)
    assert (reuse.hits[kind], reuse.misses[kind]) == (hits + 1, misses)
    get_query("dedup_minhash_estimate_audit").builder(spark, sf_dir)
    assert (reuse.hits[kind], reuse.misses[kind]) == (hits + 2, misses)


@pytest.mark.parametrize("seed", [11, 21])
def test_ivf_recall_holds_on_low_recall_corpora(spark, tmp_path, seed):
    """On these seeds' benchmark corpora the query's 4 nearest IVF lists
    hold fewer than IVF_RECALL_MIN_HITS of its exact top-k, so a fixed
    probe count fails the entry's oracle; the per-corpus probe count
    passes it, and memoizes the choice."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from corpus import generate
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))
    from tests.oracle_utils import run_differential

    from spark_jdbc_limit_spark.operators import REGISTRY
    from spark_jdbc_limit_spark.operators.similarity import IVF_NPROBE

    sf = str(tmp_path / "corpus")
    generate(sf, seed, 0.01)
    run_differential(spark, REGISTRY["ann_ivf_topk"], sf)
    nprobe = reuse.memo(
        spark, "ivf_nprobe", load_table(spark, sf, "embeddings"),
        lambda: pytest.fail("no memoized probe count"),
    )
    assert nprobe > IVF_NPROBE


PACKAGE = os.path.join(ROOT, "spark_jdbc_limit_spark")
MODULES = sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True))


def _module_id(path: str) -> str:
    """``sinks.transactional``; an operator module by its bare name."""
    name = os.path.relpath(path, PACKAGE)[: -len(".py")].replace(os.sep, ".")
    return name.removesuffix(".__init__").removeprefix("operators.")


@pytest.mark.parametrize("path", MODULES, ids=[_module_id(p) for p in MODULES])
def test_docstrings_hold_values_not_placeholders(path):
    """Docstrings are plain strings: a ``{CONSTANT}`` in one is shown to
    readers as braces, never as the constant's value."""
    tree = ast.parse(open(path).read())
    found = [
        (getattr(node, "name", "<module>"), m)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        for m in re.findall(r"\{[A-Z][A-Z0-9_]+\}", ast.get_docstring(node, clean=False) or "")
    ]
    assert not found, found
