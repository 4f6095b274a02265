"""The reuse layer (``operators/reuse.py``) never serves a value for files
that changed, and a warm build runs no job whose answer the corpus files
already fix: table schemas, the near-dup checkpoints, the IVF probe count."""

from __future__ import annotations

import ast
import os
import re
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_jdbc_limit_spark.operators import get_query, reuse
from spark_jdbc_limit_spark.sources.catalog import load_table

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
    job, and the connected-components entry reuses its checkpoints: a hit
    on the near-dup kind and no new miss."""
    kind = "near_dup_candidates"
    verified = get_query("dedup_minhash_verified").builder
    verified(spark, sf_dir)
    assert _jobs(spark, lambda: verified(spark, sf_dir)) == 0
    hits, misses = reuse.hits[kind], reuse.misses[kind]
    get_query("dedup_connected_components").builder(spark, sf_dir)
    assert (reuse.hits[kind], reuse.misses[kind]) == (hits + 1, misses)


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


@pytest.mark.parametrize("module", ["graph", "dedup", "similarity"])
def test_docstrings_hold_values_not_placeholders(module):
    """Docstrings are plain strings: a ``{CONSTANT}`` in one is shown to
    readers as braces, never as the constant's value."""
    path = os.path.join(ROOT, "spark_jdbc_limit_spark", "operators", f"{module}.py")
    tree = ast.parse(open(path).read())
    found = [
        (getattr(node, "name", "<module>"), m)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        for m in re.findall(r"\{[A-Z][A-Z0-9_]+\}", ast.get_docstring(node, clean=False) or "")
    ]
    assert not found, found
