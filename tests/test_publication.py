"""One table-publication protocol: operators/manifest.py is the only
way the engine replaces a table. These structural pins fail the moment
a directory-rename swap, a ``swap=`` strategy switch or a second
pointer inside one index comes back."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "etl_mudah_spark"


def test_no_directory_rename_in_the_package():
    hits = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "os.rename" in line
    ]
    assert hits == []


def test_no_public_function_takes_a_swap_parameter():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            names = {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)}
            if "swap" in names:
                hits.append(f"{path.relative_to(PKG.parent)}:{node.name}")
    assert hits == []


@pytest.mark.parametrize("kind", ["minhash", "srp", "ivf", "pq", "ivfpq"])
def test_every_persisted_index_is_one_manifest_table(spark, tmp_path, kind):
    """Each persisted dedup/ANN index, built and then appended to where
    its family appends, holds exactly one ``_current`` pointer, at its
    root: one publish replaces the whole index, so no rebuild can
    leave sub-tables of different builds live together."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.plans.datapipe import EMB_DIM
    from etl_mudah_spark.tables import load
    from tests.conftest import SF_SMOKE

    idx = str(tmp_path / kind)
    emb = load(spark, SF_SMOKE, "embeddings")
    even, odd = emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 == 1)
    if kind == "minhash":
        docs = spark.createDataFrame(
            [(0, "a b c d e f"), (1, "a b c d e g"), (2, "u v w x y z")],
            "doc_id bigint, text string",
        )
        dd.minhash_index_build(docs.where("doc_id < 2"), idx)
        dd.minhash_index_append(docs.where("doc_id = 2"), idx)
    elif kind == "srp":
        params = dict(dim=EMB_DIM, n_planes=8, n_tables=4)
        sim.srp_index_build(even, idx, **params)
        sim.srp_index_append(odd, idx, **params)
    elif kind == "ivf":
        sim.ivf_build_index(even, idx, n_cells=4)
        sim.ivf_index_append(spark, idx, odd)
    elif kind == "pq":
        sim.pq_build_index(emb, idx, m=8, k=16, sample_mod=1)
    else:
        sim.ivfpq_build_index(even, idx, n_cells=4, m=8, k=16, sample_mod=1)
        sim.ivfpq_index_append(spark, idx, odd)
    pointers = [
        os.path.relpath(dp, idx) for dp, _, fs in os.walk(idx) if "_current" in fs
    ]
    assert pointers == ["."]
