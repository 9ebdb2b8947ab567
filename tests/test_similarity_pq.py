"""Product-quantization ANN: recall and determinism pins.

PQ has no SQL oracle (the codebook is a trained artifact), so
correctness is pinned here: the ADC-shortlist + exact-re-rank result
must recover nearly all true cosine top-10 neighbors, and the whole
path must be deterministic (keymod sample, fixed init, no RNG).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_mudah_spark.operators import similarity as sim
from etl_mudah_spark.operators.manifest import manifest_read
from etl_mudah_spark.tables import load
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]


def test_pq_recall_vs_brute_force(spark, emb, qvec):
    truth = {
        r["vec_id"]
        for r in sim.brute_force_topk(emb, qvec, k=10).collect()
    }
    books = sim.pq_train_codebooks(emb, m=8, k=64)
    got = {r["vec_id"] for r in sim.pq_topk(emb, books, qvec, k=10, shortlist=100).collect()}
    recall = len(truth & got) / 10
    assert recall >= 0.9, f"PQ recall@10 {recall} < 0.9"


def test_pq_exact_rerank_scores(spark, emb, qvec):
    """Re-ranked output carries EXACT cosine values (identical to the
    brute-force scores for the same ids)."""
    books = sim.pq_train_codebooks(emb, m=8, k=64)
    pq = {r["vec_id"]: r["cosine_sim"] for r in sim.pq_topk(emb, books, qvec, k=10).collect()}
    bf = {r["vec_id"]: r["cosine_sim"] for r in sim.brute_force_topk(emb, qvec, k=500).collect()}
    for vid, s in pq.items():
        assert abs(bf[vid] - s) < 1e-9


def test_pq_deterministic(spark, emb):
    b1 = sim.pq_train_codebooks(emb, m=8, k=64)
    b2 = sim.pq_train_codebooks(emb, m=8, k=64)
    assert np.array_equal(b1, b2)


def test_pq_encode_shape(spark, emb):
    books = sim.pq_train_codebooks(emb, m=8, k=64)
    row = sim.pq_encode(emb, books).first()
    assert len(row["pq_codes"]) == 8
    assert all(0 <= c < 64 for c in row["pq_codes"])


def test_pq_index_build_query_roundtrip(spark, emb, qvec, tmp_path):
    """The persisted-index path returns the same result as the inline
    path, and its ADC scan reads only (id, codes) — never the vectors."""
    from etl_mudah_spark.operators.similarity import pq_build_index, pq_query_index

    idx = str(tmp_path / "pq_idx")
    pq_build_index(emb, idx, m=8, k=64)
    got = pq_query_index(spark, emb, idx, qvec, k=10).collect()
    books = sim.pq_train_codebooks(emb, m=8, k=64)
    want = sim.pq_topk(emb, books, qvec, k=10, shortlist=100).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in got] == [
        (r["vec_id"], r["cosine_sim"]) for r in want
    ]
    # Column-pruning proof: the index scan's ReadSchema carries codes,
    # and no embedding column appears in any scan of the shortlist plan.
    plan = (
        manifest_read(spark, idx)
        .select("vec_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "pq_codes" not in plan.split("ReadSchema")[-1]


def test_pq_query_index_df_filtered_prefilters_compressed_scan(
    spark, emb, tmp_path_factory
):
    """pq_query_index_df with a metadata predicate over keep_cols:
    the filter applies to the COMPRESSED index scan (pre-filter), and
    the result equals pq-shortlisting the filtered corpus directly."""
    idx = str(tmp_path_factory.mktemp("pq_idx") / "index")
    sim.pq_build_index(emb, idx, m=8, k=64, keep_cols=["label"])
    probe = sim.probe_row(emb)
    pred = F.col("label") == 3

    n = emb.count()
    got = sim.pq_query_index_df(
        spark, emb, idx, probe, k=10, shortlist=n, where=pred
    )
    # shortlist == corpus size -> ADC ordering irrelevant, result must
    # equal the exact filtered brute force
    exact = sim.brute_force_topk_df(emb.where(pred), probe, k=10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in exact.collect()
    ]
    # the predicate lands in the INDEX scan (pushed data filter), below
    # the ADC sort
    plan = got._jdf.queryExecution().executedPlan().toString()
    pushed = [seg[:200] for seg in plan.split("PushedFilters:")[1:]]
    assert any("label" in p for p in pushed), pushed


def test_pq_query_index_df_matches_list_probe_path(spark, emb, qvec, tmp_path_factory):
    """The df-probe index query returns the same rows as the original
    list-probe pq_query_index at equal shortlist depth."""
    idx = str(tmp_path_factory.mktemp("pq_idx2") / "index")
    sim.pq_build_index(emb, idx, m=8, k=64)
    got = sim.pq_query_index_df(
        spark, emb, idx, sim.probe_row(emb), k=10, shortlist=100
    )
    want = sim.pq_query_index(spark, emb, idx, qvec, k=10, shortlist=100)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_pq_index_strata_counts_match_corpus(spark, emb, tmp_path):
    """_strata metadata written with keep_cols at build must reproduce
    the per-label Spark counts, sum appended batches, and be readable
    driver-side with zero Spark jobs (VERDICT r11 item 7 — the count
    ann_pq_filtered_topk previously ran eagerly at plan build)."""
    idx = str(tmp_path / "pq_strata")
    base = emb.where(F.col("vec_id") % 3 != 0)
    sim.pq_build_index(base, idx, m=8, k=16, keep_cols=["label"])
    want = {
        r["label"]: r["n"]
        for r in base.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    for label, n in want.items():
        assert sim.index_stratum_count(idx, {"label": label}) == n
    # missing stratum reads as zero, not an error
    assert sim.index_stratum_count(idx, {"label": -999}) == 0


def test_ivfpq_append_extends_strata(spark, emb, tmp_path):
    """ivfpq_index_append appends batch strata; readers SUM, so the
    count equals base + batch without read-modify-write."""
    idx = str(tmp_path / "ivfpq_strata")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    sim.ivfpq_build_index(base, idx, n_cells=4, m=8, k=16, keep_cols=["label"])
    sim.ivfpq_index_append(spark, idx, batch, keep_cols=["label"])
    want = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    for label, n in want.items():
        assert sim.index_stratum_count(idx, {"label": label}) == n


def test_ivfpq_append_keep_cols_mismatch_raises(spark, emb, tmp_path):
    """ADVICE r12: appending WITHOUT keep_cols to a strata-backed index
    silently skipped the _strata append — index_stratum_count then
    undercounted forever with no error. Now both directions of the
    mismatch fail loudly before any rows land."""
    import pytest

    idx = str(tmp_path / "ivfpq_guard")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    sim.ivfpq_build_index(base, idx, n_cells=4, m=8, k=16, keep_cols=["label"])
    with pytest.raises(ValueError, match="keep_cols"):
        sim.ivfpq_index_append(spark, idx, batch)  # omitted
    with pytest.raises(ValueError, match="keep_cols"):
        sim.ivfpq_index_append(spark, idx, batch, keep_cols=["source"])
    # no partial append happened: counts still equal the base's
    want = {
        r["label"]: r["n"]
        for r in base.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    for label, n in want.items():
        assert sim.index_stratum_count(idx, {"label": label}) == n

    # strata-less index + keep_cols on append is the other direction
    idx2 = str(tmp_path / "ivfpq_guard2")
    sim.ivfpq_build_index(base, idx2, n_cells=4, m=8, k=16)
    with pytest.raises(ValueError, match="keep_cols"):
        sim.ivfpq_index_append(spark, idx2, batch, keep_cols=["label"])
    sim.ivfpq_index_append(spark, idx2, batch)  # matching: fine
