"""IVF-PQ composite index: coarse partition pruning + residual-PQ
compressed scan (operators/similarity.py ivfpq_*).

Pins: recall vs brute force on the hard uniform fixture, persisted
round-trip parity with the on-the-fly variant, planning-time
partition pruning of the compressed scan, O(batch) append parity,
residual-PQ beating raw-PQ quantization error at equal (m, k), and
determinism of the build.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_mudah_spark.operators import similarity as sim
from etl_mudah_spark.operators.manifest import (
    manifest_read,
    manifest_resolve,
    manifest_versions,
)
from etl_mudah_spark.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def brute_ids(spark, emb):
    probe = sim.probe_row(emb)
    return [r["vec_id"] for r in sim.brute_force_topk_df(emb, probe, k=10).collect()]


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    sim.ivfpq_build_index(emb, path, n_cells=8, m=8, k=16, sample_mod=1)
    return path


def test_ivfpq_recall_vs_brute_force(spark, emb, brute_ids, index):
    # uniform synthetic vectors with neighbors at cosine ~0.3 are the
    # coarse quantizer's worst case (see ann_ivf_topk); 8/10 floor with
    # probe 6/8 — measured 9/10, the miss is cell pruning, not PQ.
    probe = sim.probe_row(emb)
    out = sim.ivfpq_query_index_df(
        spark, emb, index, probe, k=10, n_probe=6, shortlist=100
    )
    got = {r["vec_id"] for r in out.collect()}
    assert len(got & set(brute_ids)) >= 8


def test_ivfpq_topk_df_matches_persisted_index(spark, emb, index):
    # same (seed, cells, books, probes) => identical result sets
    probe = sim.probe_row(emb)
    fly = sim.ivfpq_topk_df(
        emb, probe, k=10, n_cells=8, m=8, n_codes=16, n_probe=6,
        shortlist=100, sample_mod=1,
    )
    idx = sim.ivfpq_query_index_df(
        spark, emb, index, probe, k=10, n_probe=6, shortlist=100
    )
    assert [tuple(r) for r in fly.collect()] == [tuple(r) for r in idx.collect()]


def test_ivfpq_compressed_scan_partition_pruning(spark, index):
    # the per-query scan opens only the probed cells' partitions, and
    # reads codes — never raw vectors
    scan = manifest_read(spark, index).where(F.col("cell").isin([0, 3]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert "embedding" not in scan.columns  # compressed: ids + codes only


def test_ivfpq_append_matches_full_build_queries(spark, emb, brute_ids, tmp_path):
    # build from evens, append odds: the grown index answers like one
    # holding the whole corpus (codebooks/centroids frozen)
    path = str(tmp_path / "index")
    sim.ivfpq_build_index(
        emb.where(F.col("vec_id") % 2 == 0), path, n_cells=8, m=8, k=16,
        sample_mod=1,
    )
    sim.ivfpq_index_append(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    grown = manifest_read(spark, path)
    assert grown.count() == emb.count()
    probe = sim.probe_row(emb)
    out = sim.ivfpq_query_index_df(
        spark, emb, path, probe, k=10, n_probe=6, shortlist=100
    )
    got = {r["vec_id"] for r in out.collect()}
    assert len(got & set(brute_ids)) >= 8


def test_ivfpq_build_deterministic(spark, emb, index, tmp_path):
    # seeded KMeans + ordered codebook sample: a second build writes
    # byte-identical assignments and codes
    path = str(tmp_path / "index2")
    sim.ivfpq_build_index(emb, path, n_cells=8, m=8, k=16, sample_mod=1)
    a = {r["vec_id"]: (r["cell"], tuple(r["pq_codes"]))
         for r in manifest_read(spark, index).collect()}
    b = {r["vec_id"]: (r["cell"], tuple(r["pq_codes"]))
         for r in manifest_read(spark, path).collect()}
    assert a == b


def test_residual_pq_tightens_quantization_error(spark, emb, index):
    # the reason IVF-PQ beats PQ-inside-cells: after subtracting the
    # cell centroid the codebooks quantize a tighter distribution.
    # Reconstruct both ways at equal (m, k) and compare MSE corpus-wide.
    books_raw = sim.pq_train_codebooks(emb, m=8, k=16, sample_mod=1)
    raw_codes = {
        r["vec_id"]: r["pq_codes"]
        for r in sim.pq_encode(emb, books_raw).collect()
    }
    cents = {
        r["cell"]: np.array(r["centroid"])
        for r in spark.read.parquet(f"{manifest_resolve(index)}/_centroids").collect()
    }
    cb = spark.read.parquet(f"{manifest_resolve(index)}/_codebooks").collect()
    books_res = np.empty((8, 16, 8))
    for r in cb:
        books_res[r["subspace"], r["code"]] = r["centroid"]
    idx_rows = {
        r["vec_id"]: (r["cell"], r["pq_codes"])
        for r in manifest_read(spark, index).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["v"])
        for r in emb.select(
            "vec_id", sim.as_double(F.col("embedding")).alias("v")
        ).collect()
    }

    def recon(codes, books):
        return np.concatenate([books[i, codes[i]] for i in range(8)])

    err_raw = err_res = 0.0
    for vid, v in vecs.items():
        xn = v / max(np.linalg.norm(v), 1e-12)
        err_raw += float(((xn - recon(raw_codes[vid], books_raw)) ** 2).sum())
        cell, codes = idx_rows[vid]
        err_res += float(
            ((xn - cents[cell] - recon(codes, books_res)) ** 2).sum()
        )
    assert err_res < err_raw


def test_ivfpq_artifacts_invisible_to_data_scan(spark, index):
    # underscore dirs don't leak into the partitioned scan
    cols = set(manifest_read(spark, index).columns)
    assert cols == {"vec_id", "pq_codes", "cell"}
    assert os.path.isdir(f"{manifest_resolve(index)}/_centroids")
    assert os.path.isdir(f"{manifest_resolve(index)}/_codebooks")


def test_ivfpq_maintain_rebuilds_exactly_once_on_drift(spark, emb, tmp_path):
    # same contract as ivf_maintain (tests/test_similarity_ivf.py) on
    # the composite layout: no-op under the bound, exactly one staged
    # rebuild past it, source_df supplying the vectors the code-only
    # index cannot
    path = str(tmp_path / "index")
    sim.ivfpq_build_index(emb, path, n_cells=8, m=8, k=16, sample_mod=1)
    r0 = sim.ivfpq_maintain(spark, path, emb, max_imbalance=50.0, sample_mod=1)
    assert r0["rebuilt"] is False

    n = emb.count()
    # The composite fits its quantizer on L2-NORMALIZED vectors, so
    # magnitude-offset blobs (the ivf_maintain test's drift) collapse
    # to ONE direction under normalization and a re-fit could never
    # separate them. Directional drift instead: four all-positive
    # blobs, blob j carrying 4x extra mass on coordinates i % 4 == j —
    # pairwise cosine ~0.53 (cleanly separable; at ~0.86 the seeded
    # KMeans left three blobs merged, ratio 4.8) while all four sit
    # far from the random-sign originals, so frozen assignment
    # concentrates them (measured ratio 5.2) and the re-fit splits
    # them 500/500/500/500 (measured 1.6) — wide margins around the
    # 4.0 bound on both sides.
    drift = spark.range(10_000, 10_000 + 4 * n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64),"
        " i -> CAST(9.0 + CASE WHEN i % 4 = id % 4 THEN 27.0 ELSE 0 END"
        " + 0.1 * sin(id * i * 2.7) AS FLOAT)) AS embedding",
    )
    sim.ivfpq_index_append(spark, path, drift)
    corpus = emb.select("vec_id", "embedding").unionByName(drift)
    r1 = sim.ivfpq_maintain(spark, path, corpus, max_imbalance=4.0, sample_mod=1)
    assert r1["rebuilt"] is True
    rebuilt = manifest_read(spark, path)
    assert rebuilt.count() == 5 * n
    assert r1["imbalance_ratio"] > 4.0
    r2 = sim.ivfpq_maintain(spark, path, corpus, max_imbalance=4.0, sample_mod=1)
    assert r2["rebuilt"] is False
    assert r2["imbalance_ratio"] <= r1["imbalance_ratio"]
    assert manifest_versions(path) == [1, 2]  # one publish per drift event


def test_ivfpq_cell_ranking_scale_invariant(spark, emb, index):
    """ADVICE r7: coarse cells are ranked for the probe in the SAME
    normalized space the centroids were fit in, so scaling the probe
    vector (cosine-irrelevant) must not change which cells are probed
    or the final top-k."""
    probe = sim.probe_row(emb)
    big = probe.select(F.transform("_pv", lambda x: x * 50.0).alias("_pv"))
    base = sim.ivfpq_query_index_df(
        spark, emb, index, probe, k=10, n_probe=2, shortlist=100
    )
    scaled = sim.ivfpq_query_index_df(
        spark, emb, index, big, k=10, n_probe=2, shortlist=100
    )
    assert [tuple(r) for r in base.collect()] == [
        tuple(r) for r in scaled.collect()
    ]


def test_ivfpq_maintain_recovers_interrupted_publish(
    spark, emb, tmp_path, publish_crash
):
    # composite-layout twin of the ivf_maintain recovery pin: a crash
    # after the coded data but before the _centroids/_codebooks
    # sidecars, and one before the pointer flip, both leave the live
    # index answering as before; the next call prunes and publishes
    path = str(tmp_path / "index")
    sim.ivfpq_build_index(emb, path, n_cells=8, m=8, k=16, sample_mod=1)
    n = emb.count()
    probe = sim.probe_row(emb)

    def answer():
        q = sim.ivfpq_query_index_df(
            spark, emb, path, probe, k=10, n_probe=3, shortlist=100
        )
        return [tuple(r) for r in q.collect()]

    for window in ("write", "flip"):
        before, live = answer(), manifest_versions(path)[-1]
        with publish_crash(path, window):
            sim.ivfpq_maintain(spark, path, emb, max_imbalance=0.0, sample_mod=1)
        assert manifest_versions(path)[-1] == live + 1  # the orphan
        assert answer() == before
        r = sim.ivfpq_maintain(spark, path, emb, max_imbalance=0.0, sample_mod=1)
        assert r["recovered"] == 1 and r["rebuilt"] is True
        assert manifest_versions(path) == [live, live + 1]
        assert manifest_read(spark, path).count() == n



def test_ivfpq_compaction_keeps_index_sidecars(spark, emb, tmp_path):
    """compact_files over an appended IVF-PQ index carries the live
    version's _centroids, _codebooks and _strata into the new version:
    the index answers identically, stratum counts are unchanged, and
    the data file count falls."""
    import glob

    from etl_mudah_spark.operators.layout import compact_files

    path = str(tmp_path / "index")
    sim.ivfpq_build_index(
        emb.where(F.col("vec_id") % 2 == 0), path, n_cells=8, m=8, k=16,
        sample_mod=1, keep_cols=["label"],
    )
    sim.ivfpq_index_append(
        spark, path, emb.where(F.col("vec_id") % 2 == 1), keep_cols=["label"]
    )
    probe = sim.probe_row(emb)
    labels = sorted(r["label"] for r in emb.select("label").distinct().collect())

    def state():
        answers = [
            [
                tuple(r)
                for r in sim.ivfpq_query_index_df(
                    spark, emb, path, probe, k=10, n_probe=6, shortlist=100,
                    where=where,
                ).collect()
            ]
            for where in (None, F.col("label") == labels[0])
        ]
        strata = {lb: sim.index_stratum_count(path, {"label": lb}) for lb in labels}
        files = glob.glob(f"{manifest_resolve(path)}/cell=*/*.parquet")
        return answers, strata, len(files)

    answers, strata, n_files = state()
    compact_files(spark, path, max_files=1)
    assert manifest_versions(path) == [1, 2]
    after_answers, after_strata, after_files = state()
    assert after_answers == answers and all(answers)
    assert after_strata == strata
    assert after_files < n_files
