"""IVF ANN recall pins (the test promised by plans/temporal.py's
ann_ivf_topk registration).

KMeans cell assignments aren't reproducible across engines, so the
driver's DuckDB oracle can't check ann_ivf_topk; recall against the
exact brute-force scan is pinned here instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_mudah_spark.operators.similarity import (
    brute_force_topk,
    ivf_build_index,
    ivf_query_index,
    ivf_topk,
)
from etl_mudah_spark.operators.manifest import manifest_read, manifest_versions
from etl_mudah_spark.tables import load
from tests.conftest import SF_SMOKE


def test_ivf_topk_recall_vs_brute_force(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=4).collect()]
    # The query vector itself must always survive cell pruning, and the
    # probe set should keep a reasonable share of true neighbors.
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_probe_widening_monotone(spark):
    """Probing every cell must recover the exact answer; fewer probes
    can only shrink the candidate set."""
    emb = load(spark, SF_SMOKE, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    full = [
        r["vec_id"]
        for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=8).collect()
    ]
    assert full == exact


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The written partitionBy(cell) layout must prune at PLANNING time:
    the query scan's physical plan carries a PartitionFilters entry on
    cell, and recall matches the on-the-fly ivf_topk path."""
    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_index")
    ivf_build_index(emb, index, n_cells=8)

    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    res = ivf_query_index(spark, index, q, k=10, n_probe=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # partition-column predicate resolved at planning time, not a
    # post-scan filter
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]

    got = [r["vec_id"] for r in res.collect()]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    assert got[0] == 0
    assert len(set(exact) & set(got)) >= 5

    # probing every cell over the index recovers the exact answer
    full = [r["vec_id"] for r in ivf_query_index(spark, index, q, k=10, n_probe=8).collect()]
    assert full == exact


def test_ivf_query_index_df_filtered_matches_filtered_brute(spark, tmp_path):
    """ivf_query_index_df composes a metadata predicate with the cell
    probe in one pruned scan; probing every cell must equal the exact
    FILTERED brute force, and the df-probe variant must not fetch the
    query vector driver-side (it rides a broadcast 1-row relation)."""
    from etl_mudah_spark.operators.similarity import (
        brute_force_topk_df,
        ivf_query_index_df,
        probe_row,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_index")
    ivf_build_index(emb, index, n_cells=8)
    probe = probe_row(emb)
    pred = F.col("label") == 3

    # all cells probed -> exact filtered answer
    full = ivf_query_index_df(
        spark, index, probe, k=10, n_probe=8, where=pred
    )
    exact = brute_force_topk_df(emb.where(pred), probe, k=10)
    assert [tuple(r) for r in full.collect()] == [
        tuple(r) for r in exact.collect()
    ]
    # every survivor satisfies the predicate (pre-filter, not post)
    labels = (
        full.join(emb.select("vec_id", "label"), "vec_id")
        .select("label")
        .collect()
    )
    assert all(r["label"] == 3 for r in labels)


def test_ivf_index_append_matches_full_build_queries(spark, tmp_path):
    """Incremental maintenance: index the even half, append the odd
    half — a full-probe query over the grown index equals the exact
    brute force over the WHOLE corpus, and appended rows landed in the
    cells the existing centroids imply (no re-fit)."""
    from etl_mudah_spark.operators.similarity import (
        brute_force_topk_df,
        ivf_index_append,
        ivf_query_index_df,
        probe_row,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_incr")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    ivf_build_index(even, index, n_cells=8)
    ivf_index_append(spark, index, odd)

    grown = manifest_read(spark, index)
    assert grown.count() == emb.count()
    # every appended vector sits in its nearest existing cell
    probe = probe_row(emb)
    full = ivf_query_index_df(spark, index, probe, k=10, n_probe=8)
    exact = brute_force_topk_df(emb, probe, k=10)
    assert [tuple(r) for r in full.collect()] == [
        tuple(r) for r in exact.collect()
    ]


def test_ivf_index_balance_reports_per_cell_occupancy(spark, tmp_path):
    from etl_mudah_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_balance,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_bal")
    ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), index, n_cells=8)
    ivf_index_append(spark, index, emb.where(F.col("vec_id") % 2 == 1))
    rows = ivf_index_balance(spark, index).collect()
    assert sum(r["n_vectors"] for r in rows) == emb.count()
    ratios = {r["imbalance_ratio"] for r in rows}
    assert len(ratios) == 1 and min(ratios) >= 1.0


def test_ivf_maintain_rebuilds_exactly_once_on_drift(spark, tmp_path):
    """VERDICT r6 item 8: drifted appends (a batch concentrated far
    from every training centroid) push max/mean past the bound;
    ivf_maintain must re-fit EXACTLY once — the drifted mass gets its
    own cells, the ratio drops back under the bound, and a second call
    is a no-op. Under the bound it must never touch the index."""
    import os

    from etl_mudah_spark.operators.similarity import (
        ivf_index_append,
        ivf_maintain,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_m")
    ivf_build_index(emb, index, n_cells=8)

    # healthy index: no-op, files untouched
    before = sorted(os.listdir(index))
    r0 = ivf_maintain(spark, index, max_imbalance=50.0)
    assert r0["rebuilt"] is False and sorted(os.listdir(index)) == before

    # drift: 4x the corpus as FOUR tight far-away blobs (offsets 9, 12,
    # 15, 18 per dim along the all-ones direction). Assignment to the
    # frozen centroids is offset-dominated, so all four blobs land in
    # the SAME hot cell (ratio ~6+); a re-fit trivially separates the
    # pairwise-distant blobs into their own cells (ratio ~1.6). Both
    # margins are wide so the decision is stable against the
    # partitioning-dependent KMeans init sample.
    n = emb.count()
    drift = spark.range(10_000, 10_000 + 4 * n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64),"
        " i -> CAST(9.0 + 3.0 * (id % 4) + 0.1 * sin(id * i * 2.7)"
        " AS FLOAT)) AS embedding",
        "CAST(99 AS INT) AS label",
    )
    ivf_index_append(spark, index, drift)
    from etl_mudah_spark.operators.similarity import ivf_index_balance

    ratio_before = ivf_index_balance(spark, index).first()["imbalance_ratio"]
    assert ratio_before > 4.0

    r1 = ivf_maintain(spark, index, max_imbalance=4.0)
    assert r1["rebuilt"] is True
    assert r1["imbalance_ratio"] == round(ratio_before, 3)
    # contents preserved across the rebuild swap
    rebuilt = manifest_read(spark, index)
    assert rebuilt.count() == 5 * n
    assert 5 <= rebuilt.select("cell").distinct().count() <= 8
    # drift resolved: the re-fit separates the new mass
    ratio_after = ivf_index_balance(spark, index).first()["imbalance_ratio"]
    assert ratio_after < ratio_before
    # second call: no-op (exactly one rebuild for one drift event)
    r2 = ivf_maintain(spark, index, max_imbalance=4.0)
    assert r2["rebuilt"] is False
    assert manifest_versions(index) == [1, 2]  # one publish per drift event


def test_ivf_maintain_recovers_interrupted_publish(spark, tmp_path, publish_crash):
    """A re-fit that crashes inside its version write (data written,
    _centroids not) or between the version write and the pointer flip
    leaves the live index answering exactly as before; the next
    maintain call prunes the orphan (``recovered``) and publishes."""
    from etl_mudah_spark.operators.similarity import ivf_maintain, probe_row
    from etl_mudah_spark.operators.similarity import ivf_query_index_df

    emb = load(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ivf_r")
    ivf_build_index(emb, index, n_cells=8)
    n = emb.count()
    probe = probe_row(emb)

    def answer():
        q = ivf_query_index_df(spark, index, probe, k=10, n_probe=3)
        return [tuple(r) for r in q.collect()]

    for window in ("write", "flip"):
        before, live = answer(), manifest_versions(index)[-1]
        with publish_crash(index, window):
            ivf_maintain(spark, index, max_imbalance=0.0)  # forces a re-fit
        assert manifest_versions(index)[-1] == live + 1  # the orphan
        assert answer() == before
        r = ivf_maintain(spark, index, max_imbalance=0.0)
        assert r["recovered"] == 1 and r["rebuilt"] is True
        assert manifest_versions(index) == [live, live + 1]
        assert manifest_read(spark, index).count() == n
    r = ivf_maintain(spark, index, max_imbalance=50.0)
    assert r["recovered"] == 0 and r["rebuilt"] is False

