"""Round-15 optimization pins: the plan-shape fixes stay fixed.

Each test pins an internal an optimization changed, not a result
(results are pinned by the oracle suite): the one-shingle-pass
boundary in minhash_near_duplicates, and the materialize_once helper's
reliable-checkpoint escape hatch (the 100 TB fault-tolerance knob).
"""

from __future__ import annotations

import gc
import glob
import os
import tempfile
import time

from pyspark.sql import functions as F

from etl_mudah_spark.operators.ckpt import RELIABLE_DIR_CONF, materialize_once
from tests.conftest import SF_SMOKE, conf_set


def test_minhash_near_dup_single_shingle_pass(spark):
    # The naive composition shingles the corpus three times (signature
    # pipeline + both verification sides). The materialize-once
    # boundary makes every consumer read the checkpointed (id, shingle
    # array) pass: the executed plan holds NO parquet scan at all —
    # losing the boundary re-introduces one scan per consumer.
    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.tables import load

    q = dd.minhash_near_duplicates(
        load(spark, SF_SMOKE, "documents"), num_hashes=32, bands=8, threshold=0.2
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0


def test_ngram_jaccard_single_shingle_pass_and_singleton_prune(spark):
    # One shingle pass: sizes is size(array) off the checkpointed base,
    # the index explodes the same base — no parquet scan survives in
    # the executed plan. Singleton prune: the df-cap aggregation also
    # drops _df < 2 (a singleton shingle cannot produce a pair), which
    # must ride the SAME aggregate, not add a second one.
    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.tables import load

    q = dd.ngram_jaccard_pairs(
        load(spark, SF_SMOKE, "documents"), threshold=0.2, max_shingle_df=50
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0
    assert ">= 2" in plan and "<= 50" in plan


def test_tfidf_materializes_wgt_once(spark):
    # wgt (tf x idf) has its own boundary on top of tf's: all three
    # consumers (norms + both posting sides) read the checkpointed
    # RDD, so NO parquet scan and no repeated dfreq/idf subtree
    # survives in the executed plan. Losing the boundary re-runs the
    # aggregation + join per consumer (measured 9x at the x10 staging).
    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.tables import load

    q = dd.tfidf_cosine_pairs(
        load(spark, SF_SMOKE, "documents"), term_n=2, threshold=0.5,
        min_df=2, max_df=60,
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert plan.count("ExistingRDD") >= 3


def test_filtered_scan_bytes_bound_range_sorted(spark, tmp_path):
    # A range-sorted file: row groups whose max <= threshold must
    # contribute ZERO bytes to the bound; groups above it all count.
    from etl_mudah_spark.operators.layout import (
        broadcast_threshold_bytes,
        filtered_scan_bytes_bound,
    )

    path = str(tmp_path / "rollup")
    (
        spark.range(100000)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .repartitionByRange(8, "v")
        .sortWithinPartitions("v")
        .write.parquet(path)
    )
    full = filtered_scan_bytes_bound(path, "v", -1.0)
    tail = filtered_scan_bytes_bound(path, "v", 99990.0)
    nothing = filtered_scan_bytes_bound(path, "v", 1e12)
    assert full and tail and full > tail > 0
    assert nothing == 0
    # missing column -> no claim
    assert filtered_scan_bytes_bound(path, "nope", 0.0) is None
    assert broadcast_threshold_bytes(spark) > 0


def test_big_orders_preagg_broadcasts_proven_small_rollup(spark):
    # At smoke scale the footer bound proves the filtered rollup tiny,
    # so the plan must carry NO hash-partitioning exchange: the orders
    # side is never shuffled (the x100 win; at real scale the bound
    # grows and the hint simply does not fire).
    from etl_mudah_spark.plans import registry

    df = registry.REGISTRY["big_orders_preagg"].spark_fn(spark, SF_SMOKE)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") == 0


def test_big_orders_preagg_hint_gated_by_threshold(spark):
    # The broadcast hint is metadata-GATED, not unconditional: shrink
    # the session threshold below the footer bound and the hint must
    # not be applied (the 100 TB behaviour, where the filtered set is
    # GBs and the bound says so).
    from etl_mudah_spark.plans import registry

    with conf_set(spark, "spark.sql.autoBroadcastJoinThreshold", "1b"):
        df = registry.REGISTRY["big_orders_preagg"].spark_fn(spark, SF_SMOKE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed


def test_materialize_once_local_by_default(spark):
    df = materialize_once(spark.range(10).withColumn("v", F.col("id") * 2))
    assert df.count() == 10
    assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


def test_materialize_once_reliable_when_configured(spark):
    # With the knob set, the boundary is a RELIABLE checkpoint: RDD
    # block files land under the configured directory (and survive
    # executor loss — the property the local variant trades away).
    ckdir = tempfile.mkdtemp(prefix="reliable_ck_")
    spark.conf.set(RELIABLE_DIR_CONF, ckdir)
    try:
        df = materialize_once(spark.range(10).withColumn("v", F.col("id") * 2))
        assert df.count() == 10
        written = glob.glob(os.path.join(ckdir, "**", "part-*"), recursive=True)
        assert written, f"no reliable checkpoint files under {ckdir}"
    finally:
        spark.conf.unset(RELIABLE_DIR_CONF)


def test_materialize_once_reliable_reuses_one_checkpoint_dir(spark):
    # setCheckpointDir creates a fresh UUID subdir per call; repeated
    # boundaries under one configured dir must share a single subdir
    # instead of leaking one per call.
    ckdir = tempfile.mkdtemp(prefix="reliable_ck_")
    with conf_set(spark, RELIABLE_DIR_CONF, ckdir):
        for n in (10, 11, 12):
            assert materialize_once(spark.range(n)).count() == n
    assert len(os.listdir(ckdir)) == 1


def test_materialize_once_reliable_checkpoints_are_cleaned(spark):
    # The session's ContextCleaner deletes a reliable boundary's rdd-N
    # dir once its DataFrame is unreachable; without
    # spark.cleaner.referenceTracking.cleanCheckpoints every boundary
    # stays on disk for the life of the application.
    ckdir = tempfile.mkdtemp(prefix="reliable_ck_")
    with conf_set(spark, RELIABLE_DIR_CONF, ckdir):
        for n in range(5):
            assert materialize_once(spark.range(10 + n)).count() == 10 + n

    def left():
        return glob.glob(os.path.join(ckdir, "*", "rdd-*"))

    deadline = time.monotonic() + 60
    while left() and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert left() == []
