"""SparkSession factory.

One place to configure the engine. Defaults are tuned so the same code
is correct on local[N] test runs and on a large cluster:

- AQE on (runtime coalesce / skew-join / broadcast decisions).
- shuffle.partitions sized from the env, not the 200 default.
- UTC session timezone (parity with the DuckDB oracle, which is
  UTC-naive; see /opt Spark docs on session-TZ timestamps).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).

The reference app has no session concept — its "engine config" is
scattered across a Postgres connection and Streamlit caches
(reference: streamlit/utils/data_loader.py:6-15). Here it is explicit.

It also owns the engine's scratch space (:func:`scratch_dir`): every
dir a builder stages into (stream drains, index builds, rollups, layout
stagings) lives under ONE driver-local root per process, made by
``tempfile.mkdtemp(prefix="etl_mudah_")`` on first use and removed at
interpreter exit. A builder's new scratch replaces its previous one: a
returned DataFrame that reads scratch stays valid until the next call
by the same owner over the same source dir.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None
# (owner, sf_dir) -> the dir scratch_dir last returned for it
_SCRATCH_DIRS: dict[tuple[str, str], str] = {}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "etl_mudah_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — correct
    for local runs; on a real cluster pass ~2-3x total executor cores
    (or rely on AQE coalescing from a higher initial number).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default
        # (true) DELIBERATELY. The tuning guide suggests false
        # (respect the 64MB advisory size) for shuffle-heavy clusters,
        # but advisory-size coalescing prices partitions by BYTES — and
        # the Arrow/pandas_udf stages (SRP projections, PQ scoring) are
        # heavy CPU per byte: at sf0.1 `false` collapsed the LSH
        # near-dup pipeline's few-MB shuffle into one task and took the
        # query from 2.5s to 17s (6.8x). Byte heuristics misprice
        # Python compute; keep parallelism-first.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        # Local mode runs driver and executors in ONE JVM, whose heap
        # defaults to 1g — the first thing to fail is a broadcast build
        # at a bigger scale point ("Not enough memory to build and
        # broadcast"), long before the box (128 GiB here) is remotely
        # used. Applies only when THIS factory launches the JVM; the
        # grading driver's vanilla session keeps its own defaults, so
        # every registered query must still fit there at sf0.01 (the
        # oracle gate runs on the vanilla session).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # The bench's per-query IO counters diff completed-stage totals
        # from the UI store; the 1000-stage default retention evicts
        # early stages partway through a full bench run and corrupts
        # the deltas. Stage summaries are small; retain enough for the
        # whole run.
        .config("spark.ui.retainedStages", "50000")
        # Reliable checkpoints (operators/ckpt.materialize_once with
        # spark.etl_mudah.reliableCheckpoint.dir set) write rdd-N dirs
        # that nothing deletes unless the ContextCleaner may reclaim
        # them once their DataFrame is unreachable. Context-start conf.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if SparkSession.getActiveSession() is None and "SPARK_GRAFT_MASTER" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    elif "SPARK_GRAFT_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(owner: str, sf_dir: str) -> str:
    """A fresh, empty dir for ``owner`` over ``sf_dir`` under the
    process's scratch root (made on first call, removed at interpreter
    exit), after removing the dir this ``(owner, sf_dir)`` got last.

    Lifetime rule: a DataFrame that lazily reads scratch stays valid
    until the next call by the same owner over the same ``sf_dir``, so
    collect or write it before asking its builder again. The owner is
    the public builder or registered query that returns the DataFrame;
    two owners, or one owner over two source dirs, never invalidate
    each other's results.
    """
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="etl_mudah_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        prev = _SCRATCH_DIRS.pop((owner, sf_dir), None)
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        path = tempfile.mkdtemp(prefix=f"{owner}_", dir=_SCRATCH_ROOT)
        _SCRATCH_DIRS[(owner, sf_dir)] = path
        return path
