"""Structured Streaming surface.

The reference's incremental contract (SURVEY.md §2.8) is a 12-h batch
re-scrape with idempotent upsert — here expressed as real streams:

- ``stream_hourly_event_counts``: file-source stream → watermarked
  tumbling-window aggregation → foreachBatch parquet staging (complete
  mode), driven to completion synchronously with
  ``processAllAvailable``; the returned DataFrame is a lazy read of the
  staged files (never a driver-side collect), comparable against a
  batch/DuckDB oracle.
- ``stream_dedup_events``: watermark + dropDuplicatesWithinWatermark —
  the streaming twin of SURVEY §2 D1.

At production scale the same plans run against Kafka with a real
trigger; the file source here is the test harness (same logical plan,
different source — that is the point of Structured Streaming).
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import os
import shutil
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mudah_spark.session import default_parallelism, scratch_dir
from etl_mudah_spark.tables import normalize_ts, read_parquet, read_raw_events

EVENTS_SCHEMA_TEMPLATE = (
    "event_id bigint, ts {ts}, user_id bigint, event_type string, "
    "value double, props string"
)

# Final StreamingQueryProgress of the last run_stream query —
# diagnostics/test surface (state partition counts, batch durations).
LAST_PROGRESS: dict = {}

_SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"

# user_id of the late sentinel rows _sentinel_stream stages; builders
# filter it from their output.
_SENTINEL_USER = -1


def run_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    *,
    width: int | None,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
) -> None:
    """Run a bounded streaming query to completion: ``fn`` is its
    ``foreachBatch`` sink and ``processAllAvailable`` drains every
    available input (Trigger.AvailableNow semantics). Every streaming
    query of the engine starts here.

    ``width`` is the state width. Streaming state is partitioned by
    spark.sql.shuffle.partitions AT QUERY START and AQE does not
    coalesce it — a vanilla session's default 200 is 200 near-empty
    state-store tasks per micro-batch (measured 2-5x wall-clock on the
    stateful queries). So ``width`` is set before ``start()`` and held
    until after ``stop()``; batch plans built inside ``fn`` on the
    outer session (e.g. merge_upsert's shuffle) see it too. The
    session's prior width is restored on every exit path: later batch
    queries must not inherit a stream's width, because AQE only
    coalesces partitions down, never up. ``width=None`` runs at the
    session width. The final progress lands in :data:`LAST_PROGRESS`.
    """
    prior = spark.conf.get(_SHUFFLE_WIDTH)
    if width:
        spark.conf.set(_SHUFFLE_WIDTH, str(width))
    try:
        writer = stream_df.writeStream.outputMode(output_mode).foreachBatch(fn)
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            # stateOperators[].numShufflePartitions is the ACTUAL state
            # partition count the store committed per trigger — the
            # number ``width`` controls, pinned in
            # tests/test_pipeline_e2e.py at two sizes
            LAST_PROGRESS.clear()
            LAST_PROGRESS.update(q.lastProgress or {})
            q.stop()
    finally:
        spark.conf.set(_SHUFFLE_WIDTH, prior)


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Lazy read of the parquet a stream's batches appended to (schema
    from its footer, no Spark job), or an empty frame of ``schema`` when
    no batch wrote any."""
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    return read_parquet(spark, path)


def state_partitions_for(
    state_bytes: int,
    bytes_per_partition: int = 64 * 1024 * 1024,
    max_partitions: int | None = None,
) -> int:
    """The §13 sizing rule as code: state partitions ~ state volume /
    per-partition memory budget, NEVER the batch shuffle width.

    The per-trigger floor is the state-store commit fanout — ONE
    commit file per STATE partition per trigger — so oversized
    partition counts are pure ledger overhead at small state (measured
    0.74 -> 0.36 s/batch going 32 -> 1 partitions on a ~800-group
    state, BASELINE.md §13) while undersized ones OOM at 100 TB state.
    64 MB/partition default keeps HDFS-backed state snapshots
    executor-memory-friendly; cap with ``max_partitions`` (e.g. the
    cluster's core count) when the estimate is loose."""
    n = max(1, -(-state_bytes // bytes_per_partition))
    if max_partitions is not None:
        n = min(n, max_partitions)
    return n


def events_raw_schema(spark: SparkSession, events_path: str) -> tuple[str, str]:
    """Streaming reads need a declared schema, but the testdata's
    ``ts`` physical encoding varies by generation (see
    tables.read_raw_events). Read the footer once (driver-side
    pyarrow, no Spark job) and return ``(schema_ddl, ts_dtype)``
    matching the file. Pins the session to UTC while here: every
    streaming reader funnels through this, and the NTZ→LTZ
    normalization (plus window bucketing downstream) must not depend
    on the host timezone — same discipline as tables.load."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_dtype = read_raw_events(spark, events_path)[1]
    return EVENTS_SCHEMA_TEMPLATE.format(ts=ts_dtype), ts_dtype


def _drain(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str,
    scratch: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded stream to completion, staging micro-batch output to
    parquet under ``scratch`` (the calling builder's :func:`scratch_dir`)
    via ``foreachBatch``, and return a lazy batch read of the staged
    files.

    This is the scale-safe hand-off from a finished stream to batch
    consumers: the driver only ever holds a path — output lands as
    executor-parallel parquet, never as collected rows (a memory-sink
    ``collect`` is O(result) driver memory, which for e.g. sessionization
    output is O(users × sessions)). ``complete`` mode overwrites the
    staging dir each micro-batch (last batch = full result); ``append``
    mode accumulates per-batch files. ``state_partitions`` is the state
    width (size it to state volume — see :func:`state_partitions_for`,
    the measured §13 rule worth 2.4x on the per-trigger floor at
    dashboard-sized state); default the core count."""
    path = os.path.join(scratch, "result")
    write_mode = "overwrite" if mode == "complete" else "append"

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(path)

    run_stream(
        spark,
        stream_df,
        sink,
        width=state_partitions or default_parallelism(),
        output_mode=mode,
    )
    return _read_or_empty(spark, path, stream_df.schema)


@contextlib.contextmanager
def _sentinel_stream(
    spark: SparkSession, sf_dir: str, scratch: str
) -> Iterator[DataFrame]:
    """The events stream followed by two far-future sentinel files, one
    file per trigger, ``ts`` normalized. Stateful queries that emit
    only once event time passes them (append-mode windows, session
    timeouts, outer-join state) need the sentinels' follow-up
    micro-batches to flush. The file source orders batches by
    modification time under maxFilesPerTrigger=1, so the sentinels get
    strictly increasing mtimes; they are written in the SAME ts
    encoding as the source file so one declared stream schema covers
    all staged files, and carry ``user_id = _SENTINEL_USER``. The
    staging dir under the caller's ``scratch`` is removed when the
    block exits, so drain inside it."""
    ddl, ts_dtype = events_raw_schema(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    staging = os.path.join(scratch, "events")
    os.makedirs(staging)
    try:
        dst = os.path.join(staging, "000_events.parquet")
        shutil.copyfile(os.path.join(sf_dir, "events.parquet"), dst)
        max_ts = spark.read.schema(ddl).parquet(dst).agg(F.max("ts")).first()[0]
        base_mtime = os.stat(dst).st_mtime
        for i, offset_days in enumerate((10, 20), start=1):
            if ts_dtype == "bigint":  # nanos-as-long
                sentinel_ts = max_ts + offset_days * 24 * 3600 * 10**9
            else:
                sentinel_ts = max_ts + datetime.timedelta(days=offset_days)
            sentinel = spark.createDataFrame(
                [(-(10**9) - i, sentinel_ts, _SENTINEL_USER, "sentinel", 0.0, "{}")],
                ddl,
            )
            path = os.path.join(staging, f"{i:03d}_sentinel")
            sentinel.coalesce(1).write.parquet(path)
            for f in os.listdir(path):
                full = os.path.join(path, f)
                if f.endswith(".parquet"):
                    shutil.move(full, os.path.join(staging, f"{i:03d}_sentinel.parquet"))
            shutil.rmtree(path, ignore_errors=True)
            os.utime(
                os.path.join(staging, f"{i:03d}_sentinel.parquet"),
                (base_mtime + 10 * i, base_mtime + 10 * i),
            )
        yield normalize_ts(
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1")
            .parquet(staging),
            ts_dtype,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ddl, ts_dtype = events_raw_schema(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    raw = (
        spark.readStream.schema(ddl)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw, ts_dtype)


def stream_hourly_event_counts(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Tumbling 1-hour windowed counts/sums per event_type, computed by a
    real streaming query and returned as a batch DataFrame.

    Complete output mode, staged to parquet; a 10-minute watermark
    bounds state in the append-mode production variant.
    ``state_partitions`` sizes the state store to state volume
    (:func:`state_partitions_for`) instead of the core-count default —
    the measured 2.4x per-trigger-floor lever at dashboard-sized state
    (BASELINE.md §13).
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "cnt", "total_value")
    )
    scratch = scratch_dir("stream_hourly_event_counts", sf_dir)
    return _drain(agg, spark, "complete", scratch, state_partitions)


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Streaming dedup on event_id within a watermark, counted per type.
    ``state_partitions``: see :func:`state_partitions_for` (§13)."""
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    scratch = scratch_dir("stream_dedup_events", sf_dir)
    result = _drain(deduped, spark, "append", scratch, state_partitions)
    return result.groupBy("event_type").agg(F.count("*").alias("cnt"))


def stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a prior
    view by the same user within 30 minutes.

    Both sides are watermarked and the join condition carries the time
    interval, so Spark can BOUND the join state (a view's state expires
    once the purchase-side watermark passes view_ts + 30 min) — the
    only formulation that survives an unbounded stream; an
    unconstrained stream-stream equi-join would buffer both streams
    forever. Output: per-user attributed-purchase counts, comparable
    to the batch/DuckDB interval-join oracle.
    """
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    scratch = scratch_dir("stream_view_purchase_join", sf_dir)
    result = _drain(joined, spark, "append", scratch)
    # one row per attributed (view, purchase) pair -> distinct purchases
    # per user (a purchase may match several prior views)
    return (
        result.select("p_user", "p_id")
        .distinct()
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("attributed_purchases"))
    )


def stream_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the events stream enriched with the customer
    dimension (user_id = c_custkey), aggregated per nation.

    The static side is re-planned on every micro-batch — that is the
    stream-static contract (a dim refresh lands in the next batch
    without restarting the query) — and it broadcasts, so the stream
    side never shuffles for the join; the only stateful operator is
    the final aggregation. This is the standard "enrich a clickstream
    with its user/account table" production shape, and the one
    streaming join variant the stream-stream interval join
    (stream_view_purchase_join) does not cover.
    """
    from etl_mudah_spark.tables import load

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    enriched = _events_stream(spark, sf_dir).join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    )
    agg = enriched.groupBy("c_nationkey").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
    return _drain(agg, spark, "complete", scratch_dir("stream_enrich_events", sf_dir))


def stream_hourly_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming build of the mergeable-sketch table
    (operators/rollup.py shape): per-hour HLL sketches of user_id
    maintained BY THE STREAM — each micro-batch merges new events into
    the hour's fixed-size sketch state instead of keeping user ids —
    then staged to parquet (sketch bytes are just a binary column).
    Complete mode: the final staging snapshot is the full sketch table,
    ready for batch rollup to any coarser grain without touching the
    event stream again."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count("*").alias("events"),
        )
    )
    scratch = scratch_dir("stream_hourly_user_sketches", sf_dir)
    return _drain(agg, spark, "complete", scratch)


def stream_cms_counters(
    spark: SparkSession,
    sf_dir: str,
    group_cols: list[str],
    value_col: str,
    width: int = 2048,
    depth: int = 4,
    source_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming-maintained Count-Min sketch: each micro-batch builds
    the batch's counter table and MERGES it into the persisted state
    (union + SUM — operators/sketch.py cms_merge_counters). Because the
    CMS is a LINEAR sketch, the maintained state after any prefix of
    batches equals the batch-built sketch of exactly those rows, cell
    for cell — the streaming path needs no reconciliation pass, and
    the pin is exact equality, not a tolerance (tests/test_streaming
    splits the source into multiple files to force real multi-batch
    merging).

    State discipline: counters land in immutable versioned dirs (one
    per micro-batch, the compact_files/manifest publish pattern —
    never an in-place overwrite of a parquet dir a later batch still
    reads); state size is bounded at depth × width rows per group
    forever, the whole point of sketch-backed streaming rollups.
    Returns the final counter table as a batch DataFrame.
    """
    from etl_mudah_spark.operators.sketch import (
        cms_counters,
        cms_merge_counters,
    )

    state_root = scratch_dir("stream_cms_counters", sf_dir)
    latest: dict[str, str | None] = {"path": None}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(state_root, f"v{batch_id}")
        # foreachBatch can RE-DELIVER a batch_id after a transient
        # failure; the merge must be idempotent or cells double-count.
        # A committed _SUCCESS means the publish finished — repoint and
        # return; anything else (absent or torn dir) is rebuilt from
        # the PREVIOUS version with mode=overwrite.
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            latest["path"] = out
            return
        batch_counters = cms_counters(
            batch_df.select(*group_cols, value_col),
            group_cols,
            value_col,
            width,
            depth,
        )
        if latest["path"] is not None:
            prev = read_parquet(batch_df.sparkSession, latest["path"])
            batch_counters = cms_merge_counters(prev, batch_counters, group_cols)
        batch_counters.write.mode("overwrite").parquet(out)
        latest["path"] = out

    matches = sorted(glob.glob(os.path.join(sf_dir, source_glob)))
    if not matches:
        raise FileNotFoundError(
            f"no files match {source_glob!r} under {sf_dir!r}"
        )
    ddl, ts_dtype = events_raw_schema(spark, matches[0])
    reader = spark.readStream.schema(ddl).option("pathGlobFilter", source_glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = normalize_ts(reader.parquet(sf_dir), ts_dtype)
    run_stream(spark, src, apply_batch, width=default_parallelism())
    if latest["path"] is None:
        # empty stream: derive the group columns' REAL types from the
        # source schema (a hardcoded string type would break unions
        # against genuinely-typed counter tables downstream).
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        fields = [src.schema[c] for c in group_cols] + [
            StructField("row", IntegerType()),
            StructField("col", IntegerType()),
            StructField("cnt", LongType()),
        ]
        return spark.createDataFrame([], StructType(fields))
    return read_parquet(spark, latest["path"])


def stream_value_drift_bins(
    spark: SparkSession,
    sf_dir: str,
    split_ts: str = "2024-01-15 00:00:00",
    lo: float = 0.0,
    width: float = 25.0,
    n_bins: int = 11,
) -> DataFrame:
    """Streaming drift monitor: the PSI bin counts maintained BY THE
    STREAM, finished through the exact batch arithmetic.

    The stream groups every event into (side, bin) — reference window
    before ``split_ts``, current after — and keeps the 2·n_bins
    running counts in complete-mode state (state size is the BIN
    DOMAIN, constant regardless of stream length — this is the whole
    reason drift uses fixed bins rather than raw quantiles in a
    streaming setting). The drained counts then feed
    operators/drift.psi_from_counts, the same formulas the batch
    query and the DuckDB oracle compute — streaming == batch, the
    Structured Streaming contract the other stream twins pin.
    """
    from etl_mudah_spark.operators.drift import psi_from_counts

    scratch = scratch_dir("stream_value_drift_bins", sf_dir)
    wide = _stream_side_bin_counts(spark, sf_dir, scratch, split_ts, lo, width, n_bins)
    return psi_from_counts(wide, n_bins)


def _stream_side_bin_counts(
    spark: SparkSession,
    sf_dir: str,
    scratch: str,
    split_ts: str,
    lo: float,
    width: float,
    n_bins: int,
) -> DataFrame:
    """The shared streaming drift front end: run the event stream into
    (side, bin) running counts — constant-size complete-mode state —
    and drain them to the wide ``(bin, ref_cnt, cur_cnt)`` relation
    both drift finishers (PSI terms, binned KS) consume. ``scratch`` is
    the public caller's: one front end, two owners."""
    from etl_mudah_spark.operators.drift import fixed_bin

    split = F.lit(split_ts).cast("timestamp")
    binned = (
        _events_stream(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .groupBy(
            F.when(F.col("ts") < split, F.lit("ref"))
            .otherwise(F.lit("cur"))
            .alias("side"),
            fixed_bin(F.col("value"), lo, width, n_bins).alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    counts = _drain(binned, spark, "complete", scratch)
    return (
        counts.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("side") == "ref", F.col("cnt"))).alias("ref_raw"),
            F.sum(F.when(F.col("side") == "cur", F.col("cnt"))).alias("cur_raw"),
        )
        .select(
            "bin",
            F.coalesce("ref_raw", F.lit(0)).alias("ref_cnt"),
            F.coalesce("cur_raw", F.lit(0)).alias("cur_cnt"),
        )
    )


def stream_value_ks_binned(
    spark: SparkSession,
    sf_dir: str,
    split_ts: str = "2024-01-15 00:00:00",
    lo: float = 0.0,
    width: float = 25.0,
    n_bins: int = 11,
) -> DataFrame:
    """Streaming binned-KS drift monitor: the same constant-size
    (side, bin) stream state as :func:`stream_value_drift_bins`,
    finished through operators/drift.ks_binned_from_counts — the max
    CDF gap at the fixed bin boundaries (a lower bound on the exact
    KS D, which is the price of constant state; the batch query
    events_value_ks_drift reports the unbinned exact statistic)."""
    from etl_mudah_spark.operators.drift import ks_binned_from_counts

    scratch = scratch_dir("stream_value_ks_binned", sf_dir)
    wide = _stream_side_bin_counts(spark, sf_dir, scratch, split_ts, lo, width, n_bins)
    return ks_binned_from_counts(wide, n_bins)


def stream_value_quantile_sketch(
    spark: SparkSession,
    sf_dir: str,
    lo: float = 0.0,
    width: float = 25.0,
    n_bins: int = 40,
) -> DataFrame:
    """Streaming quantile estimation with CONSTANT state: the stream
    maintains the fixed-bin histogram counters
    (operators/sketch.histogram_counters semantics as a streaming
    aggregation — state is the bin domain, never the data), and the
    drained counters answer p50/p95/p99 through
    operators/sketch.histogram_quantiles — the identical interpolation
    the batch rollup computes, so streaming == batch is pinned by the
    shared arithmetic. Exact streaming quantiles would need unbounded
    distinct-value state; the one-bin-width error bound is the price
    of boundedness (same trade as the binned-KS monitor)."""
    from etl_mudah_spark.operators.drift import fixed_bin
    from etl_mudah_spark.operators.sketch import histogram_quantiles

    binned = (
        _events_stream(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .groupBy(
            fixed_bin(F.col("value"), lo, width, n_bins).alias("bin")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    scratch = scratch_dir("stream_value_quantile_sketch", sf_dir)
    counters = _drain(binned, spark, "complete", scratch)
    return histogram_quantiles(
        counters, lo=lo, width=width, quantiles=((1, 2), (19, 20), (99, 100))
    )


def stream_sliding_5min_counts(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Sliding 5-minute / 1-minute-hop window counts maintained by the
    stream: watermarked APPEND mode, so each window's count is emitted
    exactly once, when the watermark proves it complete — the
    streaming form of burst detection, with state bounded by the
    watermark horizon (finalized windows are evicted).

    Append-mode windows only flush when event time PASSES them, and a
    single-file stream's watermark update takes effect one micro-batch
    too late — so the source is staged with the sessionizers' late
    sentinel files (:func:`_sentinel_stream`): two
    far-future rows arrive in follow-up micro-batches, advance the
    watermark past every real window, and land in windows 10+ days
    away from the data, which the caller filters by a literal cutoff.
    """
    scratch = scratch_dir("stream_sliding_5min_counts", sf_dir)
    with _sentinel_stream(spark, sf_dir, scratch) as raw:
        agg = (
            raw.where(F.col("ts").isNotNull())
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
            .agg(F.count("*").cast("bigint").alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n_events",
            )
        )
        return _drain(agg, spark, "append", scratch, state_partitions)
