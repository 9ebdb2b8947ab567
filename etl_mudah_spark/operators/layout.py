"""Physical table layout: bucketing and partitioning for shuffle-free
joins and partition-pruned scans.

The reference's btree indexes (dags/dag.py:319-320) map to LAYOUT in
Spark, not to code (SURVEY.md §4): partition pruning replaces the
selective-read index, bucketing replaces the join index.

- ``write_bucketed_table``: hash-bucket (and optionally sort) a table
  on its join key at write time. Two tables bucketed on the same key
  with the same bucket count join with NO shuffle exchange on either
  side — at 100 TB that turns the nightly fact⨝fact join from the
  cluster's biggest shuffle into a local zip per bucket. Sorted
  buckets also skip the sort phase of the sort-merge join. The same
  layout makes a groupBy on the bucket key exchange-free — measured
  worth 2x on the Q18-class ~1.5M-group aggregate at the x100 point
  (BASELINE.md §17; the write-time rollup `big_orders_preagg` is the
  stronger composition of the same idea).
- ``write_partitioned_table``: hive-style partition directories;
  predicates on the partition column prune at PLANNING time (the
  driver never lists, opens, or schedules unmatched partitions).

Both write real parquet + catalog metadata (``saveAsTable`` with an
explicit path → external table); tests assert the resulting physical
plans (no Exchange under the bucketed join, PartitionFilters on the
pruned scan) rather than trusting the API.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) external table.

    Bucket count discipline at scale: pick n_buckets so one bucket of
    the BIGGER table fits an executor's memory (rows/bucket ≈
    total/n), and keep it identical across co-joined tables — equal
    counts are what let Spark match bucket i ↔ bucket i without an
    exchange.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_partitioned_table(
    df: DataFrame,
    name: str,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` partitioned by ``partition_cols`` (hive layout).

    Partition-column cardinality discipline: hundreds to low thousands
    of directories (region, date), never a high-cardinality key —
    small files kill the scheduler long before they kill I/O.
    """
    (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .partitionBy(*partition_cols)
        .saveAsTable(name)
    )


def drop_table(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def write_range_clustered(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 16,
    zone_cols: Sequence[str] | None = None,
) -> None:
    """Write ``df`` range-clustered on ``sort_col`` into ``n_files``
    files and persist a :func:`build_zone_map` sidecar. Range
    clustering (repartitionByRange + sortWithinPartitions) gives each
    file a narrow, nearly-disjoint [min, max] envelope on the sort
    column — the property that makes the zone map selective."""
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    build_zone_map(df.sparkSession, path, list(zone_cols or [sort_col]))


def build_zone_map(spark: SparkSession, path: str, cols: Sequence[str]) -> None:
    """Persist per-FILE min/max zone maps for ``cols`` under
    ``{path}/_zonemap`` (underscore dir: invisible to table scans,
    same convention as the IVF ``_centroids`` sidecar).

    Why this exists when parquet already has footer min/max: footer
    stats skip ROW GROUPS inside a task, but Spark still lists,
    plans, and SCHEDULES a task for every file — at 100 TB with
    millions of files the scheduling and footer-read overhead is the
    bottleneck the predicate never touches. A zone map is the
    manifest-level answer (what Delta/Iceberg file stats do):
    :func:`zone_pruned_read` consults this (file-count-sized) table
    and hands Spark ONLY the overlapping files, so planning cost
    scales with the matching fraction, not the table. One scan to
    build (groupBy on ``_metadata.file_path``, map-side partials);
    rebuild after appends/compaction — or extend incrementally, since
    per-file rows are immutable once written.
    """
    df = spark.read.parquet(path)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    zm = df.groupBy(
        F.col("_metadata.file_path").alias("file")
    ).agg(*aggs)
    zm.coalesce(1).write.mode("overwrite").parquet(f"{path}/_zonemap")


def zone_pruned_read(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Read only the files whose ``[min_col, max_col]`` envelope
    overlaps ``[lo, hi]``, then apply the exact predicate — identical
    result to ``spark.read.parquet(path).where(col between lo and
    hi)``, but non-overlapping files are never listed into the query
    plan at all (driver-side file pruning, see :func:`build_zone_map`).

    The zone-map consult is a bounded driver read (one row per file).
    NULL envelopes (all-NULL file for ``col``) cannot overlap and are
    pruned; rows with NULL ``col`` are excluded by the predicate
    anyway, so pruning them is semantics-preserving.
    """
    zm = spark.read.parquet(f"{path}/_zonemap")
    files = [
        r["file"]
        for r in zm.where(
            (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
        ).collect()
    ]
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not files:
        full = spark.read.parquet(path)
        return full.where(F.lit(False) & pred)
    return spark.read.parquet(*files).where(pred)


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 10):
    """Z-order (Morton) clustering key over ``cols`` as a Column.

    Each column is min/max-normalized into ``bits`` bits (one bounded
    2·len(cols)-scalar stats job), then the bit planes are interleaved
    — points close in the key are close in EVERY clustered dimension,
    so sorting files by this key gives parquet min/max footer stats
    selectivity on ALL the columns at once. A single-column sort gives
    perfect pruning on that column and none on the others; Z-order
    trades a little per-column locality for locality everywhere — the
    standard lakehouse layout for multi-predicate scan pruning at
    100 TB (same contract as Delta/Iceberg OPTIMIZE ZORDER BY, built
    here from shift/mask Column algebra).

    Numeric and timestamp columns supported (timestamps cluster on
    epoch seconds); NULLs sort first (bucket 0). Re-derive the key
    after large appends — the min/max frame is snapshot at call time.

    ``bits`` auto-scales down so the interleaved key fits a signed
    64-bit long: Spark's ``shiftleft`` wraps its shift amount mod 64,
    so a bit position past 63 would silently SCRAMBLE the interleave
    order instead of overflowing loudly (ADVICE r6). String and other
    non-orderable-as-number dtypes raise — casting them to double
    yields NULL, which would put every row in bucket 0 and quietly
    produce zero clustering on that dimension.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_key needs at least one cluster column")
    dtypes = dict(df.dtypes)
    _NUMERIC_PREFIXES = ("decimal(",)
    _OK = {"tinyint", "smallint", "int", "bigint", "float", "double",
           "timestamp", "timestamp_ntz", "date"}
    for c in cols:
        dt = dtypes[c]
        if dt not in _OK and not dt.startswith(_NUMERIC_PREFIXES):
            raise TypeError(
                f"zorder_key: column {c!r} has dtype {dt!r}; only numeric/"
                "temporal columns cluster meaningfully (a string cast to "
                "double is NULL => bucket 0 for every row). Derive a "
                "numeric key first (e.g. xxhash64, a dictionary code)."
            )
    # highest bit position used is (bits-1)*len(cols) + (len(cols)-1)
    # = bits*len(cols) - 1; keep it <= 62 so the key stays positive.
    bits = min(bits, 62 // len(cols))
    if bits < 1:
        raise ValueError(
            f"zorder_key: {len(cols)} cluster columns cannot interleave "
            "into a 64-bit key with >=1 bit each; cluster on <=62 columns"
        )
    top = (1 << bits) - 1
    norms = []
    stats = df.agg(
        *[
            f
            for c in cols
            for f in (
                F.min(F.col(c).cast("double") if dtypes[c] not in ("timestamp", "date")
                      else F.col(c).cast("timestamp").cast("double")).alias(f"_mn_{c}"),
                F.max(F.col(c).cast("double") if dtypes[c] not in ("timestamp", "date")
                      else F.col(c).cast("timestamp").cast("double")).alias(f"_mx_{c}"),
            )
        ]
    ).first()
    for c in cols:
        d = F.col(c)
        if dtypes[c] in ("timestamp", "date"):
            d = d.cast("timestamp")
        d = d.cast("double")
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        if mn is None or mx is None:
            # all-NULL column (or empty input): every row lands in
            # bucket 0, per the NULLs-first contract — no crash
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        bucket = F.floor((d - F.lit(mn)) / F.lit(span) * (1 << bits))
        norms.append(
            F.when(d.isNull(), F.lit(0))
            .otherwise(F.least(F.lit(top), F.greatest(F.lit(0), bucket)))
            .cast("bigint")
        )
    c_n = len(cols)
    key = F.lit(0).cast("bigint")
    for j in range(bits):
        for i, norm in enumerate(norms):
            key = key + F.shiftleft(
                F.shiftright(norm, j).bitwiseAND(F.lit(1)), j * c_n + i
            )
    return key


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_within_by: Sequence[str] | None = None,
    max_files: int | None = None,
    zorder_by: Sequence[str] | None = None,
    row_group_bytes: int | None = None,
) -> int:
    """Compact a parquet table's small files into ~target-size files,
    returning the new file count.

    The small-files problem is the dominant operational failure of
    long-running ingest at scale: a 12-h micro-batch cadence writing a
    few MB per trigger turns a year of data into ~10^5 files, and scan
    planning (listing + footer reads + one task per tiny split) starts
    to cost more than the I/O. Compaction = read → repartition to
    ceil(bytes/target) → rewrite. With ``sort_within_by``, rows are
    clustered within each output file so parquet min/max stats become
    selective again (the layout-level substitute for the reference's
    btree index on listing_date, SURVEY.md §4).

    Hive-partitioned tables (``k=v/`` dirs, worked out from the layout)
    and multi-table indexes (MinHash ``bands/`` + ``shingles/``, SRP
    ``buckets/`` + ``vectors/``) compact as ONE table: every leaf dir
    holding data is rewritten with its own bytes/target file count, so
    the partition columns and the planning-time pruning they buy
    survive the rewrite. Top-level ``_`` sidecar dirs describe the
    rows, not their files (an index's ``_centroids``, ``_codebooks``,
    ``_strata``), and are copied into the new version unchanged; a
    ``_zonemap`` names the old files and is dropped (rebuild it).

    The rewrite publishes through operators/manifest.py: it lands in a
    fresh versioned directory under ``path`` and one atomic
    ``_current`` pointer write makes it live — readers resolve the
    pointer (``manifest_resolve``) and never see a partial table; a
    crash before the flip leaves an orphan the next publish prunes.
    The first compaction migrates a plain parquet directory in place.
    No appender may write to ``path`` while the compaction runs.

    ``row_group_bytes`` caps the parquet row-group size of the
    rewritten files (default: parquet's 128 MB). Row groups are the
    SPLIT granularity: a 100 MB file written as one row group is one
    scan task no matter how many cores exist, because a parquet reader
    assigns each row group to the byte-range split holding its
    midpoint. Compacting into big files for listing/planning economy
    therefore needs row groups sized for intra-file parallelism —
    ~16-32 MB keeps a 32-core box saturated on a handful of files
    while staying far above the footer-overhead floor. (Measured here:
    the x100 bench point's 14 x 106 MB single-row-group lineitem
    pinned scans to 14 of 32 cores.)
    """
    import math
    import os
    import shutil

    from etl_mudah_spark.operators.manifest import (
        manifest_files,
        manifest_publish,
        manifest_resolve,
    )

    if zorder_by and sort_within_by:
        raise ValueError(
            "pass either zorder_by or sort_within_by, not both — the "
            "Z-order layout replaces the single-key sort, and silently "
            "dropping the requested sort would silently drop its "
            "pruning downstream"
        )
    data_path = manifest_resolve(path)

    def data_files(d: str) -> list[str]:
        return [
            os.path.join(d, f)
            for f in os.listdir(d)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
        ]

    def rewrite(src: str, dst: str) -> None:
        size = sum(os.path.getsize(f) for f in data_files(src))
        n_files = max(1, math.ceil(size / target_file_bytes))
        if max_files is not None:
            # Optional fan-out ceiling: files always track BYTES (a fixed
            # split makes tiny tables slower — measured in bench.py), the
            # cap only bounds the count for pathologically small targets.
            n_files = min(n_files, max_files)
        df = spark.read.parquet(src)
        if zorder_by:
            # GLOBAL clustering: range-partition on the Morton key so each
            # output file owns a contiguous z-range (a hyper-rectangle-ish
            # region of the clustered dims), then sort within — footer
            # min/max stats become selective on every zorder column.
            key = zorder_key(df, zorder_by)
            out = (
                df.withColumn("_zkey", key)
                .repartitionByRange(n_files, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        else:
            out = df.repartition(n_files)
            if sort_within_by:
                out = out.sortWithinPartitions(*sort_within_by)
        writer = out.write.mode("overwrite")
        if row_group_bytes is not None:
            writer = writer.option("parquet.block.size", str(row_group_bytes))
        writer.parquet(dst)

    def write(new_dir: str) -> None:
        # leaf dirs holding data: "." for a flat table, "k=v[/k2=v2]"
        # per partition of a hive-partitioned one (listed here, after
        # the publish pruned any orphan version dir of a crashed run)
        parts = []
        for dp, dirs, _ in os.walk(data_path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            if data_files(dp):
                parts.append(os.path.relpath(dp, data_path))
        for rel in parts or ["."]:
            rewrite(
                os.path.join(data_path, rel),
                os.path.normpath(os.path.join(new_dir, rel)),
            )
        for d in os.listdir(data_path):
            src = os.path.join(data_path, d)
            if d.startswith("_") and d != "_zonemap" and os.path.isdir(src):
                shutil.copytree(src, os.path.join(new_dir, d))

    manifest_publish(path, write)
    return len(manifest_files(path))


def filtered_scan_bytes_bound(path: str, col: str, gt: float) -> int | None:
    """Upper bound, in COMPRESSED bytes, of the rows satisfying
    ``col > gt`` under ``path`` — a driver-side parquet FOOTER read
    (pyarrow metadata only, zero Spark jobs, zero data pages).

    Row groups whose ``max(col) <= gt`` provably contribute no rows;
    the bound sums the compressed bytes of every other row group. On a
    file laid out range-sorted by ``col`` (e.g. the Q18 rollup) the
    bound is tight: only the groups straddling/above the threshold
    count. Returns ``None`` when any row group lacks min/max stats for
    ``col`` — no claim is made, callers must fall back to the
    planner's own estimate.

    Why it exists (round 15): Spark sizes a filtered scan at the FULL
    file bytes (non-CBO `Filter` keeps its child's estimate), so a
    provably-tiny filtered side misses the broadcast threshold, the
    planner picks sort-merge, and the BIG side pays a full shuffle
    write before AQE's runtime conversion can rescue the fetch. The
    footer bound restores the decision the statistics already support
    — and stays honest at scale: when the filtered set really is big
    (e.g. 100 TB Q18: ~1.5% of orders is GBs), the bound says so and
    no broadcast hint is applied.
    """
    import pyarrow.parquet as pq

    from etl_mudah_spark.operators.manifest import manifest_files

    files = manifest_files(path)
    if not files:
        return None
    total = 0
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        try:
            idx = md.schema.to_arrow_schema().get_field_index(col)
        except KeyError:
            return None
        if idx < 0:
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            stats = rg.column(idx).statistics
            if stats is None or not stats.has_min_max:
                return None
            if stats.max > gt:
                total += sum(
                    rg.column(c).total_compressed_size
                    for c in range(rg.num_columns)
                )
    return total


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold as bytes (the JVM's own
    size-string parser, so "10MB"/"10485760b" both work)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )
    except Exception:
        return 10 * 1024 * 1024


def count_data_files(path: str) -> int:
    """Visible data files under ``path`` (manifest-aware: counts the
    LIVE version when the directory is manifest-published), the metric
    :func:`compact_maintain` acts on."""
    from etl_mudah_spark.operators.manifest import manifest_files

    return len(manifest_files(path))


def compact_maintain(
    spark: SparkSession,
    path: str,
    max_small_files: int = 64,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_within_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
) -> int | None:
    """Measure-then-act compaction policy (the layout twin of
    ``similarity.ivf_maintain``): count the table's data files and
    rewrite ONLY when the count exceeds ``max_small_files``; a healthy
    table is a no-op costing one directory listing — no Spark job, no
    read amplification. Returns the new file count after a rewrite,
    ``None`` when nothing ran.

    This is the piece a streaming ingest loop schedules after every
    N batches: the merge/append writers create files at trigger
    cadence, and WHETHER that has become a problem is a property of
    the file count, not of time. The rewrite is a manifest publish
    (:func:`compact_files`), so readers never need quiescing.
    """
    n = count_data_files(path)
    if n <= max_small_files:
        return None
    return compact_files(
        spark,
        path,
        target_file_bytes=target_file_bytes,
        sort_within_by=sort_within_by,
        zorder_by=zorder_by,
    )
