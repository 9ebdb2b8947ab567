"""Idempotent merge/upsert writer (the reference's S6/S7/J1 contract).

Reference behavior (dags/dag.py:250-266): stage a batch, then
``INSERT ... SELECT DISTINCT ON (listing_id) ... ON CONFLICT DO UPDATE``
— insert new keys, refresh the volatile columns (price, mileage,
image_count) and bump updated_at on existing keys. The reference's
DISTINCT ON picks an *arbitrary* survivor; here the survivor is
deterministic (latest listing_date, then highest listing_id).

Vanilla-Spark implementation (no Delta in this environment — with
Delta this is a one-statement MERGE INTO, noted per SURVEY §2 S7):
read target ∪ staged with a source marker, keep-one-per-key by
(priority, order), preserve created_at from the target row while
taking volatile columns from the staged row, stage the result, then
overwrite the table from the stage through the committer. Scale design:

- the union+window is ONE shuffle on the key — the same cost class as
  Delta's merge join;
- at 100 TB the rewrite must not touch every file: partition the table
  (e.g. partitionBy(region_id)) and restrict the rewrite to partitions
  present in the batch — ``merge_upsert`` prunes target partitions via
  a semi-join when ``partition_col`` is given;
- the replace goes through Spark's dynamic partition overwrite and the
  Hadoop FileSystem API (HDFS/S3A-safe), not driver-local file moves.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_mudah_spark.operators.manifest import manifest_current


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works on
    any supported filesystem (local, HDFS, S3A), unlike os/shutil which
    silently assume the driver's local disk."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def merge_dataframes(
    target: DataFrame | None,
    staged: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    *,
    volatile_cols: list[str] | None = None,
    created_col: str | None = "created_at",
    updated_col: str | None = "updated_at",
    batch_ts=None,
) -> DataFrame:
    """Pure merge: returns the post-upsert frame (no I/O).

    Staged rows win over target rows for the same key (last-write-wins,
    dags/dag.py:259-265); among staged duplicates the survivor is the
    max of ``order_cols``. ``created_col`` is preserved from the target
    when the key already exists; ``updated_col`` is bumped to
    ``batch_ts`` only for keys actually touched by the batch.
    """
    for c in (created_col, updated_col):
        if c and c not in staged.columns:
            staged = staged.withColumn(c, F.lit(None).cast("timestamp"))
    staged = staged.withColumn("_src", F.lit(1))
    if target is None:
        both = staged
    else:
        both = target.withColumn("_src", F.lit(0)).unionByName(
            staged, allowMissingColumns=True
        )

    order = [F.desc("_src")] + [F.desc_nulls_last(c) for c in order_cols]
    w = W.partitionBy(*key_cols).orderBy(*order)
    merged = (
        both.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_existing_created",
            F.min(F.when(F.col("_src") == 0, F.col(created_col))).over(
                W.partitionBy(*key_cols)
            )
            if created_col
            else F.lit(None),
        )
        .withColumn(
            "_batch_touched",
            F.max(F.col("_src")).over(W.partitionBy(*key_cols)),
        )
        .where(F.col("_rn") == 1)
    )
    if created_col:
        merged = merged.withColumn(
            created_col,
            F.coalesce(F.col("_existing_created"), F.col(created_col), F.lit(batch_ts)),
        )
    if updated_col and batch_ts is not None:
        merged = merged.withColumn(
            updated_col,
            F.when(F.col("_batch_touched") == 1, F.lit(batch_ts)).otherwise(
                F.col(updated_col)
            ),
        )
    return merged.drop("_src", "_rn", "_existing_created", "_batch_touched")


def merge_upsert(
    spark: SparkSession,
    staged: DataFrame,
    table_path: str,
    key_cols: list[str],
    order_cols: list[str],
    *,
    partition_col: str | None = None,
    created_col: str | None = "created_at",
    updated_col: str | None = "updated_at",
    batch_ts=None,
) -> None:
    """Merge ``staged`` into the parquet table at ``table_path``.

    With ``partition_col``: only partitions present in the batch are
    read+rewritten (dynamic-overwrite shape) — untouched partitions'
    files are never opened, which is what makes this viable at 100 TB.

    I/O goes through the Hadoop FileSystem API and Spark's dynamic
    partition overwrite (``partitionOverwriteMode=dynamic``), never the
    driver's local filesystem — the same code path works on HDFS/S3A.
    The merged frame is staged to a scratch dir first because Spark
    (correctly) refuses to overwrite a path its own plan is reading;
    the final write replaces ONLY the partitions present in the batch
    via the committer, not a hand-rolled directory swap. The stage is
    deleted only once that write succeeds: Spark's overwrite clears
    ``table_path`` before its job runs, so on failure the stage is the
    only complete copy and the raised error names it.

    A table that :func:`~etl_mudah_spark.operators.layout.compact_files`
    published as a manifest table is read through its live version and
    rewritten as a plain directory. With ``partition_col`` that would
    be a dynamic overwrite beside the version dirs, so it raises.
    """
    live = manifest_current(table_path)
    if live is not None and partition_col:
        raise ValueError(
            f"merge_upsert: {table_path!r} is a manifest-published table; "
            "a dynamic partition overwrite would land beside its version "
            "dirs — merge without partition_col or rewrite it plain first"
        )
    fs, table_jpath = _hadoop_fs(spark, table_path)
    exists = fs.exists(table_jpath)
    if exists and partition_col:
        parts = [r[0] for r in staged.select(partition_col).distinct().collect()]
        target = spark.read.parquet(table_path).where(
            F.col(partition_col).isin(parts)
        )
    elif exists:
        target = spark.read.parquet(live or table_path)
    else:
        target = None

    merged = merge_dataframes(
        target,
        staged,
        key_cols,
        order_cols,
        created_col=created_col,
        updated_col=updated_col,
        batch_ts=batch_ts,
    )

    if not exists:
        # Nothing read from table_path — write straight through.
        writer = merged.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(table_path)
        return

    tmp = f"{table_path}__stage_{uuid.uuid4().hex[:8]}"
    stage_writer = merged.write.mode("overwrite")
    if partition_col:
        stage_writer = stage_writer.partitionBy(partition_col)
    stage_writer.parquet(tmp)

    final = spark.read.parquet(tmp)
    writer = final.write.mode("overwrite")
    if partition_col:
        # Dynamic overwrite: only partitions present in `final`
        # (exactly the batch's partitions) are replaced; untouched
        # partitions keep their files.
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_col
        )
    try:
        writer.parquet(table_path)
    except Exception as exc:
        raise RuntimeError(
            f"merge_upsert: writing {table_path!r} failed; the merged "
            f"table is intact at {tmp!r}"
        ) from exc
    tmp_fs, tmp_jpath = _hadoop_fs(spark, tmp)
    tmp_fs.delete(tmp_jpath, True)
