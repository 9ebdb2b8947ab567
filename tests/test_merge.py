"""Merge/upsert writer: the reference's idempotency contract
(dags/dag.py:250-266) — double-running must not duplicate; volatile
columns refresh; created_at survives; updated_at bumps only on touch."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_mudah_spark.operators.merge import merge_dataframes, merge_upsert

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
T1 = dt.datetime(2024, 1, 2, 0, 0, 0)
T2 = dt.datetime(2024, 1, 3, 0, 0, 0)

SCHEMA = (
    "listing_id bigint, price double, listing_date timestamp, "
    "region_id string, created_at timestamp, updated_at timestamp"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_merge_insert_update_preserve(spark):
    target = _batch(
        spark,
        [
            (1, 100.0, T0, "r1", T0, T0),
            (2, 200.0, T0, "r1", T0, T0),
        ],
    )
    staged = _batch(
        spark,
        [
            (2, 222.0, T1, "r1", None, None),  # update
            (3, 300.0, T1, "r2", None, None),  # insert
        ],
    )
    out = merge_dataframes(
        target, staged, ["listing_id"], ["listing_date", "listing_id"], batch_ts=T2
    ).orderBy("listing_id")
    rows = {r.listing_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].price == 100.0 and rows[1].updated_at == T0  # untouched
    assert rows[2].price == 222.0  # volatile refreshed (staged wins)
    assert rows[2].created_at == T0  # created_at preserved from target
    assert rows[2].updated_at == T2  # bumped on touch
    assert rows[3].created_at == T2 and rows[3].updated_at == T2  # new key


def test_merge_dedups_staged_batch_deterministically(spark):
    staged = _batch(
        spark,
        [
            (5, 1.0, T0, "r1", None, None),
            (5, 2.0, T1, "r1", None, None),  # later listing_date wins
        ],
    )
    out = merge_dataframes(None, staged, ["listing_id"], ["listing_date", "listing_id"], batch_ts=T2)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].price == 2.0


def test_merge_upsert_idempotent_on_disk(spark, tmp_path):
    path = str(tmp_path / "listings")
    b1 = _batch(spark, [(1, 10.0, T0, "r1", None, None), (2, 20.0, T0, "r2", None, None)])
    merge_upsert(spark, b1, path, ["listing_id"], ["listing_date", "listing_id"],
                 partition_col="region_id", batch_ts=T1)
    # overlapping re-run: same key with newer data + one new key
    b2 = _batch(spark, [(2, 25.0, T1, "r2", None, None), (3, 30.0, T1, "r2", None, None)])
    for _ in range(2):  # running the same batch twice must be a no-op
        merge_upsert(spark, b2, path, ["listing_id"], ["listing_date", "listing_id"],
                     partition_col="region_id", batch_ts=T2)
    out = spark.read.parquet(path)
    rows = {r.listing_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].price == 25.0 and rows[2].created_at == T1
    assert rows[1].price == 10.0 and rows[1].updated_at == T1  # partition r1 untouched


@pytest.mark.parametrize("partition_col", [None, "region_id"])
def test_merge_upsert_first_write(spark, tmp_path, partition_col):
    path = str(tmp_path / "t")
    b = _batch(spark, [(1, 1.0, T0, "r1", None, None)])
    merge_upsert(spark, b, path, ["listing_id"], ["listing_date"],
                 partition_col=partition_col, batch_ts=T1)
    assert spark.read.parquet(path).count() == 1


def test_merge_schema_evolution_new_and_missing_columns(spark):
    """The staged batch may carry columns the target lacks (schema
    evolution — a scraped API adds a field) and may lack columns the
    target has; merge keeps both sides' columns, NULL-filling the gaps
    (unionByName allowMissingColumns in merge_dataframes)."""
    target = _batch(
        spark,
        [(1, 100.0, T0, "7", T0, T0), (2, 200.0, T0, "7", T0, T0)],
    )
    staged = spark.createDataFrame(
        # new column `fuel`, and no region_id at all
        [(2, 250.0, T1, "diesel"), (3, 300.0, T1, "petrol")],
        "listing_id bigint, price double, listing_date timestamp, fuel string",
    )
    out = {
        r["listing_id"]: r
        for r in merge_dataframes(
            target, staged, ["listing_id"], ["listing_date", "listing_id"],
            batch_ts=T1,
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    # untouched row: old columns intact, new column NULL
    assert out[1]["region_id"] == "7" and out[1]["fuel"] is None
    # updated row: staged wins, target-only column becomes NULL for the
    # staged version (no value to carry), new column filled
    assert out[2]["price"] == 250.0 and out[2]["fuel"] == "diesel"
    # inserted row: target-only column NULL, new column present
    assert out[3]["region_id"] is None and out[3]["fuel"] == "petrol"


def test_merge_upsert_keeps_stage_when_final_write_fails(spark, tmp_path):
    """Spark's overwrite clears the table before its job runs; if that
    job then fails, the staged merge is the only complete copy — it
    must survive, and the error must name it."""
    import os
    import re
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "listings")
    b1 = _batch(spark, [(1, 10.0, T0, "r1", None, None), (2, 20.0, T0, "r2", None, None)])
    merge_upsert(spark, b1, path, ["listing_id"], ["listing_date", "listing_id"],
                 batch_ts=T1)
    b2 = _batch(spark, [(2, 25.0, T1, "r2", None, None), (3, 30.0, T1, "r2", None, None)])
    orig = DataFrameWriter.parquet

    def parquet(self, p, *args, **kwargs):
        if p == path:  # the final write: pre-write delete, then a job failure
            shutil.rmtree(path)
            raise RuntimeError("injected job failure")
        return orig(self, p, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="intact at") as ei:
            merge_upsert(spark, b2, path, ["listing_id"],
                         ["listing_date", "listing_id"], batch_ts=T2)
    assert not os.path.exists(path)
    stage = re.search(r"intact at '([^']+)'", str(ei.value)).group(1)
    rows = {r.listing_id: r for r in spark.read.parquet(stage).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].price == 10.0 and rows[1].updated_at == T1
    assert rows[2].price == 25.0 and rows[2].created_at == T1
    assert rows[2].updated_at == T2 and rows[3].created_at == T2


def test_merge_upsert_reads_compacted_table_through_its_live_version(
    spark, tmp_path
):
    """A table compact_maintain republished as a manifest table merges
    from its live version: no `v` column is read or written back."""
    from etl_mudah_spark.operators.layout import compact_maintain

    path = str(tmp_path / "listings")
    rows = [(i, 1.0 * i, T0, "r1", T0, T0) for i in range(1, 5)]
    _batch(spark, rows).repartition(4).write.parquet(path)
    assert compact_maintain(spark, path, max_small_files=2) == 1
    merge_upsert(spark, _batch(spark, [(5, 5.0, T1, "r1", None, None)]),
                 path, ["listing_id"], ["listing_date", "listing_id"],
                 batch_ts=T2)
    out = spark.read.parquet(path)
    assert out.columns == spark.createDataFrame([], SCHEMA).columns
    assert sorted(r.listing_id for r in out.collect()) == [1, 2, 3, 4, 5]


def test_merge_upsert_partitioned_into_manifest_table_raises(spark, tmp_path):
    """A dynamic partition overwrite would land beside the version dirs
    of a manifest-published table, so it is refused up front."""
    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import manifest_read

    path = str(tmp_path / "listings")
    b1 = _batch(spark, [(1, 10.0, T0, "r1", None, None), (2, 20.0, T0, "r2", None, None)])
    merge_upsert(spark, b1, path, ["listing_id"], ["listing_date", "listing_id"],
                 partition_col="region_id", batch_ts=T1)
    compact_files(spark, path)
    b2 = _batch(spark, [(2, 25.0, T1, "r2", None, None)])
    with pytest.raises(ValueError, match="manifest-published"):
        merge_upsert(spark, b2, path, ["listing_id"], ["listing_date", "listing_id"],
                     partition_col="region_id", batch_ts=T2)
    assert sorted(r.price for r in manifest_read(spark, path).collect()) == [10.0, 20.0]
