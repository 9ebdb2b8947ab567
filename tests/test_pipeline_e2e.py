"""The production pipeline, end to end, as ONE composed test:

    ingest batch → quarantine split → merge-upsert into the table →
    file-count compaction policy → CDC diff vs the previous snapshot →
    incremental refresh of the published dashboard aggregate

Every stage is an operator this repo ships; the point of the test is
the COMPOSITION contract — each stage's output schema/semantics feed
the next with no glue beyond column selection, and the maintained
aggregate stays exactly equal to a from-scratch recompute after every
cycle. This is the switch-from-the-reference story: the reference's
Airflow DAG (scrape → overwrite Postgres → dashboard rescans) becomes
validate → merge → version → diff → O(|changes|) refresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_mudah_spark.operators.cdc import table_diff
from etl_mudah_spark.operators.checks import (
    in_range,
    not_null,
    split_quarantine,
)
from etl_mudah_spark.operators.ivm import incremental_agg, summing_agg
from etl_mudah_spark.operators.layout import compact_maintain, count_data_files
from etl_mudah_spark.operators.manifest import manifest_publish, manifest_read
from etl_mudah_spark.operators.merge import merge_upsert

_GROUP, _SUMS = ["region"], {"total_price": "price"}


def _checks():
    # built lazily: Column expressions need an active SparkSession,
    # which doesn't exist at module collection time
    return [not_null("region"), in_range("price", 0, 1_000_000)]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "listing_id long, region string, price double, ts long"
    ).withColumn("price", F.col("price").cast("decimal(18,6)"))


def _snapshot(spark, table_path):
    return spark.read.parquet(table_path).select("listing_id", "region", "price")


def test_full_pipeline_two_cycles(spark, tmp_path):
    table = str(tmp_path / "listings")
    rejects_path = str(tmp_path / "rejects")
    agg_base = str(tmp_path / "dashboard_agg")

    # ---- cycle 1: first ingest ------------------------------------
    b1 = _batch(
        spark,
        [
            (1, "north", 100.0, 10),
            (2, "north", 200.0, 10),
            (3, "south", 300.0, 10),
            (4, None, 400.0, 10),      # reject: null region
            (5, "south", -5.0, 10),    # reject: negative price
        ],
    )
    clean, rejects = split_quarantine(b1, _checks())
    rejects.write.mode("append").parquet(rejects_path)
    merge_upsert(
        spark, clean, table, key_cols=["listing_id"], order_cols=["ts", "listing_id"]
    )
    v1 = _snapshot(spark, table)
    # bootstrap the published dashboard aggregate from the snapshot
    manifest_publish(
        agg_base,
        lambda d: summing_agg(v1, _GROUP, _SUMS).write.parquet(d),
    )
    assert v1.count() == 3  # the two bad rows never reached the table
    assert spark.read.parquet(rejects_path).count() == 2

    # ---- cycle 2: update + insert + a re-sent reject --------------
    b2 = _batch(
        spark,
        [
            (2, "south", 250.0, 20),   # update: migrates north -> south
            (6, "north", 600.0, 20),   # insert
            (7, None, 700.0, 20),      # reject again
        ],
    )
    v1_cached = v1.collect()  # pre-merge image for the diff below
    v1 = spark.createDataFrame(v1_cached, v1.schema)
    clean2, rejects2 = split_quarantine(b2, _checks())
    rejects2.write.mode("append").parquet(rejects_path)
    merge_upsert(
        spark, clean2, table, key_cols=["listing_id"], order_cols=["ts", "listing_id"]
    )
    v2 = _snapshot(spark, table)

    # CDC: diff the snapshots, refresh the published aggregate from
    # the diff alone, republish — and it must equal the recompute.
    diff = table_diff(v1, v2, ["listing_id"], compare_cols=["region", "price"])
    assert {r["change_type"] for r in diff.collect()} == {"insert", "update"}
    stored = manifest_read(spark, agg_base)
    refreshed = incremental_agg(stored, diff, _GROUP, _SUMS)
    manifest_publish(agg_base, lambda d: refreshed.write.parquet(d), keep=1)

    def canon(df):
        return {
            r["region"]: (r["cnt"], float(r["total_price"]))
            for r in df.collect()
        }

    assert canon(manifest_read(spark, agg_base)) == canon(
        summing_agg(v2, _GROUP, _SUMS)
    )
    # north lost listing 2 (migration) but gained 6; south gained 2
    assert canon(manifest_read(spark, agg_base))["south"] == (2, 550.0)

    # ---- layout maintenance: policy fires only when fragmented ----
    assert compact_maintain(spark, table, max_small_files=256) is None
    frag = str(tmp_path / "frag")
    # a 4-row table can't fragment; simulate a trigger-cadence ingest
    # history with a wider frame
    spark.range(0, 3000).selectExpr("id", "id % 5 AS region").repartition(
        30
    ).write.parquet(frag)
    assert count_data_files(frag) == 30
    assert compact_maintain(spark, frag, max_small_files=8) <= 8

    # rejects kept full fidelity for triage
    tags = {
        tuple(sorted(r["violated"]))
        for r in spark.read.parquet(rejects_path).collect()
    }
    assert tags == {("not_null(region)",), ("in_range(price)",)}


@pytest.mark.usefixtures("spark")
def test_pipeline_merge_is_idempotent_under_replay(spark, tmp_path):
    """The at-least-once edge: re-merging the same cleaned batch is a
    no-op on the table, so a crashed-then-retried cycle cannot double
    rows (the property the streaming foreachBatch relies on)."""
    table = str(tmp_path / "t")
    b = _batch(spark, [(1, "north", 100.0, 10), (2, "south", 200.0, 10)])
    clean, _ = split_quarantine(b, _checks())
    for _ in range(2):
        merge_upsert(
            spark, clean, table,
            key_cols=["listing_id"], order_cols=["ts", "listing_id"],
        )
    assert spark.read.parquet(table).count() == 2


def test_state_partitions_knob_sizes_state_store(spark):
    """BASELINE.md §13 as API (VERDICT r11 item 9): the builders'
    ``state_partitions`` knob must control the ACTUAL state-store
    partition count (one commit file per partition per trigger — the
    measured per-trigger floor), pinned at two sizes via the final
    StreamingQueryProgress. Results must be identical at any width."""
    from etl_mudah_spark.streaming import pipeline as pl
    from tests.conftest import SF_SMOKE

    results = {}
    for n in (2, 5):
        df = pl.stream_hourly_event_counts(
            spark, SF_SMOKE, state_partitions=n
        )
        results[n] = {
            (r["hour_start"], r["event_type"]): (r["cnt"], r["total_value"])
            for r in df.collect()
        }
        ops = pl.LAST_PROGRESS.get("stateOperators") or []
        assert ops, "no stateOperators in final progress"
        assert all(op["numShufflePartitions"] == n for op in ops), (
            n, [op["numShufflePartitions"] for op in ops]
        )
    assert results[2] == results[5]


def test_state_partitions_knob_does_not_leak_into_session(spark):
    """ADVICE r12 (medium): the builders size
    spark.sql.shuffle.partitions for the stream's state AT QUERY START,
    but must restore the session default afterward — AQE only coalesces
    partitions DOWN, so a leaked width of 2 would underparallelize
    every later batch shuffle planned in this session. Covers both the
    pipeline drain path and the ingest foreachBatch path."""
    from etl_mudah_spark.streaming import pipeline as pl
    from tests.conftest import SF_SMOKE

    default = spark.conf.get("spark.sql.shuffle.partitions")
    pl.stream_hourly_event_counts(spark, SF_SMOKE, state_partitions=2).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == default

    # the no-knob path resizes to core count and must restore too
    pl.stream_dedup_events(spark, SF_SMOKE).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == default


def test_builder_exception_restores_session_width(spark):
    """ADVICE r13 (low): a builder that fails before its stream starts
    must leave the session default, and the NEXT builder must still
    restore the true default rather than a leaked width. Exercised by
    pointing a builder at a dir with no events file (fails at stream
    construction)."""
    import pytest

    from etl_mudah_spark.streaming import pipeline as pl
    from tests.conftest import SF_SMOKE

    default = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception):
        pl.stream_hourly_event_counts(
            spark, "/nonexistent-sf-dir", state_partitions=2
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == default

    # and the next builder still restores the TRUE default
    pl.stream_dedup_events(spark, SF_SMOKE, state_partitions=3).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == default


def test_ingest_state_partitions_restores_session_width(spark, tmp_path):
    """The ingest twin of the leak test: stream_ingest_listings at
    state_partitions=1 must leave the session default untouched."""
    import json
    import os

    from etl_mudah_spark.streaming.ingest import stream_ingest_listings

    drop = tmp_path / "drop"
    drop.mkdir()
    row = {
        "id": 1,
        "attributes": {
            "subject": "x", "price": 1.0, "brand": "b", "model": "m",
            "mileage": "0 - 10000", "manufactured_year": "2020",
            "region_name": "north", "list_time": "2024-01-01 00:00:00",
        },
    }
    (drop / "b0.json").write_text(json.dumps(row) + "\n")
    default = spark.conf.get("spark.sql.shuffle.partitions")
    stream_ingest_listings(
        spark,
        drop_dir=str(drop),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        state_partitions=1,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == default
    assert os.path.exists(str(tmp_path / "table"))


def test_state_partitions_for_sizing_rule():
    from etl_mudah_spark.streaming.pipeline import state_partitions_for

    mb = 1024 * 1024
    assert state_partitions_for(0) == 1            # floor: never 0
    assert state_partitions_for(10 * mb) == 1      # dashboard-sized
    assert state_partitions_for(65 * mb) == 2      # ceil division
    assert state_partitions_for(64 * 64 * mb) == 64
    assert state_partitions_for(64 * 64 * mb, max_partitions=32) == 32


def test_stream_doc_curation_gate_outcomes(spark, tmp_path):
    """Pin the gate's per-doc decisions across shard boundaries:
    first-arrival-wins dedup (cross-shard AND within-shard), quality
    rejection, and the deliberate contract that a quality-REJECTED
    doc's key is NOT indexed — a later clean doc with the same
    40-char prefix is new content, not a duplicate."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.streaming.ingest import stream_doc_curation_gate

    good_a = " ".join(f"alpha{i}" for i in range(40))
    junk = "tiny doc " + "x" * 50  # >40 chars, 3 tokens -> quality fail
    rows = [
        (0, good_a, "s0"),                            # accepted
        (1, good_a + " tail0 tail1", "s0"),           # dup of 0 (same shard)
        (2, junk, "s1"),                              # rejected_quality
        (3, junk[:40] + " " + " ".join(f"beta{i}" for i in range(40)), "s1"),
        # 3 shares doc 2's key but doc 2 was never indexed -> accepted
        (4, good_a + " tail2 tail3 tail4", "s2"),     # dup of 0 (later shard)
        (5, " ".join(f"gamma{i}" for i in range(40)), "s2"),  # accepted
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    spark.createDataFrame([], "k string").write.parquet(str(tmp_path / "keys"))
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).repartition(1).write.mode("append").parquet(str(tmp_path / "drop"))
    acc, rej = stream_doc_curation_gate(
        spark,
        str(tmp_path / "drop"),
        str(tmp_path / "keys"),
        str(tmp_path / "accepted"),
        str(tmp_path / "rejected"),
        str(tmp_path / "ckpt"),
    )
    assert {r["doc_id"] for r in acc.collect()} == {0, 3, 5}
    got_rej = {r["doc_id"]: r["reason"] for r in rej.collect()}
    assert got_rej == {
        1: "rejected_dup",
        2: "rejected_quality",
        4: "rejected_dup",
    }
