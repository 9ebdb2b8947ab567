"""End-to-end streaming ingest: drop-zone files → foreachBatch merge.

Proves the reference's incremental contract (SURVEY §2.8) holds in the
streaming form: micro-batches apply in order, last write wins per key,
and replaying the whole stream from scratch yields the identical table
(idempotency — the reference's ON CONFLICT upsert guarantee)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from etl_mudah_spark.operators.manifest import manifest_read
from etl_mudah_spark.streaming.ingest import stream_ingest_listings


def _listing(lid: int, price: float, date: str) -> dict:
    return {
        "id": lid,
        "attributes": {
            "subject": f"Vehicle {lid}",
            "price": price,
            "make_name": "Proton",
            "model_name": "Saga",
            "manufactured_year": "2015",
            "mileage": {"gte": "10000", "lte": "19999"},
            "transmission_name": "Auto",
            "fueltype": "Petrol",
            "car_type": "Sedan",
            "name": "Seller",
            "region_name": "Penang",
            "date": date,
            "image_count": 3,
            "adview_url": None,
            "region_id": "7",
        },
    }


def _write_drop_file(drop_dir: str, name: str, listings: list[dict], mtime: float) -> None:
    path = os.path.join(drop_dir, name)
    with open(path, "w") as f:
        for item in listings:
            f.write(json.dumps(item) + "\n")
    os.utime(path, (mtime, mtime))


def _run(spark, drop_dir: str, table_path: str, ckpt: str) -> None:
    stream_ingest_listings(spark, drop_dir, table_path, ckpt)


def test_stream_ingest_merges_batches_and_replays_idempotently(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    now = time.time()
    # batch 1: ids 1..3; batch 2 (later file): id 2 re-listed at a new
    # price with a LATER listing_date (must win), id 4 new.
    _write_drop_file(
        str(drop),
        "b1.jsonl",
        [
            _listing(1, 30000.0, "2024-01-01 10:00:00"),
            _listing(2, 40000.0, "2024-01-01 10:00:00"),
            _listing(3, 50000.0, "2024-01-01 10:00:00"),
        ],
        now - 20,
    )
    _write_drop_file(
        str(drop),
        "b2.jsonl",
        [
            _listing(2, 38000.0, "2024-02-01 10:00:00"),
            _listing(4, 60000.0, "2024-02-01 10:00:00"),
        ],
        now - 10,
    )

    table = str(tmp_path / "car_listings")
    _run(spark, str(drop), table, str(tmp_path / "ckpt1"))

    out = spark.read.parquet(table)
    rows = {r["listing_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert float(rows[2]["price"]) == 38000.0  # later batch won
    assert rows[2]["listing_date"].month == 2

    # Full replay with a fresh checkpoint → byte-identical table content.
    before = sorted(map(tuple, out.select(sorted(out.columns)).collect()))
    _run(spark, str(drop), table, str(tmp_path / "ckpt2"))
    after_df = spark.read.parquet(table)
    after = sorted(map(tuple, after_df.select(sorted(after_df.columns)).collect()))
    assert before == after


def test_stream_ingest_single_batch_dedups_within_batch(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    # Duplicate key INSIDE one file: deterministic survivor = latest
    # listing_date (merge order_cols), not file order.
    _write_drop_file(
        str(drop),
        "b1.jsonl",
        [
            _listing(9, 11111.0, "2024-03-01 10:00:00"),
            _listing(9, 22222.0, "2024-01-01 10:00:00"),
        ],
        time.time() - 5,
    )
    table = str(tmp_path / "t")
    _run(spark, str(drop), table, str(tmp_path / "ckpt"))
    out = spark.read.parquet(table)
    assert out.count() == 1
    assert float(out.select("price").first()[0]) == 11111.0
    assert out.where(F.col("listing_id") == 9).count() == 1


def test_stream_ingest_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Restarting with the SAME checkpoint processes only files that
    arrived since the last run — the production resume contract. The
    checkpoint's offsets log proves no old batch was replayed."""
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "t")
    now = time.time()
    _write_drop_file(
        str(drop), "b1.jsonl",
        [_listing(1, 30000.0, "2024-01-01 10:00:00")], now - 20,
    )
    _run(spark, str(drop), table, ckpt)

    def batches_reading(name: str) -> int:
        """How many file-source batch logs list ``name`` — a replayed
        file would appear in more than one."""
        src = os.path.join(ckpt, "sources", "0")
        n = 0
        for b in os.listdir(src):
            with open(os.path.join(src, b), "rb") as f:
                n += name.encode() in f.read()
        return n

    assert batches_reading("b1.jsonl") == 1

    # New file lands; same checkpoint -> only the new file is read.
    _write_drop_file(
        str(drop), "b2.jsonl",
        [_listing(1, 35000.0, "2024-02-01 10:00:00"),
         _listing(2, 40000.0, "2024-02-01 10:00:00")], now - 10,
    )
    _run(spark, str(drop), table, ckpt)
    # b1 still logged exactly once (no replay); b2 picked up once.
    assert batches_reading("b1.jsonl") == 1
    assert batches_reading("b2.jsonl") == 1

    rows = {r["listing_id"]: r for r in spark.read.parquet(table).collect()}
    assert set(rows) == {1, 2}
    assert float(rows[1]["price"]) == 35000.0  # resumed batch still merged

    # Nothing new -> restart is a no-op for the table.
    before = sorted(
        map(tuple, spark.read.parquet(table).select("listing_id", "price").collect())
    )
    _run(spark, str(drop), table, ckpt)
    after = sorted(
        map(tuple, spark.read.parquet(table).select("listing_id", "price").collect())
    )
    assert before == after


def test_stream_scd2_ingest_matches_batch_collapse(spark, tmp_path):
    """Streaming SCD2 maintenance: after two snapshot drops (and a
    duplicate replay of the second), the history table equals a
    from-scratch scd2_collapse of the full change log."""
    from etl_mudah_spark.operators.scd import scd2_collapse
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    ddl = "cust_id bigint, tier string, ts timestamp"
    drop = tmp_path / "scd_drop"
    drop.mkdir()
    log_p = str(tmp_path / "scd_log")
    hist_p = str(tmp_path / "scd_hist")
    ckpt = str(tmp_path / "scd_ckpt")

    def snap(name, rows, mtime):
        path = os.path.join(str(drop), name)
        with open(path, "w") as f:
            for cid, tier, ts in rows:
                f.write(json.dumps({"cust_id": cid, "tier": tier, "ts": ts}) + "\n")
        os.utime(path, (mtime, mtime))

    now = time.time()
    snap("s1.jsonl", [(1, "bronze", "2024-01-01T00:00:00"),
                      (2, "silver", "2024-01-01T00:00:00")], now - 30)
    snap("s2.jsonl", [(1, "gold", "2024-02-01T00:00:00"),     # tier change
                      (2, "silver", "2024-02-01T00:00:00"),   # unchanged
                      (3, "bronze", "2024-02-01T00:00:00")],  # new key
         now - 20)

    kwargs = dict(
        key_cols=["cust_id"], attr_cols=["tier"], ts_col="ts",
    )
    stream_scd2_ingest(spark, str(drop), ddl, log_p, hist_p, ckpt, **kwargs)

    hist = manifest_read(spark, hist_p)
    rows = {(r["cust_id"], r["version"]): r for r in hist.collect()}
    # cust 1: two versions (bronze closed at the gold change, gold open)
    assert rows[(1, 1)]["tier"] == "bronze" and rows[(1, 1)]["valid_to"] is not None
    assert rows[(1, 2)]["tier"] == "gold" and rows[(1, 2)]["valid_to"] is None
    # cust 2: one open version despite two log rows
    assert rows[(2, 1)]["tier"] == "silver" and rows[(2, 1)]["valid_to"] is None
    assert (3, 1) in rows and len(rows) == 4

    # replay the same second snapshot under a NEW file name (new ckpt
    # offset, duplicate content): the log dedup keeps the log fixed and
    # the (always-run) rebuild reproduces identical history content.
    # Snapshot rows BEFORE the replay — the rebuild rewrites the
    # history directory with fresh files even when content is equal.
    hist_rows = sorted(map(tuple, hist.collect()))
    n_log = spark.read.parquet(log_p).count()
    snap("s2_replay.jsonl", [(1, "gold", "2024-02-01T00:00:00"),
                             (2, "silver", "2024-02-01T00:00:00"),
                             (3, "bronze", "2024-02-01T00:00:00")], now - 10)
    stream_scd2_ingest(spark, str(drop), ddl, log_p, hist_p, ckpt, **kwargs)
    assert spark.read.parquet(log_p).count() == n_log
    hist2 = manifest_read(spark, hist_p)
    assert sorted(map(tuple, hist2.collect())) == hist_rows

    # ground truth: incremental history == from-scratch collapse of the log
    full = scd2_collapse(spark.read.parquet(log_p), ["cust_id"], ["tier"], "ts")
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, hist2.collect()))


def _scd_snap(drop_dir, name, rows, mtime):
    path = os.path.join(str(drop_dir), name)
    with open(path, "w") as f:
        for cid, tier, ts in rows:
            f.write(json.dumps({"cust_id": cid, "tier": tier, "ts": ts}) + "\n")
    os.utime(path, (mtime, mtime))


SCD_DDL = "cust_id bigint, tier string, ts timestamp"
SCD_KW = dict(key_cols=["cust_id"], attr_cols=["tier"], ts_col="ts")


def test_stream_scd2_replay_with_null_attr_is_noop(spark, tmp_path):
    """The at-least-once log dedup must be null-safe: a replayed row
    carrying a NULL attribute is already-logged and must NOT be
    re-appended (plain SQL equality would never match it)."""
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    drop = tmp_path / "d"
    drop.mkdir()
    log_p, hist_p, ckpt = (
        str(tmp_path / "log"), str(tmp_path / "hist"), str(tmp_path / "ckpt")
    )
    now = time.time()
    _scd_snap(drop, "s1.jsonl",
              [(1, None, "2024-01-01T00:00:00"),
               (2, "silver", "2024-01-01T00:00:00")], now - 30)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
    n_log = spark.read.parquet(log_p).count()
    hist = sorted(map(tuple, manifest_read(spark, hist_p).collect()))

    # identical content under a new file name → new checkpoint offset,
    # duplicate rows (including the NULL tier) → full no-op
    _scd_snap(drop, "s1_replay.jsonl",
              [(1, None, "2024-01-01T00:00:00"),
               (2, "silver", "2024-01-01T00:00:00")], now - 10)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
    assert spark.read.parquet(log_p).count() == n_log == 2
    assert sorted(map(tuple, manifest_read(spark, hist_p).collect())) == hist


def test_stream_scd2_retry_after_append_crash_repairs_history(spark, tmp_path):
    """Crash window: a micro-batch appended to the log but died before
    the history swap. The checkpoint replays the batch; its rows dedup
    to empty — the rebuild must STILL run for the batch's keys (the old
    early-return left history permanently stale here)."""
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    drop = tmp_path / "d"
    drop.mkdir()
    log_p, hist_p, ckpt = (
        str(tmp_path / "log"), str(tmp_path / "hist"), str(tmp_path / "ckpt")
    )
    now = time.time()
    _scd_snap(drop, "s1.jsonl", [(1, "bronze", "2024-01-01T00:00:00")], now - 30)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)

    # simulate the crashed batch: its rows reached the LOG but the
    # history swap never happened
    crashed = spark.createDataFrame(
        [(1, "gold"), (3, "bronze")], "cust_id bigint, tier string"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-02-01T00:00:00")))
    crashed.select("cust_id", "tier", "ts").write.mode("append").parquet(log_p)

    # the retry delivers the same rows through the stream; the log
    # dedup makes the append a no-op but the rebuild must still fire
    _scd_snap(drop, "s2.jsonl",
              [(1, "gold", "2024-02-01T00:00:00"),
               (3, "bronze", "2024-02-01T00:00:00")], now - 10)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
    assert spark.read.parquet(log_p).count() == 3
    rows = {(r["cust_id"], r["version"]): r
            for r in manifest_read(spark, hist_p).collect()}
    assert rows[(1, 2)]["tier"] == "gold" and rows[(1, 2)]["valid_to"] is None
    assert (3, 1) in rows and len(rows) == 3


def test_stream_scd2_recover_interrupted_swap(spark, tmp_path, publish_crash):
    """A history publish that crashes inside its write or before its
    pointer flip leaves the live history unchanged; the next run
    prunes the orphan version, replays the batch and publishes. A lost
    history dir is rebuilt from the log."""
    import shutil

    from etl_mudah_spark.operators import manifest as mf
    from etl_mudah_spark.operators.scd import scd2_collapse
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    drop = tmp_path / "d"
    drop.mkdir()
    log_p, hist_p, ckpt = (
        str(tmp_path / "log"), str(tmp_path / "hist"), str(tmp_path / "ckpt")
    )
    now = time.time()
    _scd_snap(drop, "s1.jsonl",
              [(1, "bronze", "2024-01-01T00:00:00"),
               (2, "silver", "2024-01-01T00:00:00")], now - 30)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
    for i, (window, tier) in enumerate([("write", "gold"), ("flip", "platinum")]):
        before = sorted(map(tuple, manifest_read(spark, hist_p).collect()))
        live = mf.manifest_resolve(hist_p)
        _scd_snap(drop, f"s{i + 2}.jsonl",
                  [(1, tier, f"2024-0{i + 2}-01T00:00:00")], now - 20 + i)
        with publish_crash(hist_p, window):
            stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p,
                               ckpt, **SCD_KW)
        live_v = int(live.rsplit("=", 1)[1])
        assert mf.manifest_versions(hist_p)[-1] == live_v + 1  # the orphan
        assert mf.manifest_resolve(hist_p) == live
        assert sorted(map(tuple, manifest_read(spark, hist_p).collect())) == before
        # the checkpoint replays the failed batch: orphan pruned, published
        stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
        assert mf.manifest_resolve(hist_p) != live
        rows = {(r["cust_id"], r["version"]): r["tier"]
                for r in manifest_read(spark, hist_p).collect()}
        assert rows[(1, i + 2)] == tier
    want = sorted(map(tuple, manifest_read(spark, hist_p).collect()))
    full = scd2_collapse(spark.read.parquet(log_p), ["cust_id"], ["tier"], "ts")
    assert want == sorted(map(tuple, full.collect()))

    # history dir lost entirely → rebuilt from the log
    shutil.rmtree(hist_p)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p,
                       str(tmp_path / "ckpt2"), **SCD_KW)
    assert sorted(map(tuple, manifest_read(spark, hist_p).collect())) == want


def test_stream_scd2_manifest_swap(spark, tmp_path):
    """The history lives in versioned dirs behind a _current pointer
    (incremental == from-scratch collapse; replay no-op), plus: a
    crashed publish (unreferenced version dir) never affects
    readers and is pruned on the next run."""
    import os

    from etl_mudah_spark.operators import manifest as mf
    from etl_mudah_spark.operators.scd import scd2_collapse
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    drop = tmp_path / "d"
    drop.mkdir()
    log_p, hist_p, ckpt = (
        str(tmp_path / "log"), str(tmp_path / "hist"), str(tmp_path / "ckpt")
    )
    now = time.time()
    _scd_snap(drop, "s1.jsonl",
              [(1, "bronze", "2024-01-01T00:00:00"),
               (2, "silver", "2024-01-01T00:00:00")], now - 30)
    _scd_snap(drop, "s2.jsonl",
              [(1, "gold", "2024-02-01T00:00:00"),
               (3, "bronze", "2024-02-01T00:00:00")], now - 20)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)

    cur = mf.manifest_resolve(hist_p)
    assert cur != hist_p and os.path.basename(cur).startswith("v=")
    hist_rows = sorted(map(tuple, spark.read.parquet(cur).collect()))
    full = scd2_collapse(spark.read.parquet(log_p), ["cust_id"], ["tier"], "ts")
    assert hist_rows == sorted(map(tuple, full.collect()))

    # simulate a crashed publish: a newer, unreferenced version dir
    orphan = os.path.join(hist_p, "v=99999999")
    os.makedirs(orphan)
    assert mf.manifest_resolve(hist_p) == cur  # readers unaffected

    # replay of s2 content under a new name: log unchanged, history
    # content identical, orphan pruned, pointer advanced to a fresh dir
    n_log = spark.read.parquet(log_p).count()
    _scd_snap(drop, "s2_replay.jsonl",
              [(1, "gold", "2024-02-01T00:00:00"),
               (3, "bronze", "2024-02-01T00:00:00")], now - 10)
    stream_scd2_ingest(spark, str(drop), SCD_DDL, log_p, hist_p, ckpt, **SCD_KW)
    assert spark.read.parquet(log_p).count() == n_log
    assert not os.path.exists(orphan)
    cur2 = mf.manifest_resolve(hist_p)
    assert cur2 != cur
    assert sorted(map(tuple, spark.read.parquet(cur2).collect())) == hist_rows


def test_stream_ingest_with_quarantine_gate(spark, tmp_path):
    """The streaming dead-letter gate: violating listings land in the
    quarantine parquet with their tags, clean rows merge as usual, and
    nothing bad reaches the table."""
    from etl_mudah_spark.operators.checks import in_range, not_null

    drop = tmp_path / "drop"
    drop.mkdir()
    now = time.time()
    good = [_listing(1, 50000.0, "2024-01-01 10:00:00"),
            _listing(2, 60000.0, "2024-01-01 11:00:00")]
    bad_price = _listing(3, -1.0, "2024-01-01 12:00:00")      # negative
    bad_null = _listing(4, 70000.0, "2024-01-01 12:30:00")
    bad_null["attributes"]["region_name"] = None              # null region
    _write_drop_file(str(drop), "b1.json", good + [bad_price, bad_null], now)

    table = str(tmp_path / "table")
    qpath = str(tmp_path / "quarantine")
    checks = [not_null("location"), in_range("price", 0, 10_000_000)]
    stream_ingest_listings(
        spark, str(drop), table, str(tmp_path / "ckpt"),
        row_checks=checks, quarantine_path=qpath,
    )
    assert sorted(
        r["listing_id"] for r in spark.read.parquet(table).collect()
    ) == [1, 2]
    quarantined = {
        r["listing_id"]: r["violated"]
        for r in spark.read.parquet(qpath).collect()
    }
    assert quarantined == {
        3: "in_range(price)",
        4: "not_null(location)",
    }

    # gate misconfiguration fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        stream_ingest_listings(
            spark, str(drop), table, str(tmp_path / "ckpt2"),
            row_checks=checks,
        )


def test_stream_ingest_stamps_batches_and_skips_empty_ones(spark, tmp_path):
    """One aggregate per trigger decides both the stamp and the skip:
    updated_at is the batch's max listing_date unless an explicit
    batch_ts is passed, and a batch that is empty after the dead-letter
    gate never reaches merge_upsert (no table is created)."""
    import datetime

    from etl_mudah_spark.operators.checks import in_range

    drop = tmp_path / "drop"
    drop.mkdir()
    _write_drop_file(
        str(drop),
        "b1.jsonl",
        [_listing(1, 10.0, "2024-01-01 10:00:00"),
         _listing(2, 20.0, "2024-03-01 10:00:00")],
        time.time() - 5,
    )

    def stamps(table):
        return {r["updated_at"] for r in spark.read.parquet(table).collect()}

    t_data, t_explicit = str(tmp_path / "t1"), str(tmp_path / "t2")
    stream_ingest_listings(spark, str(drop), t_data, str(tmp_path / "c1"))
    assert stamps(t_data) == {datetime.datetime(2024, 3, 1, 10, 0)}
    explicit = datetime.datetime(2030, 1, 1)
    stream_ingest_listings(
        spark, str(drop), t_explicit, str(tmp_path / "c2"), batch_ts=explicit
    )
    assert stamps(t_explicit) == {explicit}

    t_empty, qpath = str(tmp_path / "t3"), str(tmp_path / "q")
    stream_ingest_listings(
        spark, str(drop), t_empty, str(tmp_path / "c3"),
        row_checks=[in_range("price", 1000, 2000)], quarantine_path=qpath,
    )
    assert not os.path.exists(t_empty)
    assert spark.read.parquet(qpath).count() == 2


def test_stream_cms_equals_batch_sketch_multibatch(spark, tmp_path):
    """CMS linearity end to end: the events table split into FOUR
    files, streamed one file per trigger through stream_cms_counters
    (four real foreachBatch merges into versioned state), equals the
    one-shot batch sketch CELL FOR CELL."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.sketch import cms_counters
    from etl_mudah_spark.streaming.pipeline import stream_cms_counters
    from etl_mudah_spark.tables import load

    src = str(tmp_path / "multi")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw.repartition(4).write.parquet(src)
    import glob as _g
    import os as _os
    import shutil as _sh

    # rename part files to match a stable glob and drop _SUCCESS
    files = sorted(_g.glob(_os.path.join(src, "part-*.parquet")))
    assert len(files) == 4
    for i, f in enumerate(files):
        _os.rename(f, _os.path.join(src, f"events_{i}.parquet"))
    for junk in _g.glob(_os.path.join(src, "_*")) + _g.glob(
        _os.path.join(src, ".*.crc")
    ):
        _os.remove(junk)

    streamed = stream_cms_counters(
        spark,
        src,
        ["event_type"],
        "user_id",
        width=256,
        depth=3,
        source_glob="events_*.parquet",
        max_files_per_trigger=1,
    )
    batch = cms_counters(
        ev.select("event_type", "user_id"),
        ["event_type"],
        "user_id",
        width=256,
        depth=3,
    )
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
