"""Layout operators are judged by their PHYSICAL PLANS: bucketed joins
must not shuffle, partitioned scans must prune."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from etl_mudah_spark.operators.layout import (
    drop_table,
    write_bucketed_table,
    write_partitioned_table,
)
from etl_mudah_spark.tables import load


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed_table(
        li, "li_b", str(tmp_path / "li_b"), ["l_orderkey"], 8, ["l_orderkey"]
    )
    write_bucketed_table(
        orders, "ord_b", str(tmp_path / "ord_b"), ["l_orderkey"], 8, ["l_orderkey"]
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # Same-key bucket counts line up → result equals the plain join.
        assert joined.count() == li.join(orders, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_table(spark, "li_b")
        drop_table(spark, "ord_b")


def test_bucketed_groupby_is_shuffle_free(spark, sf_dir, tmp_path):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(
        li, "li_agg_b", str(tmp_path / "li_agg_b"), ["l_orderkey"], 8
    )
    try:
        agg = (
            spark.table("li_agg_b")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert "Exchange" not in _plan(agg), "agg on the bucket key must not shuffle"
        assert agg.count() == li.select("l_orderkey").distinct().count()
    finally:
        drop_table(spark, "li_agg_b")


def test_partitioned_scan_prunes(spark, sf_dir, tmp_path):
    orders = load(spark, sf_dir, "orders")
    write_partitioned_table(
        orders, "orders_p", str(tmp_path / "orders_p"), ["o_orderstatus"]
    )
    try:
        q = spark.table("orders_p").where(F.col("o_orderstatus") == "F")
        plan = _plan(q)
        assert "PartitionFilters" in plan and "o_orderstatus" in plan
        assert q.count() == orders.where(F.col("o_orderstatus") == "F").count()
    finally:
        drop_table(spark, "orders_p")


import pytest


def test_compact_files_reduces_file_count_and_preserves_rows(
    spark, sf_dir, tmp_path
):
    """Compaction migrates the plain directory in place into a
    manifest-published version; readers resolve the pointer."""
    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import manifest_resolve

    path = str(tmp_path / "frag")
    orders = load(spark, sf_dir, "orders")
    n_rows = orders.count()
    # Simulate micro-batch fragmentation: 40 tiny files.
    orders.repartition(40).write.parquet(path)
    import os

    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before >= 40
    n_after = compact_files(
        spark,
        path,
        target_file_bytes=64 * 1024 * 1024,
        sort_within_by=["o_orderdate"],
    )
    assert n_after < before
    data_path = manifest_resolve(path)
    got = spark.read.parquet(data_path)
    assert got.count() == n_rows
    # sortWithinPartitions clustering: each file is internally ordered
    # by o_orderdate, so per-file min/max ranges are tight.
    import pyarrow.parquet as pq

    for f in os.listdir(data_path):
        if f.endswith(".parquet"):
            col = pq.read_table(
                os.path.join(data_path, f), columns=["o_orderdate"]
            )
            vals = col.column(0).to_pylist()
            assert vals == sorted(vals)
    # a second compaction publishes v2 and retains v1 for in-flight
    # readers; loose pre-migration files are gone
    v1 = data_path
    compact_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    v2 = manifest_resolve(path)
    assert v2 != v1 and os.path.exists(v1)
    assert spark.read.parquet(v2).count() == n_rows
    assert not any(
        f.endswith(".parquet") for f in os.listdir(path)
        if os.path.isfile(os.path.join(path, f))
    )


def test_compact_files_keeps_hive_partitions_and_their_sizing(spark, tmp_path):
    """A hive-partitioned table compacts as ONE manifest table: the
    partition column survives (read back from the directory layout)
    and each partition gets its own bytes/target file count."""
    import os

    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import manifest_read, manifest_resolve

    path = str(tmp_path / "hive")
    df = spark.range(0, 6000).selectExpr(
        "id", "CAST(id % 3 AS INT) AS p", "repeat('x', id % 50) AS pad"
    )
    # partition p=0 carries ~20x the rows of p=1 and p=2
    skewed = df.where("p = 0").unionByName(
        df.where("p > 0 AND id % 20 = 1")
    )
    skewed.repartition(30).write.partitionBy("p").parquet(path)
    sizes = {
        d: sum(
            os.path.getsize(os.path.join(path, d, f))
            for f in os.listdir(os.path.join(path, d))
            if not f.startswith(("_", "."))
        )
        for d in os.listdir(path)
        if d.startswith("p=")
    }
    target = sizes["p=0"] // 3
    n = compact_files(spark, path, target_file_bytes=target)
    live = manifest_resolve(path)
    per_part = {
        d: len([f for f in os.listdir(os.path.join(live, d))
                if f.endswith(".parquet")])
        for d in os.listdir(live)
        if d.startswith("p=")
    }
    want = {d: max(1, -(-b // target)) for d, b in sizes.items()}
    assert per_part == want and n == sum(want.values())
    assert sorted(os.listdir(path)) == ["_current", os.path.basename(live)]
    got = manifest_read(spark, path)
    assert set(got.columns) == {"id", "p", "pad"}
    assert sorted(map(tuple, got.select("id", "p").collect())) == sorted(
        map(tuple, skewed.select("id", "p").collect())
    )


def test_compact_files_recovers_interrupted_publish(
    spark, tmp_path, publish_crash
):
    """Crash inside the version write and crash between the version
    write and the pointer flip: the live table reads back unchanged,
    and the next compaction prunes the orphan and succeeds."""
    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import (
        manifest_read,
        manifest_resolve,
        manifest_versions,
    )

    path = str(tmp_path / "tbl")
    spark.range(0, 2000).selectExpr("id", "id % 7 AS k").repartition(
        20
    ).write.parquet(path)
    compact_files(spark, path, target_file_bytes=1 << 20)
    want = sorted(map(tuple, manifest_read(spark, path).collect()))
    for window in ("write", "flip"):
        live = manifest_versions(path)[-1]
        with publish_crash(path, window):
            compact_files(spark, path, target_file_bytes=1 << 20)
        assert manifest_versions(path)[-1] == live + 1  # the orphan
        assert manifest_resolve(path).endswith(f"v={live:08d}")
        assert sorted(map(tuple, manifest_read(spark, path).collect())) == want
        compact_files(spark, path, target_file_bytes=1 << 20)
        # orphan pruned, its version number republished and live
        assert manifest_versions(path) == [live, live + 1]
        assert manifest_resolve(path).endswith(f"v={live + 1:08d}")
        assert sorted(map(tuple, manifest_read(spark, path).collect())) == want


def test_manifest_publish_recover_and_retention(tmp_path):
    """Pointer-flip semantics without Spark: a crashed publish (written
    dir, no flip) is pruned by recover and never visible; retention
    keeps exactly ``keep`` superseded versions; the pointer flip is the
    only mutation of the live table."""
    import os

    from etl_mudah_spark.operators import manifest as mf

    base = str(tmp_path / "tbl")

    def writer(tag):
        def w(d):
            os.makedirs(d)
            with open(os.path.join(d, "part-0.parquet"), "w") as fh:
                fh.write(tag)
        return w

    v1 = mf.manifest_publish(base, writer("one"))
    assert mf.manifest_resolve(base) == v1
    # crashed publish: version dir exists, pointer never flipped
    orphan = os.path.join(base, "v=00000002")
    writer("crash")(orphan)
    assert mf.manifest_resolve(base) == v1  # reader unaffected
    assert mf.manifest_recover(base) == 1
    assert not os.path.exists(orphan)
    # next publish reuses the freed version number and flips
    v2 = mf.manifest_publish(base, writer("two"))
    assert mf.manifest_resolve(base) == v2
    with open(os.path.join(v2, "part-0.parquet")) as fh:
        assert fh.read() == "two"
    # retention: keep=1 superseded version
    v3 = mf.manifest_publish(base, writer("three"), keep=1)
    assert os.path.exists(v2) and not os.path.exists(v1)
    assert mf.manifest_resolve(base) == v3

    # migrating a plain PARTITIONED dir: after the flip nothing but the
    # pointer and the version is left — no loose files, checksum
    # sidecars, _SUCCESS markers, partition dirs or underscore sidecars
    plain = str(tmp_path / "plain")
    for rel in ("_SUCCESS", "._SUCCESS.crc", "band_id=0/part-0.parquet",
                "band_id=0/.part-0.parquet.crc", "band_id=1/part-0.parquet",
                "_centroids/part-0.parquet", "part-loose.parquet"):
        f = os.path.join(plain, rel)
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f, "w") as fh:
            fh.write("old")
    v = mf.manifest_publish(plain, writer("migrated"))
    assert sorted(os.listdir(plain)) == ["_current", os.path.basename(v)]
    assert os.listdir(v) == ["part-0.parquet"]


def test_zorder_clustering_prunes_on_every_dimension(spark, tmp_path):
    """Z-order layout: a narrow predicate on the SECOND clustered
    column overlaps only a fraction of the files' min/max footer
    ranges, where a single-column sort leaves every file spanning the
    full second-column domain (zero pruning)."""
    import pyarrow.parquet as pq

    from etl_mudah_spark.operators.layout import compact_files

    # two INDEPENDENT uniform dims — the adversarial case for a
    # single-column sort
    df = (
        spark.range(40_000)
        .selectExpr(
            "id",
            "CAST(pmod(hash(id), 1024) AS BIGINT) AS x",
            "CAST(pmod(hash(id + 99999), 1024) AS BIGINT) AS y",
        )
    )

    def overlap_fraction(path, lo, hi, col):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax >= lo and fmin <= hi:
                hit += 1
        return hit, len(files)

    single = str(tmp_path / "single")
    zord = str(tmp_path / "zorder")
    # fixed input fan-out: decouple the staged bytes (and hence the
    # compacted file count) from whatever parallelism the shared
    # session happens to carry at this point in the suite
    df = df.repartition(4)
    df.write.parquet(single)
    df.write.parquet(zord)
    # same byte budget → same file count; only the clustering differs
    target = 40_000  # bytes per file → ~16 files for this table
    compact_files(spark, single, target_file_bytes=target,
                  sort_within_by=["x"], max_files=16)
    compact_files(spark, zord, target_file_bytes=target,
                  zorder_by=["x", "y"], max_files=16)

    from etl_mudah_spark.operators.manifest import manifest_resolve

    single, zord = manifest_resolve(single), manifest_resolve(zord)
    lo, hi = 100, 163  # 1/16 of the y domain
    s_hit, s_n = overlap_fraction(single, lo, hi, "y")
    z_hit, z_n = overlap_fraction(zord, lo, hi, "y")
    assert s_n == z_n and s_n >= 8
    # single-column sort: y is uniform inside every file → no pruning
    assert s_hit == s_n
    # z-order: only files whose y-range covers the band qualify. The
    # threshold carries margin because repartitionByRange SAMPLES its
    # boundaries (RDD-id-seeded, so they jitter between sessions) and a
    # boundary-straddling file widens its y min/max — ideal is ~1/4 of
    # files; assert strictly-better-than-no-pruning with ≥1/4 skipped.
    assert z_hit <= (z_n * 3) // 4, (z_hit, z_n)
    # and the FIRST column still prunes too (z-order keeps x locality)
    zx_hit, _ = overlap_fraction(zord, 100, 163, "x")
    assert zx_hit <= (z_n * 3) // 4, (zx_hit, z_n)


def test_zorder_handles_all_null_column_and_rejects_conflicting_sorts(
    spark, tmp_path
):
    """Edge pins for the round-6 review findings: an all-NULL clustered
    column buckets to 0 instead of crashing the stats fold, and passing
    both sort_within_by and zorder_by is an explicit error, not a
    silent drop of the requested sort."""
    import pytest

    from etl_mudah_spark.operators.layout import compact_files

    path = str(tmp_path / "nulls")
    spark.range(100).selectExpr(
        "id", "CAST(NULL AS BIGINT) AS x", "id % 7 AS y"
    ).write.parquet(path)
    n = compact_files(spark, path, target_file_bytes=10_000,
                      zorder_by=["x", "y"])
    assert n >= 1
    from etl_mudah_spark.operators.manifest import manifest_read

    assert manifest_read(spark, path).count() == 100

    with pytest.raises(ValueError, match="not both"):
        compact_files(spark, path, sort_within_by=["y"], zorder_by=["x"])


def test_zorder_key_rejects_strings_and_fits_64_bits(spark):
    """ADVICE r6: (1) a string cluster column must raise — cast-to-
    double NULLs would silently bucket every row to 0; (2) with many
    columns the bit positions must stay <= 62 — Spark's shiftleft
    wraps shifts mod 64, which would scramble the interleave order."""
    import pytest
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.layout import zorder_key

    df = spark.range(1000).selectExpr(
        "id AS a", "id * 3 % 997 AS b", "id * 7 % 101 AS c",
        "id * 11 % 53 AS d", "id * 13 % 29 AS e", "id * 17 % 19 AS f",
        "id * 19 % 13 AS g", "CAST(id AS STRING) AS s"
    )
    with pytest.raises(TypeError, match="dtype 'string'"):
        zorder_key(df, ["a", "s"])

    # 7 columns at requested bits=10 would reach bit position 69 without
    # the auto-scale; the produced key must be non-negative (no sign-bit
    # or wrap artifacts) and still order-distinguishing.
    cols = ["a", "b", "c", "d", "e", "f", "g"]
    keyed = df.select(zorder_key(df, cols, bits=10).alias("k"))
    mn, mx = keyed.agg(F.min("k"), F.max("k")).first()
    assert mn >= 0
    # 62 // 7 = 8 bits/column => key < 2^56
    assert mx < 1 << 56
    assert keyed.select("k").distinct().count() > 1


def test_manifest_read_time_travel(spark, tmp_path):
    """manifest_read: live by default, any retained version on demand,
    loud failure on a pruned one."""
    import pytest

    from etl_mudah_spark.operators import manifest as mf

    base = str(tmp_path / "tbl")
    for tag in ("one", "two", "three"):
        df = spark.createDataFrame([(tag,)], "tag string")
        mf.manifest_publish(base, lambda d, df=df: df.write.parquet(d), keep=1)
    assert mf.manifest_versions(base) == [2, 3]
    assert mf.manifest_read(spark, base).first()["tag"] == "three"
    assert mf.manifest_read(spark, base, version=2).first()["tag"] == "two"
    with pytest.raises(ValueError, match="version 1 not on disk"):
        mf.manifest_read(spark, base, version=1)


def test_compact_maintain_acts_only_past_the_bound(spark, tmp_path):
    """Healthy table -> no-op (None, files untouched); fragmented
    table -> exactly one compaction bringing the count under the
    bound; idempotent afterwards."""
    from etl_mudah_spark.operators.layout import (
        compact_maintain,
        count_data_files,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(40).write.parquet(path)
    assert count_data_files(path) == 40

    # healthy under a generous bound: no rewrite
    assert compact_maintain(spark, path, max_small_files=64) is None
    assert count_data_files(path) == 40

    # fragmented past the bound: one rewrite, then stable
    got = compact_maintain(spark, path, max_small_files=8)
    assert got is not None and got <= 8
    assert count_data_files(path) == got
    assert compact_maintain(spark, path, max_small_files=8) is None
    # data intact through the manifest swap
    from etl_mudah_spark.operators.manifest import manifest_resolve

    assert spark.read.parquet(manifest_resolve(path)).count() == 10_000


def test_zone_map_prunes_files_and_preserves_results(spark, tmp_path):
    """zone_pruned_read must (a) consult only the sidecar to pick
    files — a narrow range opens a strict subset; (b) return exactly
    the plain filtered scan's rows; (c) yield an empty (but
    well-schema'd) frame when no envelope overlaps; (d) prune
    all-NULL files without dropping any qualifying row."""
    from etl_mudah_spark.operators.layout import (
        build_zone_map,
        write_range_clustered,
        zone_pruned_read,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "id", n_files=8)
    zm = spark.read.parquet(f"{path}/_zonemap")
    assert zm.count() == 8
    assert set(zm.columns) == {"file", "min_id", "max_id"}

    pruned = zone_pruned_read(spark, path, "id", 2_000, 2_999)
    # strict subset of files in the pruned scan (range clustering
    # puts ~1250 ids per file, so 1000 ids touch at most 2 of 8)
    files_read = {r[0] for r in pruned.select("_metadata.file_path").collect()}
    assert 1 <= len(files_read) <= 2
    expect = df.where(F.col("id").between(2_000, 2_999))
    assert pruned.count() == 1_000
    assert (
        pruned.agg(F.sum("v")).first()[0] == expect.agg(F.sum("v")).first()[0]
    )

    # (c) disjoint range: no files selected, schema intact, zero rows
    empty = zone_pruned_read(spark, path, "id", 50_000, 60_000)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "v"}

    # (d) a file whose envelope is all-NULL is pruned, not fatal
    nulls = spark.createDataFrame(
        [(None, 1)], "id bigint, v bigint"
    )
    nulls.write.mode("append").parquet(path)
    build_zone_map(spark, path, ["id"])
    again = zone_pruned_read(spark, path, "id", 2_000, 2_999)
    assert again.count() == 1_000


def test_compact_row_group_bytes_splits_groups(spark, tmp_path):
    """row_group_bytes caps parquet row-group size so big compacted
    files stay splittable (the x100 scan-parallelism fix)."""
    import pyarrow.parquet as pq

    from etl_mudah_spark.operators.layout import compact_files

    path = str(tmp_path / "t.parquet")
    spark.range(0, 400_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).coalesce(4).write.parquet(path)
    compact_files(
        spark,
        path,
        target_file_bytes=1 << 30,  # everything into one file
        row_group_bytes=256 * 1024,
    )
    import glob

    from etl_mudah_spark.operators.manifest import manifest_resolve

    files = glob.glob(f"{manifest_resolve(path)}/part-*.parquet")
    assert len(files) == 1
    meta = pq.ParquetFile(files[0]).metadata
    assert meta.num_row_groups >= 4  # split granularity preserved
