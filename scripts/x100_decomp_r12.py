"""Round-12 x100 experiments (VERDICT r11 items 5 & 6) — the two
scan-bound headliners' last levers, measured:

pricing_summary (item 6, "close the book"):
  a. what parquet encodings the staged group/measure columns actually
     carry (pyarrow column-chunk metadata — is there plain-encoded
     decode cost left to remove?);
  b. interleaved A/B: registered query on the default staging vs the
     same staging rewritten with dictionary encoding disabled for the
     measure columns (isolates dictionary-decode vs plain-decode cost).

big_orders (item 5, "the group-count lever"):
  c. registered query (baseline; ~1.5M-group hash agg, §15);
  d. the same aggregate over a bucketed+sorted saveAsTable layout
     (bucketBy(64, l_orderkey).sortBy(l_orderkey)) — does removing the
     exchange matter when the cost is hash-agg throughput?
  e. write-time pre-aggregate: per-order qty_sum maintained in the
     layout (build cost recorded, amortizes across queries); query =
     pre-agg scan + filter + joins.

Run SOLO; results go to BASELINE.md round-12 notes. Methodology: fresh
DataFrame per rep (never re-collect the same object — shuffle reuse),
interleaved A/B per the round-7 note.
"""
import os
import shutil
import statistics
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
os.chdir(_ROOT)

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_mudah_spark.plans import registry  # noqa: E402
from etl_mudah_spark.session import get_spark  # noqa: E402

print("loadavg:", [round(x, 2) for x in os.getloadavg()], flush=True)
spark = get_spark("x100-r12")
scratch = tempfile.mkdtemp(prefix="x100r12_")
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def timed(label, fn, reps=3):
    ts = []
    out = None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        ts.append(round(time.perf_counter() - t0, 3))
    print(f"{label:42s} med {statistics.median(ts):7.3f} s  {ts}  -> {out}",
          flush=True)
    return statistics.median(ts)


try:
    sc_dir, sc_bytes = bench.stage_scaled(
        spark, "/root/testdata/sf0.1", scratch, factor=100,
        tables=["customer", "orders", "lineitem"],
        target_bytes=64 * 1024 * 1024, cap=64,
        row_group_bytes=16 * 1024 * 1024,
    )
    print(f"staged x100: {sc_bytes/1e9:.2f} GB", flush=True)

    # ---- (a) actual parquet encodings of the staged lineitem ----
    import pyarrow.parquet as pq

    from etl_mudah_spark.operators.manifest import manifest_resolve

    li_dir = manifest_resolve(os.path.join(sc_dir, "lineitem.parquet"))
    f = next(x for x in sorted(os.listdir(li_dir)) if x.endswith(".parquet"))
    md = pq.ParquetFile(os.path.join(li_dir, f)).metadata
    rg = md.row_group(0)
    want = {"l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax"}
    for i in range(rg.num_columns):
        col = rg.column(i)
        name = col.path_in_schema
        if name in want:
            print(f"  encoding {name:16s} {col.encodings} "
                  f"compressed={col.total_compressed_size//1024}KB", flush=True)

    # ---- (b) interleaved A/B: default staging vs no-dictionary ----
    nodict_dir = os.path.join(scratch, "li_nodict.parquet")
    li = spark.read.parquet(li_dir)
    (li.write.mode("overwrite")
       .option("parquet.enable.dictionary", "false")
       .option("parquet.block.size", str(16 * 1024 * 1024))
       .parquet(nodict_dir))

    ps_fn = registry.REGISTRY["pricing_summary"].spark_fn

    def run_ps(path_dir):
        def go():
            # pricing_summary loads from a dir with lineitem.parquet
            return (
                ps_fn(spark, path_dir)
                .write.mode("overwrite").format("noop").save()
            )
        return go

    # build a shim dir where lineitem.parquet -> nodict files
    shim = os.path.join(scratch, "shim")
    os.makedirs(shim, exist_ok=True)
    os.symlink(nodict_dir, os.path.join(shim, "lineitem.parquet"))

    for rnd in range(3):  # interleaved
        timed(f"[b{rnd}] pricing_summary default-dict", run_ps(sc_dir), reps=1)
        timed(f"[b{rnd}] pricing_summary no-dict", run_ps(shim), reps=1)

    # ---- (c) big_orders registered baseline ----
    bo_fn = registry.REGISTRY["big_orders"].spark_fn
    timed("[c] big_orders registered", lambda: bo_fn(spark, sc_dir)
          .write.mode("overwrite").format("noop").save())

    # ---- (d) bucketed+sorted table: exchange-free aggregate ----
    # external table under scratch (spark.sql.warehouse.dir is a
    # STATIC conf — setting it after session start is a no-op)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    t0 = time.perf_counter()
    (spark.read.parquet(li_dir)
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(64, "l_orderkey").sortBy("l_orderkey")
        .option("path", os.path.join(scratch, "li_bkt"))
        .format("parquet").saveAsTable("li_bkt"))
    print(f"  bucketed write (one-off): {time.perf_counter()-t0:.1f} s",
          flush=True)
    from etl_mudah_spark.functions.core import dsum2

    def bo_bucketed():
        q = (
            spark.table("li_bkt").groupBy("l_orderkey")
            .agg(dsum2("l_quantity").alias("qty_sum"))
            .where(F.col("qty_sum") > 250)
        )
        orders = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "orders.parquet")))
        cust = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "customer.parquet")))
        return (
            q.join(orders, q.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "qty_sum")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(20)
            .write.mode("overwrite").format("noop").save()
        )

    # show whether the exchange is gone
    qq = (spark.table("li_bkt").groupBy("l_orderkey")
          .agg(dsum2("l_quantity").alias("qty_sum")))
    plan = qq._jdf.queryExecution().executedPlan().toString()
    print("  bucketed agg has Exchange:", "Exchange" in plan, flush=True)
    timed("[d] big_orders bucketed-by-orderkey", bo_bucketed)

    # just the aggregate, both layouts (isolates the lever)
    def agg_only(df_fn):
        def go():
            return (df_fn().groupBy("l_orderkey")
                    .agg(dsum2("l_quantity").alias("qty_sum"))
                    .where(F.col("qty_sum") > 250)
                    .write.mode("overwrite").format("noop").save())
        return go

    for rnd in range(2):
        timed(f"[d{rnd}] agg-only parquet",
              agg_only(lambda: spark.read.parquet(li_dir)
                       .select("l_orderkey", "l_quantity")), reps=1)
        timed(f"[d{rnd}] agg-only bucketed",
              agg_only(lambda: spark.table("li_bkt")), reps=1)

    # ---- (e) write-time pre-aggregate in the layout ----
    pre = os.path.join(scratch, "li_order_agg.parquet")
    t0 = time.perf_counter()
    (spark.read.parquet(li_dir).groupBy("l_orderkey")
        .agg(dsum2("l_quantity").alias("qty_sum"))
        .write.mode("overwrite").parquet(pre))
    print(f"  pre-agg build (one-off, IVM-maintainable): "
          f"{time.perf_counter()-t0:.1f} s", flush=True)

    def bo_preagg():
        q = spark.read.parquet(pre).where(F.col("qty_sum") > 250)
        orders = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "orders.parquet")))
        cust = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "customer.parquet")))
        return (
            q.join(orders, q.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "qty_sum")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(20)
            .write.mode("overwrite").format("noop").save()
        )

    timed("[e] big_orders from pre-agg layout", bo_preagg)

    # DuckDB reference on the same staging
    from etl_mudah_spark.session import default_parallelism
    ddb = bench.run_duckdb(sc_dir, ["pricing_summary", "big_orders"],
                           default_parallelism())
    print("  duckdb:", ddb, flush=True)
finally:
    try:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
    except Exception:
        pass
    shutil.rmtree(scratch, ignore_errors=True)
print("loadavg end:", [round(x, 2) for x in os.getloadavg()], flush=True)
