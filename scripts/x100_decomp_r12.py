"""Round-12 x100 experiments (VERDICT r11 items 5 & 6) — the two
scan-bound headliners' last levers, measured:

pricing_summary (item 6, "close the book"):
  a. what parquet encodings the staged group/measure columns actually
     carry (pyarrow column-chunk metadata — is there plain-encoded
     decode cost left to remove?);
  b. the registered query on the default staging vs the same staging
     rewritten with dictionary encoding disabled for the measure
     columns (isolates dictionary-decode vs plain-decode cost).

big_orders (item 5, "the group-count lever"):
  c. registered query (baseline; ~1.5M-group hash agg, §15);
  d. the same aggregate over a bucketed+sorted saveAsTable layout
     (bucketBy(64, l_orderkey).sortBy(l_orderkey)) — does removing the
     exchange matter when the cost is hash-agg throughput?
  e. write-time pre-aggregate: per-order qty_sum maintained in the
     layout (build cost recorded, amortizes across queries); query =
     pre-agg scan + filter + joins.

Run SOLO; results go to BASELINE.md round-12 notes.

    python scripts/x100_decomp_r12.py [--reps N] [--sf-dir DIR] [--factor F]
"""
import os
import shutil
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import bench
from etl_mudah_spark.functions.core import dsum2
from etl_mudah_spark.operators.manifest import manifest_resolve
from etl_mudah_spark.plans import registry
from etl_mudah_spark.session import default_parallelism, get_spark
from scripts import ab
from scripts.x100_decomp_r11 import X100_LAYOUT


def print_encodings(li_dir):
    """(a) the parquet encodings of the staged lineitem's first file."""
    f = li_dir if os.path.isfile(li_dir) else os.path.join(li_dir, next(
        x for x in sorted(os.listdir(li_dir)) if x.endswith(".parquet")
    ))
    rg = pq.ParquetFile(f).metadata.row_group(0)
    want = {"l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax"}
    for i in range(rg.num_columns):
        col = rg.column(i)
        if col.path_in_schema in want:
            print(f"  encoding {col.path_in_schema:16s} {col.encodings} "
                  f"compressed={col.total_compressed_size//1024}KB", flush=True)


def q18_joins(spark, sc_dir, q):
    orders = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "orders.parquet")))
    cust = spark.read.parquet(manifest_resolve(os.path.join(sc_dir, "customer.parquet")))
    return (
        q.join(orders, q.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "qty_sum")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def qty_per_order(df):
    return df.groupBy("l_orderkey").agg(dsum2("l_quantity").alias("qty_sum"))


def main():
    args = ab.parser(__doc__, reps=3, factor=100).parse_args()
    os.chdir(_ROOT)
    spark = get_spark("x100-r12")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sc_dir = ab.staged(
        spark, args, ["customer", "orders", "lineitem"], **X100_LAYOUT
    )
    li_dir = manifest_resolve(os.path.join(sc_dir, "lineitem.parquet"))
    print_encodings(li_dir)
    scratch = tempfile.mkdtemp(prefix="x100r12_")
    try:
        nodict_dir = os.path.join(scratch, "li_nodict.parquet")
        # a shim dir whose lineitem.parquet is the no-dictionary rewrite
        shim = os.path.join(scratch, "shim")
        os.makedirs(shim)
        os.symlink(nodict_dir, os.path.join(shim, "lineitem.parquet"))
        bkt_dir = os.path.join(scratch, "li_bkt")
        pre = os.path.join(scratch, "li_order_agg.parquet")

        def write_nodict():
            (spark.read.parquet(li_dir).write.mode("overwrite")
             .option("parquet.enable.dictionary", "false")
             .option("parquet.block.size", str(16 * 1024 * 1024))
             .parquet(nodict_dir))

        # external table under scratch (spark.sql.warehouse.dir is a
        # STATIC conf — setting it after session start is a no-op)
        def write_bucketed():
            spark.sql("DROP TABLE IF EXISTS li_bkt")
            (spark.read.parquet(li_dir)
             .select("l_orderkey", "l_quantity")
             .write.mode("overwrite")
             .bucketBy(64, "l_orderkey").sortBy("l_orderkey")
             .option("path", bkt_dir)
             .format("parquet").saveAsTable("li_bkt"))

        def write_preagg():
            qty_per_order(spark.read.parquet(li_dir)).write.mode(
                "overwrite").parquet(pre)

        # the one-off layout builds (IVM-maintainable, amortized)
        ab.run(spark, lambda: {
            "nodict_rewrite": write_nodict,
            "bucketed_write": write_bucketed,
            "preagg_build": write_preagg,
        }, reps=1)
        plan = qty_per_order(spark.table("li_bkt"))._jdf.queryExecution()
        print("  bucketed agg has Exchange:",
              "Exchange" in plan.executedPlan().toString(), flush=True)

        ps_fn = registry.REGISTRY["pricing_summary"].spark_fn
        bo_fn = registry.REGISTRY["big_orders"].spark_fn

        def having(df):
            return qty_per_order(df).where(F.col("qty_sum") > 250)

        ab.run(spark, lambda: {
            # registered plans: build timed, as the bench times them
            "b_pricing_summary_default_dict": lambda: ps_fn(spark, sc_dir),
            "b_pricing_summary_no_dict": lambda: ps_fn(spark, shim),
            "c_big_orders_registered": lambda: bo_fn(spark, sc_dir),
            "d_big_orders_bucketed": q18_joins(
                spark, sc_dir, having(spark.table("li_bkt"))),
            "d_agg_only_parquet": having(
                spark.read.parquet(li_dir).select("l_orderkey", "l_quantity")),
            "d_agg_only_bucketed": having(spark.table("li_bkt")),
            "e_big_orders_preagg": q18_joins(
                spark, sc_dir,
                spark.read.parquet(pre).where(F.col("qty_sum") > 250)),
        }, reps=args.reps)

        # DuckDB reference on the same staging
        ddb = bench.run_duckdb(sc_dir, ["pricing_summary", "big_orders"],
                               default_parallelism())
        print("  duckdb:", ddb, flush=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
