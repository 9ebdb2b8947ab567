"""Round-11 continuation of the x100 pure-scan decomposition
(VERDICT r10 item 3): the factorized pricing_summary runs ~2.0 s at
x100 vs the 0.78 s groupBy(flag,status).count() floor — where does the
other ~1.2 s go? Candidate attributions, each timed on the same staged
replica:

  scan_count         3-col scan + 2-key count           (r10 floor)
  decode_doubles     7-col scan, plain double sums      (decode cost)
  factorized         the registered plan                (baseline)
  fact_packed_dt     (d,t) packed into ONE int key      (hash-map probe cost)
  fact_offheap       factorized + off-heap column vectors (decode path)

plus big_orders' remaining gap (4.61 s vs DuckDB 1.44):

  bo_current         dsum2(l_quantity) per order (registered)
  bo_longticks       sum(bigint ticks) per order, /100 at the end
  bo_agg_only        the groupBy+HAVING alone (no join/sort)

Run SOLO. Results -> BASELINE.md round-11 notes.

    python scripts/x100_decomp_r11.py [--reps N] [--sf-dir DIR] [--factor F]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from etl_mudah_spark.session import default_parallelism, get_spark
from etl_mudah_spark.tables import load
from scripts import ab

CUTOFF = "1999-09-02"
X100_LAYOUT = dict(
    target_bytes=64 * 1024 * 1024, cap=64, row_group_bytes=16 * 1024 * 1024
)


def factorized(li, key_cols, d2, t2):
    s = lambda c: F.sum(F.col(c).cast("decimal(8,2)"))  # noqa: E731
    g1 = (
        li.where(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", *key_cols)
        .agg(
            s("l_quantity").alias("sq"),
            s("l_extendedprice").alias("sp"),
            s("l_discount").alias("sd"),
            F.count("*").alias("n"),
        )
    )
    return g1.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("sq").cast("double").alias("sum_qty"),
        F.sum("sp").cast("double").alias("sum_base_price"),
        F.sum(F.col("sp") * (1 - d2)).cast("double").alias("sum_disc_price"),
        F.sum(F.col("sp") * (1 - d2) * (1 + t2)).cast("double").alias("sum_charge"),
        (F.sum("sq").cast("double") / F.sum("n")).alias("avg_qty"),
        (F.sum("sp").cast("double") / F.sum("n")).alias("avg_price"),
        (F.sum("sd").cast("double") / F.sum("n")).alias("avg_disc"),
        F.sum("n").alias("count_order"),
    )


def build_phases(spark, sc_dir):
    def li():
        return load(spark, sc_dir, "lineitem")

    base = li().where(F.col("l_shipdate") <= CUTOFF).groupBy(
        "l_returnflag", "l_linestatus"
    )
    d2 = F.col("l_discount").cast("decimal(4,2)")
    t2 = F.col("l_tax").cast("decimal(4,2)")
    # packed single-int (d,t) key: round(d*100)*256 + round(t*100) —
    # injective for 2-dp values in [0, 2.55]; derive d/t back exactly.
    dt = (F.round(F.col("l_discount") * 100).cast("int") * 256
          + F.round(F.col("l_tax") * 100).cast("int")).alias("dt")
    d2p = (F.floor(F.col("dt") / 256).cast("decimal(4,0)")
           / F.lit(100).cast("decimal(4,0)")).cast("decimal(4,2)")
    t2p = ((F.col("dt") % 256).cast("decimal(4,0)")
           / F.lit(100).cast("decimal(4,0)")).cast("decimal(4,2)")
    orders = load(spark, sc_dir, "orders")
    cust = load(spark, sc_dir, "customer")

    def bo(qty_sum_expr, post=None):
        q = li().groupBy("l_orderkey").agg(qty_sum_expr.alias("qty_sum"))
        q = post(q) if post else q.where(F.col("qty_sum") > 250)
        return (q.join(orders, q.l_orderkey == orders.o_orderkey)
                .join(cust, orders.o_custkey == cust.c_custkey)
                .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                        "o_totalprice", "qty_sum")
                .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
                .limit(20))

    return {
        "scan_count": base.count(),
        "decode_doubles": base.agg(
            F.sum("l_quantity"), F.sum("l_extendedprice"), F.sum("l_discount"),
            F.sum("l_tax"), F.count("*")),
        "factorized": factorized(li(), ["l_discount", "l_tax"], d2, t2),
        "fact_packed_dt": factorized(li().withColumn("dt", dt), ["dt"], d2p, t2p),
        "fact_offheap": ab.with_conf(
            spark, {"spark.sql.columnVector.offheap.enabled": "true"},
            factorized(li(), ["l_discount", "l_tax"], d2, t2)),
        "bo_current": bo(
            F.sum(F.col("l_quantity").cast("decimal(8,2)")).cast("double")),
        "bo_longticks": bo(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
            post=lambda q: q.where(F.col("qty_sum") > 25000).withColumn(
                "qty_sum", (F.col("qty_sum") / 100).cast("double"))),
        "bo_agg_only": li().groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(8,2)"))
             .cast("double").alias("qty_sum"))
        .where(F.col("qty_sum") > 250),
    }


def main():
    args = ab.parser(__doc__, reps=3, factor=100).parse_args()
    spark = get_spark("x100-decomp-r11")
    sc_dir = ab.staged(
        spark, args, ["lineitem", "orders", "customer"], **X100_LAYOUT
    )
    ab.run(spark, lambda: build_phases(spark, sc_dir), reps=args.reps)
    ddb = bench.run_duckdb(
        sc_dir, ["pricing_summary", "big_orders"], default_parallelism()
    )
    print(f"duckdb: {ddb}")


if __name__ == "__main__":
    main()
