"""Round-13 x100 experiments (VERDICT r12 items 3, 4, 6):

big_orders_preagg (item 3, "finish to <=2x in-series"):
  a. read the ACTUAL x100 plan of the preagg query — are both joins
     broadcast after AQE, or does the orders side go sort-merge?
  b. baseline timing (the registered rollup, built untimed, as the
     bench runs it);
  c. lever: rollup written SORTED by qty_sum — parquet row-group
     min/max stats turn the HAVING filter into a near-total row-group
     skip (zone maps; the sort is free at refresh time because IVM
     rewrites the rollup per version anyway; adopted since, so the
     registered rollup is already sorted);
  d. lever: orders pre-projected to the 4 consumed columns before the
     join (tests whether scan-side pruning already does this);
  e. DuckDB-from-raw twin for the ratio.

q18 IVM refresh (item 4): bench_q18_ivm_refresh at the same staged
point — the maintenance cost next to the query it serves, plus the
from-scratch rebuild for the refresh-vs-rebuild note.

doc_shard_pack_global x100 (item 6): first read of the shuffle-bound
doc-tier series + its DuckDB twin.

Run SOLO; results go to BASELINE.md round-13 notes.

    python scripts/x100_decomp_r13.py [--reps N] [--sf-dir DIR] [--factor F]
"""
import os
import shutil
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F

import bench
from etl_mudah_spark.plans import registry
from etl_mudah_spark.plans.starjoins import _q18_rollup
from etl_mudah_spark.session import default_parallelism, get_spark
from etl_mudah_spark.tables import load
from scripts import ab
from scripts.x100_decomp_r11 import X100_LAYOUT


def q18_from_rollup(spark, rollup_path, orders, cust):
    q = spark.read.parquet(rollup_path).where(F.col("qty_sum") > 250)
    return (
        q.join(orders, q.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "qty_sum")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def main():
    args = ab.parser(__doc__, reps=3, factor=100).parse_args()
    os.chdir(_ROOT)
    spark = get_spark("x100-r13")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sc_dir = ab.staged(
        spark, args, ["customer", "orders", "lineitem", "documents"],
        **X100_LAYOUT,
    )
    scratch = tempfile.mkdtemp(prefix="x100r13_")
    try:
        # ---- rollup variants (built untimed) ----
        rollup_df, rollup = _q18_rollup(spark, sc_dir)
        n_surv = rollup_df.where(F.col("qty_sum") > 250).count()
        print(f"rollup rows {rollup_df.count():,}; survivors(>250) {n_surv:,}",
              flush=True)
        sorted_rollup = f"{scratch}/rollup_sorted"
        (
            rollup_df.repartitionByRange(16, "qty_sum")
            .sortWithinPartitions("qty_sum")
            .write.parquet(sorted_rollup)
        )

        def orders():
            return load(spark, sc_dir, "orders")

        def cust():
            return load(spark, sc_dir, "customer")

        # ---- (a) the actual plan, post-AQE ----
        df = q18_from_rollup(spark, rollup, orders(), cust())
        ab.noop(df)  # materialize so AQE finalizes
        plan = df._jdf.queryExecution().executedPlan().toString()
        print("x100 preagg plan join/exchange lines:", flush=True)
        for ln in plan.splitlines():
            if "Join" in ln or "Exchange" in ln:
                print("   ", ln.strip()[:110], flush=True)

        # ---- (b,c,d) + doc_shard_pack_global at x100 ----
        pack_fn = registry.REGISTRY["doc_shard_pack_global"].spark_fn
        ab.run(spark, lambda: {
            "preagg_baseline": q18_from_rollup(spark, rollup, orders(), cust()),
            "preagg_sorted_rollup": q18_from_rollup(
                spark, sorted_rollup, orders(), cust()),
            "preagg_sorted_orders_projected": q18_from_rollup(
                spark, sorted_rollup,
                orders().select(
                    "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
                cust()),
            # the registered plan: build timed, as the bench times it
            "doc_shard_pack_global": lambda: pack_fn(spark, sc_dir),
        }, reps=args.reps)

        # ---- (e) DuckDB twins ----
        ddb = bench.run_duckdb(
            sc_dir, ["big_orders", "big_orders_preagg", "doc_shard_pack_global"],
            default_parallelism(),
        )
        print("duckdb-from-raw:", ddb, flush=True)

        # ---- IVM refresh (bench fn, min-of-2 + warm) vs full rebuild ----
        ab.run(spark, lambda: {
            "q18_ivm_refresh": lambda: bench.bench_q18_ivm_refresh(spark, sc_dir),
            "q18_rollup_full_rebuild_write": lambda: (
                load(spark, sc_dir, "lineitem")
                .groupBy("l_orderkey")
                .agg(F.count("*").alias("cnt"),
                     F.sum(F.coalesce(F.col("l_quantity"), F.lit(0)))
                     .alias("qty_sum"))
                .write.mode("overwrite").parquet(f"{scratch}/rebuild")
            ),
        }, reps=1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
