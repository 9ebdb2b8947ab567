"""Decompose the x100 pure-scan gap (VERDICT r9 item 2).

BENCH_r09: pricing_summary at the x100 staged point runs 7.9 s on
Spark vs 0.5 s on DuckDB, same 32 cores — the one unexplained
performance number in the record. Suspects named by the judge:
per-row DECIMAL(18,6) casts + decimal sums in every dsum (DuckDB sums
decimals as native int128) and vectorized-reader batch configuration.

This script stages the x100 lineitem replica exactly as bench.py does
(64 MB files, 16 MB row groups) and times:

  scan_count      groupBy(flag, status).count()            — scan+agg floor
  double_sums     all 8 aggregates as plain double sums     — no decimal
  long_sums       sums over integer ticks (x*100 as long)   — exact, no decimal
  decimal_current the registered dsum/davg lattice          — what bench runs
  decimal_batch16k  decimal_current with columnarReaderBatchSize=16384
  duckdb          the oracle twin (decimal lattice), 32 threads

plus a filter-off variant of decimal_current to size the timestamp
predicate. Run SOLO.

    python scripts/x100_scan_decomp.py [--reps N] [--sf-dir DIR] [--factor F]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

import bench
from etl_mudah_spark.operators.manifest import manifest_resolve
from etl_mudah_spark.session import default_parallelism, get_spark
from etl_mudah_spark.tables import load
from scripts import ab
from scripts.x100_decomp_r11 import CUTOFF, X100_LAYOUT

DUCKDB_DOUBLE_SUMS = """
SELECT l_returnflag, l_linestatus, SUM(l_quantity), SUM(l_extendedprice),
       SUM(l_extendedprice*(1-l_discount)),
       SUM(l_extendedprice*(1-l_discount)*(1+l_tax)),
       AVG(l_quantity), AVG(l_extendedprice), AVG(l_discount), COUNT(*)
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def agg_exprs(kind: str):
    q, p, d, t = (F.col(c) for c in
                  ("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    disc = p * (1 - d)
    charge = p * (1 - d) * (1 + t)
    if kind == "double":
        s = lambda c: F.sum(c)  # noqa: E731
    elif kind == "long":
        s = lambda c: F.sum(F.round(c * 100).cast("long")) / 100.0  # noqa: E731
    elif kind == "decimal":
        s = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    else:
        raise ValueError(kind)
    return [
        s(q).alias("sum_qty"),
        s(p).alias("sum_base_price"),
        s(disc).alias("sum_disc_price"),
        s(charge).alias("sum_charge"),
        (s(q) / F.count(q)).alias("avg_qty"),
        (s(p) / F.count(p)).alias("avg_price"),
        (s(d) / F.count(d)).alias("avg_disc"),
        F.count("*").alias("count_order"),
    ]


def build_phases(spark, sc_dir, con):
    li = load(spark, sc_dir, "lineitem")
    base = li.where(F.col("l_shipdate") <= CUTOFF).groupBy(
        "l_returnflag", "l_linestatus"
    )
    return {
        "scan_count": base.count(),
        "double_sums": base.agg(*agg_exprs("double")),
        "long_sums": base.agg(*agg_exprs("long")),
        "decimal_current": base.agg(*agg_exprs("decimal")),
        "decimal_nofilter": li.groupBy("l_returnflag", "l_linestatus").agg(
            *agg_exprs("decimal")
        ),
        "decimal_batch16k": ab.with_conf(
            spark, {"spark.sql.parquet.columnarReaderBatchSize": "16384"},
            base.agg(*agg_exprs("decimal")),
        ),
        "decimal_no2level": ab.with_conf(
            spark, {"spark.sql.codegen.aggregate.map.twolevel.enabled": "false"},
            base.agg(*agg_exprs("decimal")),
        ),
        "duckdb_double_sums": lambda: con.execute(DUCKDB_DOUBLE_SUMS).fetchall(),
    }


def main():
    args = ab.parser(__doc__, reps=3, factor=100).parse_args()
    spark = get_spark("x100-decomp")
    sc_dir = ab.staged(spark, args, ["lineitem"], **X100_LAYOUT)
    con = duckdb.connect()
    con.execute(f"SET threads TO {default_parallelism()}")
    li = manifest_resolve(os.path.join(sc_dir, "lineitem.parquet"))
    li_path = li if os.path.isfile(li) else f"{li}/*.parquet"
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{li_path}'")
    ab.run(spark, lambda: build_phases(spark, sc_dir, con), reps=args.reps)
    ddb = bench.run_duckdb(sc_dir, ["pricing_summary"], default_parallelism())
    print(f"duckdb pricing_summary {ddb['pricing_summary']:7.2f} s")


if __name__ == "__main__":
    main()
