"""Full driver simulation: vanilla SparkSession, the first-50 query
window (what CORRECTNESS_r{N} records), DuckDB oracle hash-compare at
sf0.01 — the exact contract the grading driver runs.

    python scripts/driver_sim.py            # the 50-query window
    python scripts/driver_sim.py --rest     # the out-of-window tail
    python scripts/driver_sim.py --names a,b,c   # just those queries
"""
from pyspark.sql import SparkSession
import os, sys, time
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))
SF = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECT", "/root/testdata/sf0.01")


def main():
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E
    from oracle_utils import duckdb_conn, _canon
    qs, osql = E.queries(), E.oracle_sql()
    if "--names" in sys.argv:
        wanted = sys.argv[sys.argv.index("--names") + 1].split(",")
        unknown = [n for n in wanted if n not in qs]
        if unknown:
            sys.exit(f"unknown query names: {unknown}")
        window = wanted
    elif "--rest" in sys.argv:
        window = list(qs)[50:]
    else:
        window = list(qs)[:50]
    t_all = time.time()
    fails, slow = [], []
    for n in window:
        t0 = time.time()
        try:
            spdf = qs[n](spark, SF).toPandas()
            if n in osql:
                con = duckdb_conn(SF)
                odf = con.execute(osql[n]).df()
                con.close()
                assert len(spdf) == len(odf), f"rows {len(spdf)} vs {len(odf)}"
                assert sorted(c.lower() for c in spdf.columns) == sorted(
                    c.lower() for c in odf.columns
                ), f"cols {list(spdf.columns)} vs {list(odf.columns)}"
                bad = [(a, b) for a, b in zip(_canon(spdf), _canon(odf)) if a != b]
                assert not bad, f"value mismatch {bad[:2]}"
                status = "HASH-OK"
            else:
                status = "ROWS-ONLY"
            dt = time.time() - t0
            if dt > 20:
                slow.append((n, round(dt, 1)))
            print(f"PASS {n} {status} ({dt:.1f}s)")
        except Exception as e:
            fails.append(n)
            print(f"FAIL {n}: {str(e)[:300]}")
    print(f"\ntotal {time.time()-t_all:.0f}s; FAILS: {fails}; slow(>20s): {slow}")


if __name__ == "__main__":
    main()
