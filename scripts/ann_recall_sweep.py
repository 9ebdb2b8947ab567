"""Measure ANN recall@10 across sf dirs and n_probe settings.

Produces (a) the oracle pins for ann_recall_at_k / the recall floor for
ann_ivfpq_maintained (seeded KMeans + fixed testdata make the numbers
deterministic per dataset — they are regression pins, not tolerances),
and (b) the recall-vs-n_probe table recorded in BASELINE.md, the curve
a vector-store operator actually tunes with.

    python scripts/ann_recall_sweep.py [--sfs 0.001,0.01,0.1]
"""
import os
import shutil
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_mudah_spark.operators import similarity as sim  # noqa: E402
from etl_mudah_spark.tables import load  # noqa: E402

N_PROBES_BATCH = 5
K = 10
SWEEP = [1, 2, 4, 6, 8, 10, 16]


def hits_at_10(emb, n, exact_sets, query_fn):
    """Total hits@10 across the probe batch (self excluded both sides)."""
    total = 0
    per = []
    for pid in range(N_PROBES_BATCH):
        probe = sim.probe_row(emb, probe_id=pid)
        approx = (
            query_fn(probe)
            .where(F.col("vec_id") != pid)
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(K)
        )
        got = {r["vec_id"] for r in approx.collect()}
        h = len(got & exact_sets[pid])
        per.append(h)
        total += h
    return total, per


def main():
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    sfs = ["0.001", "0.01", "0.1"]
    if "--sfs" in sys.argv:
        sfs = sys.argv[sys.argv.index("--sfs") + 1].split(",")
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        emb = load(spark, sf_dir, "embeddings")
        n = emb.count()
        probes = emb.where(F.col("vec_id") < N_PROBES_BATCH).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        exact = sim.batch_topk(emb, probes, k=K).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
        t0 = time.time()
        ivf_dir = tempfile.mkdtemp(prefix="sweep_ivf_")
        pq_dir = tempfile.mkdtemp(prefix="sweep_ivfpq_")
        maint_dir = tempfile.mkdtemp(prefix="sweep_maint_")
        sim.ivf_build_index(emb, ivf_dir, n_cells=16)
        sim.ivfpq_build_index(
            emb, pq_dir, n_cells=16, m=8, k=64, sample_mod=max(1, n // 8192)
        )
        # maintained twin: build on 80%, append the held-out 20%, maintain
        base = emb.where(F.col("vec_id") % 5 != 0)
        batch = emb.where(F.col("vec_id") % 5 == 0)
        nb = base.count()
        sim.ivfpq_build_index(
            base, maint_dir, n_cells=16, m=8, k=64, sample_mod=max(1, nb // 8192)
        )
        sim.ivfpq_index_append(spark, maint_dir, batch)
        report = sim.ivfpq_maintain(
            spark, maint_dir, emb, max_imbalance=4.0, sample_mod=max(1, n // 8192)
        )
        print(f"\n=== sf{sf} (n={n}) build {time.time()-t0:.0f}s "
              f"maintain_report={report}")
        shortlist = max(100, n // 5)
        for np_ in SWEEP:
            hi, pi = hits_at_10(
                emb, n, exact_sets,
                lambda p, np_=np_: sim.ivf_query_index_df(
                    spark, ivf_dir, p, k=K + 1, n_probe=np_
                ),
            )
            hp, pp = hits_at_10(
                emb, n, exact_sets,
                lambda p, np_=np_: sim.ivfpq_query_index_df(
                    spark, emb, pq_dir, p, k=K + 1, n_probe=np_,
                    shortlist=shortlist,
                ),
            )
            print(f"sf{sf} n_probe={np_:2d} ivf={hi}/50 {pi}  "
                  f"ivfpq={hp}/50 {pp}", flush=True)
        hm, pm = hits_at_10(
            emb, n, exact_sets,
            lambda p: sim.ivfpq_query_index_df(
                spark, emb, maint_dir, p, k=K + 1, n_probe=10,
                shortlist=shortlist,
            ),
        )
        # single-probe (vec_id=0, self included) hits vs brute, the
        # ann_ivfpq_maintained query shape
        probe0 = sim.probe_row(emb)
        brute0 = {
            r["vec_id"]
            for r in sim.brute_force_topk_df(emb, probe0, k=K).collect()
        }
        m0 = sim.ivfpq_query_index_df(
            spark, emb, maint_dir, probe0, k=K, n_probe=10, shortlist=shortlist
        )
        h0 = len({r["vec_id"] for r in m0.collect()} & brute0)
        print(f"sf{sf} maintained(n_probe=10): batch={hm}/50 {pm} "
              f"single-probe hits@10={h0}/10", flush=True)
        for d in (ivf_dir, pq_dir, maint_dir):
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
