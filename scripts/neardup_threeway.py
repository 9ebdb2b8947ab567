"""Three-way embedding near-dup measurement at the x10 staged point
(VERDICT r9 item 9): the bench dominator `emb_cosine_near_dup_lsh` is
ONE way to run near-dup at scale, and the record should say which
operator a 100 TB user actually runs. Measures, on the same x10
embeddings replica:

  capped SRP-LSH     one-shot whole-corpus pairing (the bench query)
  SemDeDup           KMeans-cell-blocked within-cell pairing
  persisted SRP idx  build once + per-batch incremental dedup (the
                     production loop: cost shown is ONE 10%-batch)

Run SOLO. Results recorded in BASELINE.md round-10 notes.

    python scripts/neardup_threeway.py [--reps N] [--factor F]
"""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import similarity as sim
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab


def main():
    args = ab.parser(__doc__, reps=3, factor=10).parse_args()
    spark = get_spark("neardup-3way")
    emb = load(spark, ab.staged(spark, args, ["embeddings"]), "embeddings")
    print(f"embeddings: {emb.count()} vectors")
    scratch = tempfile.mkdtemp(prefix="neardup3_")
    try:
        # The bench query (emb_cosine_near_dup_lsh) is NOT re-measured
        # here: its benched cost INCLUDES the exact O(n²) all-pairs twin
        # (the recall-invariant verification side, 17.56 s of the r9 x10
        # record) — compare the PRODUCT paths below against that number.
        ab.run(spark, lambda: {
            # the product path alone: capped SRP-LSH pairing, no twin
            "capped_srp_lsh_product": lambda: sim.cosine_near_duplicates(
                emb, threshold=0.45, target_recall=0.95, max_tables=96, dim=64,
            ),
            # SemDeDup product path: cluster-scoped pairing, no twin
            "semdedup_product": lambda: sim.semantic_dedup_pairs(
                emb, threshold=0.45, n_cells=16,
            ),
        }, reps=args.reps)

        # Persisted SRP index + ONE incremental batch (10% of corpus):
        # the production daily loop — the build is an amortized
        # one-off, the per-batch cost is what recurs.
        idx_dir = f"{scratch}/srp_index"
        base = emb.where(F.col("vec_id") % 10 != 0)
        batch = emb.where(F.col("vec_id") % 10 == 0)
        ab.run(spark, lambda: {
            "srp_index_build_one_off": lambda: sim.srp_index_build(
                base, idx_dir, dim=64, n_planes=8, n_tables=24
            ),
        }, reps=1)
        ab.run(spark, lambda: {
            "srp_incremental_batch10pct": lambda: sim.srp_dedup_incremental(
                spark, batch, idx_dir, dim=64, n_planes=8, n_tables=24,
                threshold=0.45,
            ),
        }, reps=args.reps)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
