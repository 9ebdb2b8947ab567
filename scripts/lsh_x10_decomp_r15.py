"""Round-15 decomposition of emb_cosine_near_dup_lsh at the x10 point.

VERDICT r14 item 1: the x10 spark-vs-duckdb ratio hovers at the 2x gate
and this query is ~15-22 s of the ~32-38 s x10 total. The r14 analysis
(OPTIMIZATION_r14.md section 7) says candidate-bound: ~22.4M exact
verifications + an 8-12 s candidate join + dedup. This script separates
the phases ON THE EXECUTED PLAN so round 15 can either find a smaller
exchange or write the floor ruling with numbers:

  A  buckets UDF + posexplode + cap filter       (ids)          -> noop
  B  A + (tbl,bkt) self-join, NO dedup           (cand_raw)     -> noop
  C  B + dropDuplicates(id_a,id_b)               (cand)         -> noop
  D  full query (C + vector attach + dot + filter)              -> noop
  E  full query but verify joins broadcast(base) explicitly     -> noop
  F  full query with dedup via single packed pair key           -> noop
  G  full query over a narrow (id,tbl,bkt) lazy checkpoint      -> noop
  H  full query, verify-then-dedup                              -> noop

E, F and G are checksum-gated against D before timing.

Run:  python scripts/lsh_x10_decomp_r15.py [--reps N] [--factor F] [--plan-out FILE]
"""
from __future__ import annotations

import os
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F

from etl_mudah_spark.operators import similarity as sim
from etl_mudah_spark.plans.datapipe import EMB_DIM
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

THRESHOLD = 0.45
CAP = 64
CHECK = ["id_a", "id_b", "cast(cosine_sim as string)"]


def build_phases(spark, sc_dir):
    df = load(spark, sc_dir, "embeddings")
    # max_tables=96 matches bench._lsh_cosine_production exactly
    n_planes, n_tables = sim.srp_params(THRESHOLD, 0.95, 96)
    buckets = sim.srp_buckets_udf(EMB_DIM, n_planes, n_tables)
    base = df.select(
        F.col("vec_id").alias("_id"), sim.as_double(F.col("embedding")).alias("_v")
    ).withColumn("_norm", sim.l2_norm(F.col("_v")))
    ids = df.select(
        F.col("vec_id").alias("_id"), buckets(F.col("embedding")).alias("_bkts")
    ).select("_id", "_bkts", F.posexplode(F.col("_bkts")).alias("_tbl", "_bkt"))
    sizes = ids.groupBy("_tbl", "_bkt").agg(F.count("*").alias("_sz"))
    ids = (
        ids.join(sizes, ["_tbl", "_bkt"])
        .where(
            (F.col("_sz") <= CAP)
            | (
                F.pmod(
                    F.xxhash64("_id"),
                    F.ceil(F.col("_sz") / F.lit(CAP)).cast("bigint"),
                )
                == 0
            )
        )
        .drop("_sz")
    )
    l, r = ids.alias("l"), ids.alias("r")
    join_on = (
        (F.col("l._tbl") == F.col("r._tbl"))
        & (F.col("l._bkt") == F.col("r._bkt"))
        & (F.col("l._id") < F.col("r._id"))
    )
    cand_raw = (
        l.hint("shuffle_hash")
        .join(r.hint("shuffle_hash"), join_on)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )
    cand = cand_raw.dropDuplicates(["id_a", "id_b"])

    def verify(c, bcast=False):
        ba = base.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_norm").alias("_na"),
        )
        bb = base.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_norm").alias("_nb"),
        )
        if bcast:
            ba, bb = F.broadcast(ba), F.broadcast(bb)
        pairs = c.join(ba, "id_a").join(bb, "id_b")
        cos = sim.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
        return pairs.select(
            "id_a", "id_b", F.round(cos, 4).alias("cosine_sim")
        ).where(F.col("cosine_sim") >= THRESHOLD)

    # F: dedup exchange carries ONE column: pack (id_a, id_b) into a
    # struct so the hash-agg keys on a single field (same bytes, fewer
    # key columns); unpack after.
    cand_packed = (
        cand_raw.select(F.struct("id_a", "id_b").alias("_p"))
        .dropDuplicates(["_p"])
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    )

    # G: single UDF pass — the capped path never consults _bkts after
    # the explode (dedup is the dropDuplicates shuffle, not the
    # first-collision filter), so a NARROW (id, tbl, bkt) lazy
    # localCheckpoint (~20 B/row; the r14-rejected variant stored the
    # 8t-byte _bkts array) lets sizes and both self-join sides read one
    # materialized pass instead of re-running the Arrow matmul 4x.
    ids_n = (
        df.select(
            F.col("vec_id").alias("_id"), buckets(F.col("embedding")).alias("_bkts")
        )
        .select("_id", F.posexplode(F.col("_bkts")).alias("_tbl", "_bkt"))
        .localCheckpoint(eager=False)
    )
    sizes_n = ids_n.groupBy("_tbl", "_bkt").agg(F.count("*").alias("_sz"))
    ids_g = (
        ids_n.join(sizes_n, ["_tbl", "_bkt"])
        .where(
            (F.col("_sz") <= CAP)
            | (
                F.pmod(
                    F.xxhash64("_id"),
                    F.ceil(F.col("_sz") / F.lit(CAP)).cast("bigint"),
                )
                == 0
            )
        )
        .drop("_sz")
    )
    lg, rg = ids_g.alias("l"), ids_g.alias("r")
    cand_g = (
        lg.hint("shuffle_hash")
        .join(rg.hint("shuffle_hash"), join_on)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # H: verify-then-dedup. Measured multiplicity at x10 is only 1.16
    # (26.1M joined rows -> 22.45M distinct pairs), so the 16-byte/row
    # dedup exchange moves ~418 MB to save 14% of the verify dots.
    # Verifying every joined row and deduping the ~10k SURVIVORS is
    # exactly equal (cosine_sim is a deterministic expression of the
    # pair, so duplicates carry identical values) and replaces the
    # wide exchange with a trivial one.
    h = verify(cand_raw).dropDuplicates(["id_a", "id_b"])

    return {
        "A_ids_cap": ids,
        "B_join_nodedup": cand_raw,
        "C_join_dedup": cand,
        "D_full": verify(cand),
        "E_full_bcast_verify": verify(cand, bcast=True),
        "F_full_packed_dedup": verify(cand_packed),
        "G_full_narrow_ckpt": verify(cand_g),
        "H_verify_then_dedup": h,
    }


def main():
    ap = ab.parser(__doc__, reps=3, factor=10)
    ap.add_argument(
        "--plan-out", default=None,
        help="write the executed plan of D here (default: a file in a "
        "temp dir; the x10 capture BASELINE.md section 27 cites is kept "
        "in git history and is never rewritten)",
    )
    args = ap.parse_args()
    spark = get_spark("lsh_x10_decomp_r15")
    spark.sparkContext.setLogLevel("WARN")
    sc_dir = ab.staged(spark, args, ["embeddings"])
    phases = build_phases(spark, sc_dir)
    ab.gate({n: phases[n] for n in (
        "D_full", "E_full_bcast_verify", "F_full_packed_dedup", "G_full_narrow_ckpt"
    )}, CHECK)
    ab.run(spark, lambda: build_phases(spark, sc_dir), reps=args.reps)
    # executed plan of the full form: join strategies + exchanges
    d = build_phases(spark, sc_dir)["D_full"]
    ab.noop(d)
    ep = d._jdf.queryExecution().executedPlan().toString()
    for marker in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "Exchange", "ArrowEvalPython", "AQEShuffleRead",
    ):
        print(f"executed D: {marker} x{ep.count(marker)}")
    out = args.plan_out or os.path.join(
        tempfile.mkdtemp(prefix="lsh_x10_plan_"), "lsh_x10_executed_D.txt"
    )
    with open(out, "w") as fh:
        fh.write(ep)
    print(f"executed plan -> {out}")


if __name__ == "__main__":
    main()
