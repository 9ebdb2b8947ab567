"""Paired A/B: capped LSH near-dup, current form (D) vs single-UDF-pass
narrow checkpoint (G), both from scripts/lsh_x10_decomp_r15.py.

    python scripts/lsh_ab_dg_r15.py [--reps N] [--factor F]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mudah_spark.session import get_spark
from scripts import ab
from scripts.lsh_x10_decomp_r15 import CHECK, build_phases

VARIANTS = ("D_full", "G_full_narrow_ckpt")


def main():
    args = ab.parser(__doc__, reps=6, factor=10).parse_args()
    spark = get_spark("lsh_ab_dg_r15")
    spark.sparkContext.setLogLevel("WARN")
    sc_dir = ab.staged(spark, args, ["embeddings"])

    def build():
        ph = build_phases(spark, sc_dir)
        return {n: ph[n] for n in VARIANTS}

    ab.run(spark, build, reps=args.reps, check=CHECK)


if __name__ == "__main__":
    main()
