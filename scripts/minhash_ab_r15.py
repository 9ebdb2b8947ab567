"""Paired A/B: minhash_near_duplicates current (D, three shingle
passes) vs one-shingle-pass checkpointed form (E), both from
scripts/minhash_decomp_r15.py.

    python scripts/minhash_ab_r15.py [--reps N] [--sf-dir DIR] [--factor F]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab
from scripts import minhash_decomp_r15 as md

VARIANTS = ("D_full", "E_one_shingle_pass")


def main():
    args = ab.parser(__doc__, reps=6, factor=1).parse_args()
    spark = get_spark("minhash_ab_r15")
    spark.sparkContext.setLogLevel("WARN")
    docs = load(spark, ab.staged(spark, args, ["documents"]), "documents")

    def build():
        ph = md.build_phases(docs)
        return {n: ph[n] for n in VARIANTS}

    ab.run(spark, build, reps=args.reps, check=md.CHECK)


if __name__ == "__main__":
    main()
