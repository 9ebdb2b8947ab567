"""Paired A/B for ngram_jaccard_pairs (the corpus_prep pairs pipeline).

Variants:
  D  current: shingled computed twice (sizes agg pass + index pass),
     index filtered to df <= max_shingle_df
  E  one shingle pass: materialize-once (id, shingle array); sizes is
     size(array) (no agg pass), index explodes the checkpoint
  F  E + singleton prune: the df-cap aggregation already counts rows
     per shingle, so ALSO dropping _df < 2 is free and removes every
     shingle that cannot produce a pair (a pair needs two index rows
     with distinct ids; same-id rows fail doc_a < doc_b)

Both regimes per VERDICT r14 item 4 (the x10 staging is a zero-pair
replica-decorrelation artifact): raw sf0.1 documents (256 pairs at
t=0.2) and the x10 staging (0 pairs).

    python scripts/jaccard_ab_r15.py [--reps N] [--sf-dir DIR] [--factor F]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.operators.ckpt import materialize_once
from etl_mudah_spark.plans.datapipe import _NGRAM_MAX_SHINGLE_DF
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

THRESHOLD = 0.2
CHECK = ["doc_a", "doc_b", "cast(round(jaccard,6) as string)"]


def variants(docs):
    def finish(common, sizes):
        na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
        nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        return (
            common.join(na, "doc_a")
            .join(nb, "doc_b")
            .withColumn(
                "jaccard",
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
            )
            .where(F.col("jaccard") >= THRESHOLD)
            .select("doc_a", "doc_b", "jaccard")
        )

    def pairs_from(index):
        a = index.alias("a").hint("shuffle_hash")
        b = index.alias("b").hint("shuffle_hash")
        return (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("common"))
        )

    out = {
        "D_current": dd.ngram_jaccard_pairs(
            docs, threshold=THRESHOLD, max_shingle_df=_NGRAM_MAX_SHINGLE_DF
        )
    }
    for name, prune in (("E_one_pass", False), ("F_prune_singletons", True)):
        sh = materialize_once(
            docs.select(
                F.col("doc_id"), dd.word_shingles(F.col("text"), 3).alias("_shs")
            )
        )
        shingled = sh.select(F.col("doc_id"), F.explode("_shs").alias("sh"))
        sizes = sh.select(F.col("doc_id"), F.size("_shs").alias("n_sh"))
        cond = F.col("_df") <= _NGRAM_MAX_SHINGLE_DF
        if prune:
            cond = cond & (F.col("_df") >= 2)
        keep = (
            shingled.groupBy("sh").agg(F.count("*").alias("_df")).where(cond).select("sh")
        )
        index = shingled.join(keep, "sh")
        out[name] = finish(pairs_from(index), sizes)
    return out


def main():
    args = ab.parser(__doc__, reps=5, factor=10).parse_args()
    spark = get_spark("jaccard_ab_r15")
    spark.sparkContext.setLogLevel("WARN")
    regimes = [args.sf_dir]
    if args.factor > 1:
        regimes.append(ab.staged(spark, args, ["documents"]))
    for sf_dir in regimes:
        print(f"== {sf_dir}")
        ab.run(
            spark,
            lambda: variants(load(spark, sf_dir, "documents")),
            reps=args.reps,
            check=CHECK,
        )


if __name__ == "__main__":
    main()
