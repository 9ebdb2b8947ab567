"""Round-15: sub-decomposition of ngram_jaccard_pairs at the x10
staged point, on the corpus_prep_e2e input (the post-quality-gate,
post-exact-dedup `e` base), at the e2e's parameters (threshold 0.2,
max_shingle_df 50).

Phases, fresh plans per rep:
  A  sh checkpoint materialization (the one shingle pass)
  B  index build (rare agg + semi filter) noop
  C  candidate self-join + pair count noop
  D  full pairs (C + sizes joins + jaccard filter) noop

Usage: python scripts/jaccard_decomp_r15.py [--reps N] [--factor F] [--scratch DIR]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.operators import text as tx
from etl_mudah_spark.operators.ckpt import materialize_once
from etl_mudah_spark.operators.dedup import word_shingles
from etl_mudah_spark.plans import datapipe as dp
from etl_mudah_spark.plans.llmprep import (
    _CPE_NEARDUP_THRESHOLD,
    CORPUS_MIN_TOKENS,
    CORPUS_MIN_TTR,
)
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

MAX_DF = dp._NGRAM_MAX_SHINGLE_DF


def build_phases(spark, sc_dir):
    def build_e():
        docs = load(spark, sc_dir, "documents").select("doc_id", "source", "text")
        q = (
            tx.quality_features(docs, "text")
            .where(
                (F.col("n_tokens") >= CORPUS_MIN_TOKENS)
                & (F.col("type_token_ratio") >= CORPUS_MIN_TTR)
            )
            .select("doc_id", "source", "text", "n_tokens")
        )
        return dd.exact_dedup(
            q.withColumn("k", F.md5(F.substring("text", 1, 40))),
            ["k"],
            ["doc_id"],
        ).drop("k")

    def build_sh():
        return materialize_once(
            build_e().select(
                F.col("doc_id"), word_shingles(F.col("text"), 3).alias("_shs")
            )
        )

    def build_index():
        shingled = build_sh().select(
            F.col("doc_id"), F.explode(F.col("_shs")).alias("sh")
        )
        rare = (
            shingled.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .where((F.col("_df") <= MAX_DF) & (F.col("_df") >= 2))
            .select("sh")
        )
        return shingled.join(rare, "sh")

    def build_common():
        index = build_index()
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

    sh = build_sh()
    return {
        # count() materializes the checkpoint RDD
        "A_sh_materialize": sh.count,
        "B_index_noop": build_index(),
        "C_common_noop": build_common(),
        "D_full_pairs_noop": dd.ngram_jaccard_pairs(
            build_e(), threshold=_CPE_NEARDUP_THRESHOLD, max_shingle_df=MAX_DF
        ).select("doc_a", "doc_b"),
    }


def main() -> None:
    args = ab.parser(__doc__, reps=3, factor=10).parse_args()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc_dir = ab.staged(spark, args, ["documents"])
    ab.run(spark, lambda: build_phases(spark, sc_dir), reps=args.reps)


if __name__ == "__main__":
    main()
