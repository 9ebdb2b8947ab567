"""Paired A/B: tfidf_cosine_pairs with the r14 tf boundary only (A)
vs tf + wgt boundaries (B). wgt (tf x idf) feeds three consumers
(norms + both posting self-join sides); each re-reads the tf RDD and
re-runs the dfreq aggregation + idf join. A second materialize-once on
wgt would make those one pass.

    python scripts/tfidf_wgt_ab_r15.py [--reps N] [--sf-dir DIR] [--factor F]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.operators.ckpt import materialize_once
from etl_mudah_spark.operators.dedup import word_ngrams
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

PARAMS = dict(term_n=2, threshold=0.5, min_df=2, max_df=60)


def tfidf_wgt_ckpt(df, id_col="doc_id", text_col="text", term_n=2,
                   threshold=0.5, min_df=2, max_df=None):
    tok = df.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), term_n)).alias("term"),
    ).select(id_col, F.lower("term").alias("term"))
    tf = materialize_once(
        tok.groupBy(id_col, "term").agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    kept = dfreq.where(F.col("df") >= min_df)
    if max_df is not None:
        kept = kept.where(F.col("df") <= max_df)
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    idf = kept.join(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    wgt = materialize_once(
        tf.join(idf, "term").select(
            id_col, "term", (F.col("tf") * F.col("idf")).alias("wv")
        )
    )
    dsum = lambda c: F.sum(c.cast("decimal(28,8)")).cast("double")  # noqa: E731
    norms = wgt.groupBy(id_col).agg(
        F.sqrt(dsum(F.col("wv") * F.col("wv"))).alias("nr")
    )
    a = wgt.alias("a").hint("shuffle_hash")
    b = wgt.alias("b").hint("shuffle_hash")
    dot = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(dsum(F.col("a.wv") * F.col("b.wv")).alias("_dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("nr").alias("_na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("nr").alias("_nb"))
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine", F.col("_dot") / (F.col("_na") * F.col("_nb")))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def main():
    args = ab.parser(__doc__, reps=6, factor=10).parse_args()
    spark = get_spark("tfidf_wgt_ab_r15")
    spark.sparkContext.setLogLevel("WARN")
    docs = load(spark, ab.staged(spark, args, ["documents"]), "documents")
    ab.run(
        spark,
        lambda: {
            "A_tf_ckpt": dd.tfidf_cosine_pairs(docs, **PARAMS),
            "B_tf_wgt_ckpt": tfidf_wgt_ckpt(docs, **PARAMS),
        },
        reps=args.reps,
        check=["doc_a", "doc_b", "cast(round(cosine,6) as string)"],
    )


if __name__ == "__main__":
    main()
