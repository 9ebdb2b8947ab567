"""Round-15: A/B — repeated_ngram_spans as-is (two full text->gram
passes, one per consumer) vs a words-array materialize-once boundary
(split once, both consumers build grams from the stored array).

The boundary stores ~1x text bytes (the token array), unlike the
rejected 13x grams variant. Candidate win = one regex-split pass over
the corpus; candidate loss = RDD block write+read of the token arrays.
Checksum-gated first; rotated order; fresh plans per rep. Input = the
e2e's `nd` stage output shape at the x10 staging (the operator's real
call site).

Usage: python scripts/spans_words_ab_r15.py [--reps N] [--factor F] [--scratch DIR]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.operators.ckpt import materialize_once
from etl_mudah_spark.operators.decontam import positions_to_spans
from etl_mudah_spark.operators.dedup import WHITESPACE_RE
from etl_mudah_spark.plans import datapipe as dp
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

N = dp.REPEATED_SPAN_N
MIN_DOCS = dp.REPEATED_SPAN_MIN_DOCS


def words_once(corpus):
    # split ONCE into a materialized token array; both consumers
    # build the gram sequence from the stored array.
    w = materialize_once(
        corpus.select(
            "doc_id",
            F.split(F.trim(F.col("text")), WHITESPACE_RE).alias("_w"),
        )
    )
    wb = F.col("_w")
    idx = F.sequence(F.lit(1), F.size(wb) - (N - 1))
    grams = F.when(
        F.size(wb) >= N,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(wb, i, N))),
    ).otherwise(F.array().cast("array<string>"))
    pos = w.select(
        "doc_id", F.posexplode(grams).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    repeated = (
        pos.hint("shuffle_hash")
        .groupBy("gram")
        .agg(F.count_distinct(F.col("doc_id")).alias("_nd"))
        .where(F.col("_nd") >= MIN_DOCS)
        .select("gram")
    )
    hits = pos.hint("shuffle_hash").join(
        repeated.hint("shuffle_hash"), "gram", "left_semi"
    )
    return positions_to_spans(hits, id_col="doc_id", n=N)


def main() -> None:
    args = ab.parser(__doc__, reps=3, factor=10).parse_args()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc_dir = ab.staged(spark, args, ["documents"])

    def build():
        corpus = load(spark, sc_dir, "documents").select("doc_id", "text")
        return {
            "old": dd.repeated_ngram_spans(corpus, n=N, min_docs=MIN_DOCS),
            "new": words_once(corpus),
        }

    ab.run(
        spark,
        build,
        reps=args.reps,
        check=["doc_id", "span_id", "span_start", "span_end", "n_matched_grams"],
    )


if __name__ == "__main__":
    main()
