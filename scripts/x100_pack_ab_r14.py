"""Round-14 (cont.) same-epoch A/B at the x100 data-proportional
documents staging: doc_shard_pack_global OLD (hex _ok + size(split),
inlined) vs TOK (hex _ok + regexp_count token count) vs NEW (the
registered plan, which kept OLD's forms after round 14 rejected the
binary _ok and regexp_count levers), plus a projection-only micro A/B
of the token-count forms, all checksum-gated first.

Staging replicates bench.py's x100 documents point exactly (factor
min(2000, max(F, round(F*li/doc))), 64 MB files, 16 MB row groups,
doc_text_mode="suffix"). Pass --scratch to keep the staging for reuse.

Usage: python scripts/x100_pack_ab_r14.py [--reps N] [--factor F] [--scratch DIR] [--skip-micro]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import etl_mudah_spark.plans  # noqa: F401
from etl_mudah_spark.operators import sampling as smp
from etl_mudah_spark.operators import text as tx
from etl_mudah_spark.plans.llmprep import SHARD_TOKENS
from etl_mudah_spark.plans.registry import REGISTRY
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab


def regexp_count() -> Column:
    """The rejected token count, inlined (tx.token_count stayed
    size(split) after the rejection, so routing through it would
    vacuously time the current form — ADVICE r14)."""
    return F.regexp_count(F.trim(F.col("text")), F.lit(tx.WHITESPACE_RE)) + 1


def _pack_global_hex(spark, sc_dir: str, n_tok: Column) -> DataFrame:
    """The pre-change registered plan, inlined with the token count
    ``n_tok``: 32-char hex _ok sort key, same lazy-checkpoint
    boundary."""
    docs = load(spark, sc_dir, "documents").select(
        "doc_id", "source", n_tok.cast("bigint").alias("n_tok")
    )
    ok = F.md5(F.col("doc_id").cast("string"))
    cum = smp.bucketed_running_sum(
        docs.withColumn("_ok", ok).localCheckpoint(eager=False),
        F.substring("_ok", 1, 2),
        [F.col("_ok"), F.col("doc_id")],
        F.col("n_tok"),
        "cum",
    )
    return (
        cum.withColumn(
            "shard_id", F.floor((F.col("cum") - 1) / SHARD_TOKENS).cast("int")
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("shard_id")
    )


def pack_global_old(spark, sc_dir: str) -> DataFrame:
    return _pack_global_hex(spark, sc_dir, F.size(tx.words("text")))


def pack_global_tok(spark, sc_dir: str) -> DataFrame:
    """Token-count lever only: the rejected regexp_count form, hex _ok
    kept."""
    return _pack_global_hex(spark, sc_dir, regexp_count())


def main() -> None:
    ap = ab.parser(__doc__, reps=4, factor=100)
    ap.add_argument("--skip-micro", action="store_true")
    args = ap.parse_args()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    li_b = os.path.getsize(os.path.join(args.sf_dir, "lineitem.parquet"))
    doc_b = os.path.getsize(os.path.join(args.sf_dir, "documents.parquet"))
    sc_dir = ab.staged(
        spark,
        args,
        ["documents"],
        factor=min(2000, max(args.factor, round(args.factor * li_b / doc_b))),
        target_bytes=64 * 1024 * 1024,
        cap=64,
        row_group_bytes=16 * 1024 * 1024,
        doc_text_mode="suffix",
    )

    if not args.skip_micro:

        def micro():
            docs = load(spark, sc_dir, "documents")
            return {
                "micro-size-split": docs.select(
                    F.size(F.split(F.trim("text"), tx.WHITESPACE_RE)).alias("n")
                ),
                "micro-regexp-count": docs.select(regexp_count().alias("n")),
            }

        ab.run(spark, micro, reps=3, check=["n"])

    ab.run(
        spark,
        # plan builds timed, as the bench times the registered plan
        lambda: {
            "old": lambda: pack_global_old(spark, sc_dir),
            "tok": lambda: pack_global_tok(spark, sc_dir),
            "new": lambda: REGISTRY["doc_shard_pack_global"].spark_fn(spark, sc_dir),
        },
        reps=args.reps,
        check=["shard_id", "n_docs", "shard_tokens", "n_sources", "sum_doc_id"],
    )


if __name__ == "__main__":
    main()
