"""Round-15: per-stage wall-clock decomposition of corpus_prep_e2e at
the x10 staged point — WHERE do the ~32 s go after the round's §2
pairs-pipeline win?

Mirrors the registered plan's stages exactly (same constants, same
operators) but times each materialization separately with noop sinks /
the real stage writes, fresh plans per rep (round-11 skipped-stage
trap). The stages downstream of a staged write (F-I) read a copy of
that stage written once, untimed, before the first rep, so every phase
runs on its own in any order. The sum of stages ≈ the e2e total minus
plan-analysis overlap; each line answers "is this stage worth a
lever?".

Usage: python scripts/corpus_prep_decomp_r15.py [--reps N] [--factor F] [--scratch DIR]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import bpe
from etl_mudah_spark.operators import decontam as dc
from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.operators import graph as gr
from etl_mudah_spark.operators import manifest as mfst
from etl_mudah_spark.operators import sampling as smp
from etl_mudah_spark.operators import text as tx
from etl_mudah_spark.plans import datapipe as dp
from etl_mudah_spark.plans.llmprep import (
    _CPE_MIX_BUCKETS,
    _CPE_NEARDUP_THRESHOLD,
    _packing_cum,
    BPE_FIXTURE_MERGES,
    CORPUS_MIN_TOKENS,
    CORPUS_MIN_TTR,
    SHARD_TOKENS,
)
from etl_mudah_spark.plans.registry import REGISTRY
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab


class Stages:
    """The e2e's stages over the staged dir ``sc_dir``, each built
    afresh on every call."""

    def __init__(self, spark, sc_dir: str):
        self.spark, self.sc_dir = spark, sc_dir

    def docs(self):
        return load(self.spark, self.sc_dir, "documents").select(
            "doc_id", "source", "text"
        )

    def quality(self):
        return (
            tx.quality_features(self.docs(), "text")
            .where(
                (F.col("n_tokens") >= CORPUS_MIN_TOKENS)
                & (F.col("type_token_ratio") >= CORPUS_MIN_TTR)
            )
            .select("doc_id", "source", "text", "n_tokens")
        )

    def exact(self):
        return dd.exact_dedup(
            self.quality().withColumn("k", F.md5(F.substring("text", 1, 40))),
            ["k"],
            ["doc_id"],
        ).drop("k")

    def pairs(self):
        return dd.ngram_jaccard_pairs(
            self.exact(),
            threshold=_CPE_NEARDUP_THRESHOLD,
            max_shingle_df=dp._NGRAM_MAX_SHINGLE_DF,
        ).select("doc_a", "doc_b")

    def clusters(self):
        return gr.duplicate_clusters(self.pairs()).select("node", "cluster_id")

    def neardup(self):
        e = self.exact()
        clusters = self.clusters()
        scored = clusters.join(
            e.select(F.col("doc_id").alias("node"), "n_tokens"), "node"
        )
        best = (
            scored.groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct((-F.col("n_tokens")).alias("_nt"), F.col("node"))
                ).alias("_m")
            )
            .select(F.col("_m.node").alias("node"))
        )
        losers = clusters.join(best, "node", "left_anti").select(
            F.col("node").alias("doc_id")
        )
        return e.join(losers, "doc_id", "left_anti")

    @staticmethod
    def spans(nd):
        return dd.repeated_ngram_spans(
            nd.select("doc_id", "text"),
            n=dp.REPEATED_SPAN_N,
            min_docs=dp.REPEATED_SPAN_MIN_DOCS,
        )

    def mixed(self, nd):
        ex = dc.excise_spans(nd.select("doc_id", "text"), self.spans(nd))
        clean = nd.select("doc_id", "source").join(
            ex.select(
                "doc_id",
                "clean_text",
                F.col("n_tokens_after").cast("bigint").alias("n_tok"),
            ),
            "doc_id",
        )
        budget = F.when(
            F.substring("source", 4, 10).cast("int") % 2 == 0,
            F.lit(dp.TOKEN_BUDGET_EVEN),
        ).otherwise(F.lit(dp.TOKEN_BUDGET_ODD))
        mixed = smp.token_budget_mix(
            clean,
            key_col="doc_id",
            strata_col="source",
            tokens_col="n_tok",
            budget=budget,
            buckets=_CPE_MIX_BUCKETS,
        )
        return mixed.where(F.col("_kept")).select("doc_id", "source", "clean_text")

    def shard_manifest(self, kept):
        enc = bpe.bpe_encode(kept, BPE_FIXTURE_MERGES, text_col="clean_text").select(
            "source",
            "doc_id",
            F.array_join("bpe_ids", " ").alias("ids_str"),
            F.size("bpe_ids").cast("bigint").alias("n_ids"),
        )
        cum = _packing_cum(self.sc_dir, enc, "n_ids")
        packed = cum.withColumn(
            "shard_id", F.floor((F.col("cum") - 1) / SHARD_TOKENS).cast("int")
        )
        payload = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "ids_str"))),
                lambda s: s["ids_str"],
            ),
            " ",
        )
        return packed.groupBy("source", "shard_id").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_ids").cast("bigint").alias("shard_tokens"),
            F.md5(payload).alias("payload_md5"),
        )

    def accounting(self, nd, kept):
        def n(df, name):
            return F.broadcast(df.agg(F.count("*").cast("bigint").alias(name)))

        return (
            self.docs()
            .agg(F.count("*").cast("bigint").alias("n_input_docs"))
            .join(n(self.quality(), "quality_kept"))
            .join(n(self.exact(), "exact_kept"))
            .join(n(nd, "neardup_kept"))
            .join(n(kept, "mix_kept"))
        )


def build_phases(spark, st: Stages, work: str):
    out = tempfile.mkdtemp(dir=work)
    nd = spark.read.parquet(f"{work}/deduped")
    kept = spark.read.parquet(f"{work}/mixed")

    def publish():
        manifest = st.shard_manifest(kept)
        mfst.manifest_publish(
            f"{out}/manifest", lambda d: manifest.write.parquet(d)
        )
        mfst.manifest_read(spark, f"{out}/manifest").collect()

    # every phase builds its plan inside the timed call: duplicate
    # clusters and the registered e2e run jobs while they are built
    return {
        "A_quality_noop": st.quality,
        "B_exact_dedup_noop": st.exact,
        "C_pairs_noop": st.pairs,
        "D_clusters_noop": st.clusters,
        "E_nd_stage_write": lambda: st.neardup().write.parquet(f"{out}/deduped"),
        "F_spans_noop": lambda: st.spans(nd),
        "G_spans_excise_mix_write": lambda: st.mixed(nd).write.parquet(
            f"{out}/mixed"
        ),
        "H_bpe_pack_manifest": publish,
        "I_acct_noop": lambda: st.accounting(nd, kept),
        "Z_full_e2e": lambda: REGISTRY["corpus_prep_e2e"].spark_fn(
            spark, st.sc_dir
        ),
    }


def main() -> None:
    args = ab.parser(__doc__, reps=3, factor=10).parse_args()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    st = Stages(spark, ab.staged(spark, args))
    work = tempfile.mkdtemp(prefix="cpe_decomp_")
    try:
        st.neardup().write.parquet(f"{work}/deduped")
        st.mixed(spark.read.parquet(f"{work}/deduped")).write.parquet(
            f"{work}/mixed"
        )
        ab.run(spark, lambda: build_phases(spark, st, work), reps=args.reps)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
