"""Round-15 decomposition of doc_minhash_near_dup (headline #2).

VERDICT r14 item 3: 1.8 s solo / 4.8 s loaded at sf0.1 — find where it
goes and try the shared-shingle lever, or rule it floor-bound.

The production pipeline (operators/dedup.py:minhash_near_duplicates)
computes word_shingles THREE times over the corpus: once inside the
signature pipeline (explode path, exchange-reused across the LSH
self-join), and once per verification side (a and b).  Phases:

  A  minhash_signatures                 -> noop
  B  minhash_band_buckets               -> noop
  C  minhash_lsh_candidates (join+distinct)              -> noop
  D  full minhash_near_duplicates                        -> noop
  E  full, but ONE shingle pass: lazy localCheckpoint of
     (doc_id, shingle array), signatures + both verify sides derive
     from it                                             -> noop
  F  full, signatures from raw text (exchange-reused) but verify
     sides share one checkpointed shingle base           -> noop

E/F are checksum-gated against D before timing.

Run:  python scripts/minhash_decomp_r15.py [--reps N] [--sf-dir DIR] [--factor F]
      --factor > 1 stages a scaled documents replica first.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_mudah_spark.operators import dedup as dd
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.tables import load
from scripts import ab

NUM_HASHES, BANDS, THRESHOLD = 32, 8, 0.2
CHECK = ["doc_a", "doc_b", "cast(round(jaccard,6) as string)"]


def sig_from_shingled(sh):
    """minhash_signatures, but from a precomputed (doc_id, sh) base."""
    shingled = sh.select(
        F.col("doc_id"), F.explode(F.col("sh")).alias("_s")
    ).select(F.col("doc_id"), F.xxhash64("_s").alias("_b"))
    hashed = shingled.select(
        F.col("doc_id"),
        *[
            F.xxhash64(F.lit(i), F.col("_b")).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_HASHES)]
    )


def cands_from_sig(sig):
    rows = NUM_HASHES // BANDS
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(BANDS)
        ]
    )
    banded = sig.select(F.col("doc_id"), F.explode(band_arr).alias("band")).select(
        F.col("doc_id"), F.col("band.band_id"), F.col("band.band_hash")
    )
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r").hint("shuffle_hash")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def verify(cands, sh):
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def build_phases(docs):
    """Every phase over ``docs``; the E/F boundaries are lazy
    checkpoints, so call this afresh for every timed rep."""

    def fresh_sh():
        return docs.select(
            F.col("doc_id"), dd.word_shingles(F.col("text"), 3).alias("sh")
        )

    sh_ck = fresh_sh().localCheckpoint(eager=False)
    sh_ck2 = fresh_sh().localCheckpoint(eager=False)
    return {
        "A_signatures": dd.minhash_signatures(docs, num_hashes=NUM_HASHES),
        "B_band_buckets": dd.minhash_band_buckets(
            docs, num_hashes=NUM_HASHES, bands=BANDS
        ),
        "C_candidates": dd.minhash_lsh_candidates(
            docs, num_hashes=NUM_HASHES, bands=BANDS
        ),
        "D_full": dd.minhash_near_duplicates(
            docs, num_hashes=NUM_HASHES, bands=BANDS, threshold=THRESHOLD
        ),
        "E_one_shingle_pass": verify(
            cands_from_sig(sig_from_shingled(sh_ck)), sh_ck
        ),
        "F_shared_verify_sh": verify(
            dd.minhash_lsh_candidates(docs, num_hashes=NUM_HASHES, bands=BANDS),
            sh_ck2,
        ),
    }


def main():
    args = ab.parser(__doc__, reps=4, factor=1).parse_args()
    spark = get_spark("minhash_decomp_r15")
    spark.sparkContext.setLogLevel("WARN")
    docs = load(spark, ab.staged(spark, args, ["documents"]), "documents")
    phases = build_phases(docs)
    ab.gate({n: phases[n] for n in ("D_full", "E_one_shingle_pass", "F_shared_verify_sh")}, CHECK)
    ab.run(spark, lambda: build_phases(docs), reps=args.reps)


if __name__ == "__main__":
    main()
