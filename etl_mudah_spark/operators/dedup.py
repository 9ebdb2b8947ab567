"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB corpus case:

- exact:   one shuffle on a 128-bit content hash (partial agg first).
- minhash: per-doc signature is a single codegen'd projection (no UDF);
           LSH banding explodes to B rows/doc and shuffles on
           (band_id, band_hash) — candidates only ever meet inside a
           bucket, never O(n^2).
- simhash: 64-bit signature via higher-order array algebra; banding on
           16-bit chunks for Hamming-distance candidates.
- ngram_jaccard: exact pairwise similarity via shingle inverted index —
           the verifier for the sketch-based methods (use on candidate
           pairs at scale; standalone it is O(pairs-sharing-a-shingle)).

All hashes are xxhash64 with fixed seeds → fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_mudah_spark.operators.ckpt import materialize_once as _checkpoint
from etl_mudah_spark.operators.manifest import manifest_publish, manifest_resolve
from etl_mudah_spark.operators.text import WHITESPACE_RE


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    method: str = "agg",
) -> DataFrame:
    """Keep exactly one row per key with a deterministic survivor.

    The reference's DISTINCT ON kept an arbitrary row (dags/dag.py:257);
    we tie-break explicitly (SURVEY §2 D3). One shuffle on the key.

    ``method="agg"`` (default) selects the survivor as
    ``min(struct(order_cols..., remaining_cols...))`` per key — a
    PARTIAL-AGGREGATING plan: map-side combine collapses each task to
    one candidate row per key before the shuffle, and nothing is ever
    sorted. The ``method="window"`` formulation (row_number over a
    key-partitioned sort, the naive spelling) shuffles EVERY input row
    and sorts every partition; measured at the x100 bench point the
    rewrite took keep_one_per_order's shape from 72 s to 4.7 s (15x)
    and from 2x slower than DuckDB to 8x faster. Semantics are
    identical under this function's existing contract (``order_cols``
    must be a total order within each key for the survivor to be
    deterministic at all); when the contract is violated, "agg" breaks
    the tie on the remaining columns lexicographically (deterministic)
    where "window" keeps an arbitrary partition-order-dependent row —
    pinned equivalent in tests/test_dedup.py. Null order columns sort
    first under both methods. Use "window" only for column types
    without a total order (maps).
    """
    if method == "window":
        w = W.partitionBy(*key_cols).orderBy(*[F.asc(c) for c in order_cols])
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    if method != "agg":
        raise ValueError(f"method must be 'agg' or 'window', got {method!r}")
    rest = [c for c in df.columns if c not in key_cols and c not in order_cols]
    packed = [c for c in order_cols if c not in key_cols] + rest
    m = F.min(F.struct(*[F.col(c) for c in packed]))
    out = df.groupBy(*[F.col(c) for c in key_cols]).agg(m.alias("_m"))
    # restore the input column order
    sel = [
        F.col(c) if c in key_cols else F.col(f"_m.{c}").alias(c)
        for c in df.columns
        if c in key_cols or c in packed
    ]
    return out.select(*sel)


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams of a text column, in order, WITH repeats
    (array<string>) — the raw sequence (repetition analysis needs the
    multiplicities; set semantics are :func:`word_shingles`).

    Pure array algebra: split → sequence → transform/slice.

    The split result is bound to a lambda variable (via a 1-element
    transform) so it is evaluated ONCE per row. Referencing the split
    expression directly inside the position-transform lambda re-evaluates
    the regex split per shingle position — O(tokens²) per document
    (measured 8× slower on the sf0.1 documents table).
    """
    w = F.split(F.trim(text), WHITESPACE_RE)

    def shingle(wb: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(wb) - (n - 1))
        return F.when(
            F.size(wb) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(wb, i, n))),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(w), shingle), 1)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>)."""
    return F.array_distinct(word_ngrams(text, n))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` min-hash columns h0..h{k-1}.

    Hash family h_i(s) = xxhash64(i, xxhash64(s)) — each shingle STRING
    is hashed once to a bigint, then the k family members derive from
    that fixed-width base (8-byte input instead of re-hashing the full
    string k times; measured ~40% cheaper at k=32). Deterministic
    across runs.

    Computed explode-style: one row per (doc, shingle), k hash columns,
    then groupBy(doc).agg(min...). This beats the tempting
    "array_min(transform(shingles, …)) × k" projection by a huge margin:
    that form re-inlines the whole shingle expression k times and blows
    up codegen (observed 100×+ slowdown); the explode form hashes each
    shingle exactly k times and the partial (map-side) min-agg reduces
    the shuffle to one row per doc per partition — the 100 TB-safe shape.
    """
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_shs")
    )
    return _signatures_from_sh(sh, id_col, num_hashes)


def _signatures_from_sh(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """Signatures from a precomputed ``(id, _shs array<string>)`` base —
    lets :func:`minhash_near_duplicates` share ONE shingle pass between
    the signature pipeline and the exact-Jaccard verification sides."""
    shingled = sh.select(
        F.col(id_col), F.explode(F.col("_shs")).alias("_sh")
    ).select(F.col(id_col), F.xxhash64("_sh").alias("_b"))
    hashed = shingled.select(
        F.col(id_col),
        *[F.xxhash64(F.lit(i), F.col("_b")).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH bucket rows ``(id, band_id, band_hash)`` — the join-key
    surface shared by batch self-dedup (:func:`minhash_lsh_candidates`)
    and the persisted-index incremental path
    (:func:`minhash_index_build` / :func:`minhash_dedup_incremental`)."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return _band_buckets_from_sig(sig, id_col, num_hashes, bands)


def _band_buckets_from_sig(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Band bucket rows from a precomputed signature frame."""
    rows = num_hashes // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_arr).alias("band")).select(
        F.col(id_col), F.col("band.band_id"), F.col("band.band_hash")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    rows = num_hashes // bands hashes per band; two docs are candidates
    iff at least one band hash collides. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b.

    Scale: explode to ``bands`` rows per doc, shuffle on the band
    bucket; a self-join happens only WITHIN buckets. Hot buckets (e.g.
    boilerplate-heavy corpora) are the skew risk — AQE skew-join
    handles moderate cases; pathological buckets should be count-capped
    upstream.
    """
    banded = minhash_band_buckets(df, id_col, text_col, num_hashes, bands, shingle_n)
    return _lsh_candidates_from_banded(banded, id_col)


def _lsh_candidates_from_banded(banded: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs from precomputed band bucket rows."""
    # shuffle_hash (not broadcast): both sides of the self-join are the
    # same plan shuffled on the same keys, so Spark computes the whole
    # signature pipeline ONCE and reuses the exchange; a broadcast join
    # would run it twice (and can't broadcast a 100 TB corpus).
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r").hint("shuffle_hash")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted index
# ---------------------------------------------------------------------------

def minhash_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """One-time O(corpus) job persisting the LSH dedup index:
    ``bands`` = (id, band_hash) partitioned by band_id, and
    ``shingles`` = (id, shingle array) for Jaccard verification.

    This is how a daily-ingest pipeline stays O(batch) instead of
    O(corpus) per day at 100 TB: corpus signatures are computed once and
    every new batch joins against the files. ``partitionBy(band_id)``
    makes the incremental join prune to matching band partitions at
    planning time; within a band the join key is the selective
    band_hash. (The same num_hashes/bands/shingle_n must be passed at
    query time — hash family and banding are the index's contract.)

    The index is ONE manifest table (operators/manifest.py): both
    sub-tables land in one version dir (``manifest_resolve(path)/bands``
    and ``/shingles``) behind one ``_current`` pointer, so a crashed
    rebuild leaves the whole live index answering and bands never pair
    with another build's shingles. ``layout.compact_files(spark, path)``
    compacts both sub-tables in one publish, keeping the band_id
    layout.
    """
    buckets = minhash_band_buckets(df, id_col, text_col, num_hashes, bands, shingle_n)

    def write(d: str) -> None:
        df.select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
        ).write.parquet(f"{d}/shingles")
        buckets.write.partitionBy("band_id").parquet(f"{d}/bands")

    manifest_publish(path, write)


def minhash_index_append(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Append an ingested batch to a persisted MinHash index built by
    :func:`minhash_index_build` — the maintenance half of the
    streaming text-ingest loop (the Jaccard-family twin of
    similarity.srp_index_append): after a batch is deduped against the
    index, appending it makes every later batch see it, so
    cross-batch pairs surface exactly once.

    O(batch): signatures and shingles are computed and written for the
    batch only (parquet append under the same ``partitionBy(band_id)``
    layout = new files inside the band partitions, no rewrite). The
    (num_hashes, bands, shingle_n) contract must match the build —
    the hash family is deterministic in those parameters.
    """
    live = manifest_resolve(path)
    buckets = minhash_band_buckets(
        batch, id_col, text_col, num_hashes, bands, shingle_n
    )
    buckets.write.mode("append").partitionBy("band_id").parquet(f"{live}/bands")
    batch.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).write.mode("append").parquet(f"{live}/shingles")


def minhash_dedup_incremental(
    spark,
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    include_batch_pairs: bool = True,
) -> DataFrame:
    """Near-duplicate pairs of a NEW batch against an indexed corpus,
    never recomputing corpus signatures.

    Returns ``(doc_a, doc_b, jaccard >= threshold)`` where doc_a is the
    existing corpus doc and doc_b the batch doc; with
    ``include_batch_pairs`` the batch's internal pairs (doc_a < doc_b,
    both in batch) are unioned in — together with the corpus's own
    build-time pairs that equals a full recompute over corpus ∪ batch
    (pinned in tests/test_dedup.py).

    Scale: batch buckets shuffle on (band_id, band_hash) against the
    persisted bucket files — O(batch) new hashing, candidate fan-out
    bounded by bucket collisions exactly like the self-join path; exact
    verification reads only the candidate ids' shingle rows.
    """
    live = manifest_resolve(index_path)
    nb = minhash_band_buckets(batch, id_col, text_col, num_hashes, bands, shingle_n)
    corpus = spark.read.parquet(f"{live}/bands")
    cands = (
        corpus.alias("c")
        .join(
            nb.alias("n"),
            (F.col("c.band_id") == F.col("n.band_id"))
            & (F.col("c.band_hash") == F.col("n.band_hash"))
            & (F.col(f"c.{id_col}") != F.col(f"n.{id_col}")),
        )
        .select(
            F.col(f"c.{id_col}").alias("doc_a"), F.col(f"n.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    corpus_sh = spark.read.parquet(f"{live}/shingles").select(
        F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")
    )
    batch_sh = batch.select(
        F.col(id_col).alias("doc_b"),
        word_shingles(F.col(text_col), shingle_n).alias("sh_b"),
    )
    cross = (
        cands.join(corpus_sh, "doc_a")
        .join(batch_sh, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if include_batch_pairs:
        internal = minhash_near_duplicates(
            batch, id_col, text_col, num_hashes, bands, shingle_n, threshold
        )
        cross = cross.unionByName(internal)
    return cross


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (also the verifier for sketch candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a shingle inverted index.

    |A∩B| comes from counting shared shingles through the index (one
    shuffle on shingle, one on the pair); |A∪B| = |A|+|B|−|A∩B|.
    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold.

    Standalone this is O(Σ df(shingle)²) — boilerplate-heavy corpora
    (one shingle in a million docs ⇒ 10¹² candidate rows) kill it at
    scale, which is why the MinHash/LSH twin is the 100 TB candidate
    path and this the verifier. ``max_shingle_df`` is the standard
    inverted-index mitigation: shingles appearing in more than that
    many docs are dropped from the INDEX ONLY (|A| and |B| keep full
    semantics), bounding the join at max_df² per shingle. Intersection
    counts can then undercount, so jaccard becomes a lower bound —
    pairs whose only shared shingles are boilerplate are the ones
    deliberately lost. Default None = exact.
    """
    # ONE shingle pass (round 15): the naive form computed the shingle
    # projection twice (the per-doc sizes aggregation and the index
    # side); the materialize-once boundary feeds both from one pass and
    # sizes becomes size(array) — no aggregation at all. Measured −29%
    # med at the x10 staging, −20% at sf0.1, byte-identical on both
    # regimes (scripts/jaccard_ab_r15.py).
    sh = _checkpoint(
        df.select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_shs")
        )
    )
    shingled = sh.select(F.col(id_col), F.explode(F.col("_shs")).alias("sh"))
    sizes = sh.select(F.col(id_col), F.size(F.col("_shs")).alias("n_sh"))
    index = shingled
    if max_shingle_df is not None:
        # `_df >= 2` rides the cap aggregation for FREE and drops every
        # singleton shingle from the index: a pair needs two index rows
        # with distinct ids (same-id rows fail doc_a < doc_b), so a
        # shingle with one row cannot contribute — the self-join's
        # build and probe shrink by the singleton fraction, which in a
        # sparse corpus is most of the vocabulary. Exact: |A| and |B|
        # keep full semantics via sizes, and common counts only ever
        # came from shingles with >= 2 rows.
        rare = (
            shingled.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .where((F.col("_df") <= max_shingle_df) & (F.col("_df") >= 2))
            .select("sh")
        )
        index = shingled.join(rare, "sh")
    # shuffle_hash: identical shingle plans on both sides of the
    # inverted-index self-join share one exchange (see
    # minhash_lsh_candidates).
    a = index.alias("a").hint("shuffle_hash")
    b = index.alias("b").hint("shuffle_hash")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_n: int = 2,
    threshold: float = 0.5,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact TF-IDF cosine-similar document pairs via a term inverted
    index — the weighted-lexical sibling of :func:`ngram_jaccard_pairs`
    (Jaccard treats every shared shingle equally; TF-IDF cosine weights
    shared terms by rarity × multiplicity, the CCNet/MassiveText-style
    lexical near-dup signal).

    Returns ``(doc_a, doc_b, cosine)`` with cosine ≥ ``threshold`` and
    ``doc_a < doc_b``. Terms are lowercased word ``term_n``-grams WITH
    multiplicity (tf); idf = ln(N / df); the vector space is the
    ``min_df``/``max_df``-pruned vocabulary. df-1 terms can never
    create a pair through the index, so ``min_df=2`` prunes the
    posting tail at no recall cost — but it is NOT value-neutral:
    docs containing df-1 terms lose them from their NORMS too, so
    such pairs' cosines are higher than in the unpruned space. The
    semantics are "exact cosine in the pruned vocabulary" (weights
    and norms always see the same space), not "unpruned cosine,
    computed cheaper".

    Determinism across engines: idf and the per-term weights are plain
    double arithmetic (bit-identical given identical inputs), and both
    the per-doc squared-norm sum and the per-pair dot product use the
    dsum discipline — each addend cast to DECIMAL(28,8) before SUM —
    so no float sum ever depends on association order.

    Scale shape: tf is one shuffle on (doc, term) with map-side
    partials; df + idf reduce the |vocab|-row frame; the pair join is
    the inverted-index self-join (identical posting plans on both
    sides share one exchange via shuffle_hash, as in
    :func:`ngram_jaccard_pairs`), which is O(Σ df(term)²) — at 100 TB
    set ``max_df`` (drops boilerplate terms from the SPACE — weights
    and norms together, unlike the Jaccard index-only cap, so the
    result stays an exact cosine in the reduced space) or mine
    candidates with the MinHash/SRP families and use this as the
    scorer on candidate pairs.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), term_n)).alias("term"),
    ).select(id_col, F.lower("term").alias("term"))
    tf = tok.groupBy(id_col, "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    # tf feeds FOUR consumers (df counts, the weight join, norms, and
    # both sides of the posting self-join); without a materialization
    # boundary each re-runs the scan+explode+agg subtree — 12 parquet
    # scans in the executed x10 plan. A LAZY localCheckpoint (first
    # action materializes it inside the timed query; RDD-level, so a
    # fresh call never sees a previous call's rows) computes it once:
    # measured 4.9-6.0 s -> 2.8 s warm at the x10 staged point,
    # hash-identical. At 100 TB this stores one (doc, term, tf) pass —
    # the same order of bytes the plan's existing term shuffle already
    # moves. (A per-term WINDOW df was measured slightly slower than
    # this AND concentrates a boilerplate term's whole posting list in
    # one task — rejected for the same skew reason the docstring
    # documents.)
    tf = _checkpoint(tf)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    kept = dfreq.where(F.col("df") >= min_df)
    if max_df is not None:
        kept = kept.where(F.col("df") <= max_df)
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    idf = kept.join(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    # wgt feeds THREE consumers (norms + both posting self-join
    # sides); without its own boundary each consumer re-reads the tf
    # RDD and re-runs the dfreq aggregation + idf join (~0.7 s x 3 at
    # the x10 staging). A second materialize-once makes those one pass
    # AND lets the self-join's identical ExistingRDD sides share one
    # exchange: measured 2.56 s -> 0.28 s median warm at x10, 6/6
    # paired wins, hash-identical (scripts/tfidf_wgt_ab_r15.py).
    # Stored rows are (id, term, wv) — the same order of bytes as tf.
    wgt = _checkpoint(
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


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    bucket: Column,
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking [Hernández & Stolfo, SIGMOD'95] —
    the record-linkage candidate generator that complements the
    set/LSH families: sort all records by a linkage key and emit every
    pair within ``window`` consecutive positions. Catches near-dups
    whose similarity lives in an ORDERED attribute (amounts, dates,
    serial-ish ids, normalized names) where token sets are useless.

    Returns ``(id_a, id_b, rank_dist, val_a, val_b)`` with
    ``rank_dist`` in ``[1, window-1]`` under the total order
    ``(sort_col, id_col)``; ``id_a`` is the lower-ranked row, ``val_*``
    carry the sort values (the scorer stage compares them anyway —
    re-deriving them downstream would cost two joins back onto the
    input). Candidate volume is exactly ``(window-1)·n − C(window,2)``
    — linear in n by construction, the whole point of the method.

    Scale shape: the global rank comes from
    ``sampling.bucketed_global_rank`` (two parallel exchanges; no
    single-task window — ``bucket`` must be the order-preserving
    non-null coarsening of ``sort_col`` that contract requires, e.g.
    ``F.floor(F.col(sort_col))``). The ranked relation is
    localCheckpointed once — both self-join sides consume it, and
    without truncation each side re-executes the whole two-phase rank
    (the pagerank/triangle_stats multi-consumer discipline). Pairing
    then bands ranks into width-``window`` blocks: a row joins only
    its own and the next block (every pair at distance < window lives
    in adjacent blocks), one equi-join on block id — never a
    rank-range theta-join.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from etl_mudah_spark.operators.sampling import bucketed_global_rank

    ranked = (
        bucketed_global_rank(
            df.select(id_col, sort_col), bucket, [sort_col, id_col]
        )
        .select(
            id_col,
            sort_col,
            F.col("rn"),
            F.expr(f"(rn - 1) DIV {window}").alias("_blk"),
        )
        .localCheckpoint(eager=True)
    )
    a = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col(sort_col).alias("val_a"),
        F.col("rn").alias("_ra"),
        F.explode(F.array(F.col("_blk"), F.col("_blk") + 1)).alias("_blk"),
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col(sort_col).alias("val_b"),
        F.col("rn").alias("_rb"),
        "_blk",
    )
    return (
        a.join(b, "_blk")
        .where(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= window - 1)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_rb") - F.col("_ra")).cast("int").alias("rank_dist"),
            "val_a",
            "val_b",
        )
    )


def prefix_filtered_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard-similar pairs via prefix filtering (SSJoin/PPJoin,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — the lossless
    alternative to :func:`ngram_jaccard_pairs`'s inverted-index join.

    Each doc's distinct shingles are ordered by ascending global
    document frequency (ties by shingle string — one consistent TOTAL
    order); a pair with Jaccard ≥ t must share ≥ ceil(t·|x|) shingles
    with either side, so if the first ``|x| − ceil(t·|x|) + 1``
    shingles (the prefix) of BOTH docs are disjoint the pair cannot
    qualify. Candidates therefore come from joining PREFIXES only —
    and prefixes are by construction the RAREST shingles, so the
    quadratic-in-df index blowup that forces ``max_shingle_df``
    lossy capping in the plain inverted index never materializes:
    boilerplate shingles (the df-heavy tail) sort to the END of every
    doc and never enter the candidate join. No false negatives, no
    recall knob.

    Verification fetches the candidate docs' full shingle sets
    (sorted arrays, one shuffle on the id) and computes the exact
    intersection per pair — O(|A|+|B|) per candidate, doc-bounded.

    Plan shape at 100 TB: shingle explode → df counts (one shuffle on
    shingle) → per-doc prefix window (one shuffle on id) → prefix
    self-join (shuffle on shingle, rare keys only) → set fetch + merge
    (shuffle on id). Every exchange is keyed; nothing is all-pairs.
    """
    shingled = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    # df and per-doc size as WINDOW counts, not groupBy+join chains:
    # the shingle-partitioned count and the doc-partitioned
    # (count, row_number) pair each ride one exchange, and the doc
    # exchange is the SAME one the set-collection aggregate below
    # reuses — three shuffles total where the join formulation paid
    # five.
    ranked = (
        shingled.withColumn("_df", F.count("*").over(W.partitionBy("sh")))
        .withColumn("_n_sh", F.count("*").over(W.partitionBy(id_col)))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("sh"))
            ),
        )
    )
    # ceil(t*n) must be the EXACT mathematical ceiling: double rounding
    # can land t*n a hair ABOVE an integer (0.28*25 = 7.000000000000001),
    # and ceil'ing that overshoots by 1, shortening the prefix below the
    # lossless bound — a silent false negative. Subtracting an epsilon
    # far larger than one ulp but far smaller than 1/n can only pull a
    # within-epsilon-of-integer product DOWN, i.e. lengthen the prefix:
    # extra candidates, never lost ones.
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n_sh")
        - F.ceil(F.lit(threshold) * F.col("_n_sh") - F.lit(1e-9))
        + 1
    ).select(id_col, "sh")
    a = prefix.alias("a").hint("shuffle_hash")
    b = prefix.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sets = ranked.groupBy(id_col).agg(
        F.sort_array(F.collect_set("sh")).alias("_shs")
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("_shs").alias("_sha"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("_shs").alias("_shb"))
    common = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            common / (F.size("_sha") + F.size("_shb") - common),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard.

    The scale path: LSH prunes the pair space, exact verification runs
    only on candidates. Returns (doc_a, doc_b, jaccard ≥ threshold).

    ONE shingle pass (round 15): the naive composition runs the
    split+slide+concat shingle projection three times over the corpus
    (signature pipeline + each verification side). A lazy
    ``localCheckpoint`` of ``(id, shingle array)`` materializes it once
    and feeds all three consumers — measured 12/12 paired wins, −13%
    at sf0.1 and −32% at x10, byte-identical results
    (scripts/minhash_ab_r15.py). The checkpointed rows are corpus-scale
    (the shingle arrays); see BASELINE.md on the localCheckpoint
    fault-tolerance trade-off and the reliable-checkpoint knob.
    """
    sh = _checkpoint(
        df.select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_shs")
        )
    )
    cands = _lsh_candidates_from_banded(
        _band_buckets_from_sig(
            _signatures_from_sh(sh, id_col, num_hashes), id_col, num_hashes, bands
        ),
        id_col,
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("_shs").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_shs").alias("sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash of each doc's word multiset → (id_col, sig bigint).

    bit_i(doc) = sign( Σ_words ±1 according to bit_i(xxhash64(word)) ).
    Explode-style like :func:`minhash_signatures`: one row per word, 64
    ±1 columns, partial-aggregated sums, sign bits folded into one
    bigint. shiftleft(1, 63) wraps to the Java long sign bit — exactly
    the bit pattern wanted, and bitwise OR never overflows.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), WHITESPACE_RE)).alias("_w"),
    ).select(F.col(id_col), F.xxhash64(F.col("_w")).alias("_h"))
    sums = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return sums.select(F.col(id_col), sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: band the 64-bit signature into 4
    16-bit chunks (pigeonhole: d ≤ 3 ⇒ at least one chunk equal), meet
    candidates in chunk buckets, verify exact Hamming distance.
    """
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftright(F.col("sig"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
            )
            for c in range(4)
        ]
    )
    banded = sigs.select(id_col, "sig", F.explode(chunks).alias("ch")).select(
        id_col, "sig", "ch.chunk_id", "ch.chunk_val"
    )
    # shuffle_hash for exchange reuse across the self-join (see
    # minhash_lsh_candidates) — the 64-column signature agg runs once.
    l, r = banded.alias("l").hint("shuffle_hash"), banded.alias("r").hint("shuffle_hash")
    return (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            hamming64(F.col("l.sig"), F.col("r.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Intra-corpus repeated spans (substring-level dedup)
# ---------------------------------------------------------------------------

def repeated_ngram_spans(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
) -> DataFrame:
    """Token ranges duplicated ACROSS documents: contiguous spans built
    from word n-grams that occur in >= ``min_docs`` distinct docs —
    the substring-level dedup shape (memorization-prone boilerplate:
    headers, licenses, templates) that document-level near-dedup
    (MinHash) cannot see, published as "Deduplicating Training Data
    Makes Language Models Better" (Lee et al., 2022; suffix arrays
    there, positional n-gram joins here — same detection contract at
    span granularity, engine-friendly).

    Output matches :func:`~etl_mudah_spark.operators.decontam.\
ngram_decontaminate_spans`: (id, span_id, span_start, span_end,
    n_matched_grams) — a scrubber excises [span_start, span_end].

    100 TB shape:
    - Two map passes over the corpus, each shuffled on gram: the
      frequency side is COLUMN-PRUNED to (gram, doc_id) and partially
      aggregated map-side before its exchange (which is also why
      Catalyst can't ReuseExchange it against the positional side —
      the narrower plan is the cheaper of the two trades); the
      positional side ships (doc_id, pos, gram) once into the
      shuffle_hash semi-join.
    - The distinct-doc count per gram is a partial-aggregating
      count_distinct, never a collect; repeated grams (the join's
      build side) are a vanishing fraction of all grams. Hash agg +
      semi-join rather than a single gram-partitioned window
      (dense_rank max) deliberately: partial aggregation absorbs
      hot-boilerplate gram skew that a window sort cannot.
    - Span assembly windows partition by doc over matching positions
      only (operators/decontam.py:positions_to_spans).
    - Grams travel as strings here for oracle exactness; a production
      run at 100 TB should key the shuffle on xxhash64(gram) instead
      (8 bytes vs ~n words) and accept the 2^-64 collision odds, as
      the chunk-dedup path does.
    """
    from etl_mudah_spark.operators.decontam import (
        ngram_positions,
        positions_to_spans,
    )

    pos = ngram_positions(corpus, id_col, text_col, n)
    repeated = (
        pos.hint("shuffle_hash")
        .groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hits = pos.hint("shuffle_hash").join(
        repeated.hint("shuffle_hash"), "gram", "left_semi"
    )
    return positions_to_spans(hits, id_col=id_col, n=n)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_index_df: int | None = None,
) -> DataFrame:
    """EXACT directed containment pairs: ``(doc_a, doc_b,
    containment)`` with c(A→B) = |A∩B| / |A| ≥ t — "A is mostly
    inside B". The asymmetric sibling of
    :func:`prefix_filtered_jaccard`: Jaccard misses a short document
    quoted verbatim inside a long one (the union dominates), but
    containment is exactly the quote/boilerplate-inclusion signal a
    training-data pipeline dedups on.

    Prefix filter, asymmetric form (Xiao et al. WWW'08 overlap
    variant): c(A→B) ≥ t requires |A∩B| ≥ ceil(t·|A|), so under one
    global (df, shingle) total order, A's first
    ``|A| − ceil(t·|A|) + 1`` (rarest) shingles must hit B — the
    CONTAINED side joins by prefix only, while the container side
    indexes its full set (an overlap bound on B's size does not exist:
    B may be arbitrarily large). Lossless — no recall knob.

    Plan shape at 100 TB: shingle explode → window df / per-doc size /
    prefix rank on the same two exchanges prefix_filtered_jaccard
    rides → prefix-to-full join (shuffle on shingle) → sorted-set
    fetch + exact intersection (shuffle on id). Skew: the full-side
    index DOES carry high-df boilerplate shingles; A-prefixes are rare
    by construction so the hot keys pair rare-with-hot, which AQE
    skew-join splits. For a corpus with degenerate boilerplate pass
    ``max_index_df`` to drop container-side postings above the bound —
    that trades completeness for a hard cost cap (containment becomes
    a lower bound), mirroring ngram_jaccard_pairs' documented cap.

    Reference analog: none — beyond-reference dedup family
    (SURVEY.md §2 extensions).
    """
    shingled = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    ranked = (
        shingled.withColumn("_df", F.count("*").over(W.partitionBy("sh")))
        .withColumn("_n_sh", F.count("*").over(W.partitionBy(id_col)))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("sh"))
            ),
        )
    )
    # Exact-ceiling epsilon: see prefix_filtered_jaccard — the epsilon
    # can only LENGTHEN the prefix (extra candidates, never lost ones).
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n_sh")
        - F.ceil(F.lit(threshold) * F.col("_n_sh") - F.lit(1e-9))
        + 1
    ).select(id_col, "sh")
    full = ranked.select(id_col, "sh")
    if max_index_df is not None:
        full = ranked.where(F.col("_df") <= max_index_df).select(id_col, "sh")
    a = prefix.alias("a").hint("shuffle_hash")
    b = full.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sets = ranked.groupBy(id_col).agg(
        F.sort_array(F.collect_set("sh")).alias("_shs")
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("_shs").alias("_sha"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("_shs").alias("_shb"))
    common = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", common / F.size("_sha"))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
