"""Python-oracle tests for the sketch-based dedup operators (these have
no DuckDB oracle — Spark's xxhash64 isn't reproducible in SQL — so
their semantics are pinned here instead)."""

from __future__ import annotations

import pytest

from etl_mudah_spark.operators.dedup import (
    hamming64,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
    word_shingles,
)
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm mat near the old wooden door of the farm house"
)
CORPUS = [
    (0, BASE),
    (1, BASE),  # exact duplicate
    (2, BASE.replace("quick", "slow")),  # near duplicate
    (3, BASE.replace("the", "a")),  # moderately similar
    (4, "completely different words appear here without any overlap whatsoever"),
    (5, "another unrelated document about spark engines and parquet files"),
]


def _py_shingles(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _py_jaccard(a: str, b: str) -> float:
    sa, sb = _py_shingles(a), _py_shingles(b)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_word_shingles_match_python(spark, docs):
    got = {
        r.doc_id: set(r.sh)
        for r in docs.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    for doc_id, text in CORPUS:
        assert got[doc_id] == _py_shingles(text), f"doc {doc_id}"


def test_exact_jaccard_matches_python_oracle(spark, docs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    for i, (ida, ta) in enumerate(CORPUS):
        for idb, tb in CORPUS[i + 1 :]:
            expected = _py_jaccard(ta, tb)
            if expected > 0:
                assert got[(ida, idb)] == pytest.approx(expected, abs=1e-12)
            else:
                assert (ida, idb) not in got


def test_minhash_finds_planted_near_dups(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides in every band
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup (J≈0.78)
    # verified jaccard must equal the exact oracle
    for r in minhash_near_duplicates(docs, threshold=0.5).collect():
        assert r.jaccard == pytest.approx(
            _py_jaccard(CORPUS[r.doc_a][1], CORPUS[r.doc_b][1]), abs=1e-12
        )
    # unrelated docs never pass verification
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_simhash_identical_docs_distance_zero(spark, docs):
    sigs = simhash_signatures(docs)
    s = {r.doc_id: r.sig for r in sigs.collect()}
    assert s[0] == s[1]  # identical text → identical signature
    # popcount column agrees with python popcount
    pair = (
        sigs.alias("a")
        .crossJoin(sigs.alias("b"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("d"),
        )
    )
    for r in pair.collect():
        expected = bin((s[r.da] ^ s[r.db]) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert r.d == expected


def test_simhash_near_duplicates_pairs(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_duplicates(docs, max_hamming=16).collect()}
    assert pairs.get((0, 1)) == 0
    # near-dup within a few bits; unrelated docs far apart or absent
    if (0, 2) in pairs:
        assert pairs[(0, 2)] <= 16
    assert (0, 4) not in pairs


def test_incremental_index_equals_full_recompute(spark, tmp_path):
    """Index-build + incremental batch dedup must find exactly the
    pairs a full recompute over corpus ∪ batch finds, minus the
    corpus-internal pairs already known at build time."""
    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_build,
    )

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    corpus = full_df.where(F.col("doc_id") % 2 == 0)
    batch = full_df.where(F.col("doc_id") % 2 == 1)

    def pairset(df):
        return {
            (frozenset((r["doc_a"], r["doc_b"])), round(r["jaccard"], 6))
            for r in df.collect()
        }

    full = pairset(minhash_near_duplicates(full_df, threshold=0.3))
    corpus_internal = pairset(minhash_near_duplicates(corpus, threshold=0.3))

    idx = str(tmp_path / "mh_index")
    minhash_index_build(corpus, idx)
    incr = pairset(
        minhash_dedup_incremental(spark, batch, idx, threshold=0.3)
    )
    assert incr == full - corpus_internal
    # sanity: the planted cross pair (0 in corpus, 1 in batch) is found
    assert any(frozenset((0, 1)) == p for p, _ in incr)


def test_incremental_without_batch_pairs_is_cross_only(spark, tmp_path):
    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_build,
    )

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    corpus = full_df.where(F.col("doc_id") % 2 == 0)
    batch = full_df.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_index")
    minhash_index_build(corpus, idx)
    rows = minhash_dedup_incremental(
        spark, batch, idx, threshold=0.3, include_batch_pairs=False
    ).collect()
    corpus_ids = {0, 2, 4}
    batch_ids = {1, 3, 5}
    assert rows
    for r in rows:
        assert r["doc_a"] in corpus_ids and r["doc_b"] in batch_ids


# ---------------------------------------------------------------------------
# repeated_ngram_spans
# ---------------------------------------------------------------------------

BOILER = " ".join(f"b{i}" for i in range(13))  # exactly one 13-gram
UNIQ = lambda d, k: " ".join(f"u{d}_{i}" for i in range(k))  # noqa: E731


def test_repeated_spans_finds_cross_doc_boilerplate(spark):
    """A 13-token boilerplate shared by docs 0/1 yields one span per
    doc at the right offsets; the unique doc 2 yields nothing."""
    from etl_mudah_spark.operators.dedup import repeated_ngram_spans

    rows = [
        (0, f"{BOILER} {UNIQ(0, 20)}"),          # boilerplate at pos 1
        (1, f"{UNIQ(1, 5)} {BOILER} {UNIQ(1, 8)}"),  # at pos 6
        (2, UNIQ(2, 40)),                         # no shared grams
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = repeated_ngram_spans(df, n=13, min_docs=2).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert set(by_doc) == {0, 1}
    assert (by_doc[0]["span_start"], by_doc[0]["span_end"]) == (1, 13)
    assert (by_doc[1]["span_start"], by_doc[1]["span_end"]) == (6, 18)
    assert all(r["n_matched_grams"] == 1 for r in out)


def test_repeated_spans_merges_touching_windows(spark):
    """Two shared grams <= n positions apart merge into one span; a
    doc-internal repeat alone does NOT fire (min_docs counts docs)."""
    from etl_mudah_spark.operators.dedup import repeated_ngram_spans

    shared = " ".join(f"s{i}" for i in range(14))  # two overlapping 13-grams
    internal = " ".join(f"x{i}" for i in range(13))
    rows = [
        (0, f"{shared} {UNIQ(0, 10)}"),
        (1, f"{UNIQ(1, 3)} {shared}"),
        # doc 2 repeats `internal` twice but no other doc has it
        (2, f"{internal} {UNIQ(2, 4)} {internal}"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = repeated_ngram_spans(df, n=13, min_docs=2).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert set(by_doc) == {0, 1}
    # both positional grams of `shared` merge into a single 14-token span
    assert (by_doc[0]["span_start"], by_doc[0]["span_end"]) == (1, 14)
    assert by_doc[0]["n_matched_grams"] == 2
    assert (by_doc[1]["span_start"], by_doc[1]["span_end"]) == (4, 17)


def test_repeated_spans_degenerate_inputs(spark):
    """Empty corpus and docs shorter than n both yield zero spans (the
    positional-gram explode produces nothing, no crash downstream)."""
    from etl_mudah_spark.operators.dedup import repeated_ngram_spans

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert repeated_ngram_spans(empty).count() == 0
    short = spark.createDataFrame(
        [(1, "only three words"), (2, "only three words")],
        "doc_id bigint, text string",
    )
    assert repeated_ngram_spans(short, n=13).count() == 0


def test_prefix_filtered_jaccard_matches_exact(spark):
    """Lossless prefix filter: every pair the uncapped inverted-index
    join finds at t, the prefix-filtered join finds too — identical
    (doc_a, doc_b, jaccard) sets, on the tiny corpus AND on a
    boilerplate-heavy one where every doc shares a hot template
    sentence (the case the prefix is designed to never index)."""
    from etl_mudah_spark.operators.dedup import prefix_filtered_jaccard

    for threshold in (0.3, 0.5, 0.8):
        docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
        exact = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(docs, threshold=threshold).collect()
        }
        got = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in prefix_filtered_jaccard(docs, threshold=threshold).collect()
        }
        assert got == exact, threshold

    boiler = "this listing was posted by an authorized dealer call now "
    rows = [
        (i, boiler + f"unique tail {i} with different content token{i} x{i}")
        for i in range(20)
    ] + [(100, boiler + "unique tail 3 with different content token3 x3")]
    bdocs = spark.createDataFrame(rows, ["doc_id", "text"])
    from etl_mudah_spark.operators.dedup import prefix_filtered_jaccard

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(bdocs, threshold=0.9).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filtered_jaccard(bdocs, threshold=0.9).collect()
    }
    assert got == exact == {(3, 100)}


def test_prefix_filtered_jaccard_integer_boundary(spark):
    # Float ceiling regression: 0.28 * 25 = 7.000000000000001 in double,
    # so a naive ceil(t*n) gives 8 and shortens doc A's prefix to 18 —
    # but a pair at Jaccard EXACTLY 0.28 (|A|=25, |B|=7, overlap 7) has
    # all its shared shingles at df-rank 19..25 of A (shared df=2 sorts
    # after unique df=1), so the candidate join silently never emits it.
    # The epsilon-guarded ceiling keeps the prefix at the lossless 19.
    from etl_mudah_spark.operators.dedup import prefix_filtered_jaccard

    shared = [f"shared{i}" for i in range(7)]
    unique = [f"unique{i}" for i in range(18)]
    docs = spark.createDataFrame(
        [(0, " ".join(unique + shared)), (1, " ".join(shared))],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filtered_jaccard(
            docs, shingle_n=1, threshold=0.28
        ).collect()
    }
    assert got == {(0, 1)}


def test_prefix_filtered_jaccard_short_docs(spark):
    # docs under shingle_n words have empty shingle sets: no pairs,
    # no crash (the n_sh >= 1 population is what the window sees)
    from etl_mudah_spark.operators.dedup import prefix_filtered_jaccard

    docs = spark.createDataFrame(
        [(0, "one two"), (1, "one two"), (2, "")], ["doc_id", "text"]
    )
    assert prefix_filtered_jaccard(docs, threshold=0.5).count() == 0


def _py_tfidf_cosine(corpus, term_n=2, min_df=2, max_df=None):
    """Python oracle for tfidf_cosine_pairs: bigram tf-idf vectors over
    the df-pruned vocabulary, plain-float cosine (the operator's decimal
    dsum quantizes each addend to 8 decimal places, so Spark values sit
    within ~1e-8 of the unquantized float oracle — compared at 1e-6)."""
    import math
    from collections import Counter

    tfs = {}
    for doc_id, text in corpus:
        w = text.lower().split()
        tfs[doc_id] = Counter(
            " ".join(w[i : i + term_n]) for i in range(len(w) - term_n + 1)
        )
    df = Counter(t for c in tfs.values() for t in c)
    n = len(corpus)
    idf = {
        t: math.log(n / d)
        for t, d in df.items()
        if d >= min_df and (max_df is None or d <= max_df)
    }
    vecs = {
        doc: {t: tf * idf[t] for t, tf in c.items() if t in idf}
        for doc, c in tfs.items()
    }
    out = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = set(vecs[a]) & set(vecs[b])
            if not common:
                continue
            dot = sum(vecs[a][t] * vecs[b][t] for t in common)
            na = math.sqrt(sum(v * v for v in vecs[a].values()))
            nb = math.sqrt(sum(v * v for v in vecs[b].values()))
            out[(a, b)] = dot / (na * nb)
    return out


def test_tfidf_cosine_matches_python_oracle(spark, docs):
    from etl_mudah_spark.operators.dedup import tfidf_cosine_pairs

    want = _py_tfidf_cosine(CORPUS)
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_pairs(docs, threshold=0.0).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-6, k
    # the exact-duplicate pair is a perfect cosine, near-dup close below
    assert abs(got[(0, 1)] - 1.0) < 1e-6
    assert 0.8 < got[(0, 2)] < 1.0


def test_tfidf_cosine_max_df_prunes_space_not_just_index(spark):
    """max_df drops boilerplate terms from the SPACE (weights and norms
    together): two docs whose entire overlap is a hot template get NO
    pair at all, while a pair sharing rare terms keeps a true cosine
    in the reduced space — recomputed by the Python oracle with the
    same cap."""
    from etl_mudah_spark.operators.dedup import tfidf_cosine_pairs

    boiler = "posted by authorized dealer call now "
    corpus = [(i, boiler + f"tail{i} tok{i} x{i} y{i}") for i in range(12)]
    corpus += [(100, boiler + "tail3 tok3 x3 zz zz")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_pairs(df, threshold=0.0, max_df=5).collect()
    }
    want = _py_tfidf_cosine(corpus, max_df=5)
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-6, k
    assert (3, 100) in got  # rare-term overlap survives the cap


def test_sorted_neighborhood_matches_single_window(spark):
    """The banded two-block join reproduces the one-task ROW_NUMBER
    self-join pair-for-pair — including pairs that straddle block
    boundaries — for several window sizes, on data with duplicate sort
    keys (tie-break on id) and negative values (floor bucket)."""
    import itertools

    from etl_mudah_spark.operators.dedup import sorted_neighborhood_pairs

    vals = [(-3.7, 1), (-3.7, 0), (0.0, 2), (0.2, 3), (0.2, 4), (1.1, 5),
            (1.15, 6), (7.9, 7), (7.95, 8), (8.0, 9), (8.0, 10), (12.4, 11)]
    df = spark.createDataFrame(
        [(i, v) for v, i in vals], "id bigint, v double"
    )
    order = sorted(vals)  # (v, id) total order
    for window in (2, 3, 5):
        want = {
            (order[i][1], order[j][1], j - i)
            for i, j in itertools.combinations(range(len(order)), 2)
            if j - i <= window - 1
        }
        got = {
            (r["id_a"], r["id_b"], r["rank_dist"])
            for r in sorted_neighborhood_pairs(
                df, "id", "v", bucket=F.floor(F.col("v")), window=window
            ).collect()
        }
        assert got == want, window


def test_pareto_frontier_matches_bruteforce(spark):
    """Bucketed sweep vs the O(n²) dominance definition on adversarial
    data: duplicate points, equal-x ties, equal-y ties across x,
    negative values, and a strictly-improving chain."""
    from etl_mudah_spark.operators.skyline import pareto_frontier_2d

    pts = [(-2.5, 1), (-2.5, 1), (-2.5, 0), (-1.0, 5), (-1.0, 3),
           (0.3, 5), (0.4, 7), (0.4, 6), (1.7, 7), (2.0, 9),
           (5.5, 9), (6.1, 2), (7.0, 10)]
    df = spark.createDataFrame(pts, "x double, y int")
    want = {}
    for x, y in pts:
        dominated = any(
            (qx < x and qy >= y) or (qx <= x and qy > y) for qx, qy in pts
        )
        if not dominated:
            want[(x, y)] = want.get((x, y), 0) + 1
    from pyspark.sql import functions as F

    got = {
        (r["x"], r["y"]): r["n_rows"]
        for r in pareto_frontier_2d(
            df, "x", "y", bucket=lambda c: F.floor(c)
        ).collect()
    }
    assert got == want


def test_containment_catches_quote_jaccard_misses(spark):
    """A 6-word doc quoted inside a 60-word doc: containment(A->B)=1.0
    while Jaccard is far below any useful threshold."""
    from etl_mudah_spark.operators.dedup import (
        containment_pairs,
        prefix_filtered_jaccard,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(18))
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id bigint, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    assert got == {(1, 2): 1.0}  # directed: only A-in-B qualifies
    assert prefix_filtered_jaccard(df, threshold=0.6).count() == 0


def test_containment_threshold_boundary_exact(spark):
    from etl_mudah_spark.operators.dedup import containment_pairs

    # A has 5 shingles ("a b c d e f g" -> 5 3-shingles); B shares
    # exactly 3 of them -> containment 0.6, which must be INCLUDED.
    a = "a b c d e f g"
    b = "a b c d e zz qq rr"  # shares shingles (a b c), (b c d), (c d e)
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id bigint, text string"
    )
    rows = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    assert rows[(1, 2)] == 0.6


def test_containment_max_index_df_caps_but_lower_bounds(spark):
    from etl_mudah_spark.operators.dedup import containment_pairs

    # Shingle "a b c" appears in every doc (df=4). With the cap at 3,
    # postings for it are dropped from the container index, so the
    # candidate either survives via other shared shingles or drops.
    docs = [(i, "a b c d e f") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    uncapped = containment_pairs(df, threshold=0.9).count()
    capped = containment_pairs(df, threshold=0.9, max_index_df=1).count()
    assert uncapped == 12  # 4 identical docs, all directed pairs
    assert capped == 0


def test_exact_dedup_agg_matches_window_under_total_order(spark):
    """The round-9 partial-aggregating survivor (min-struct) must pick
    the IDENTICAL row as the row_number window whenever order_cols are
    a total order per key — including null order values (both methods
    sort nulls first)."""
    from etl_mudah_spark.operators.dedup import exact_dedup

    rows = [
        (1, None, "a"), (1, 5, "b"),
        (2, 3, "x"), (2, 7, "y"),
        (3, None, "only"),
    ]
    df = spark.createDataFrame(rows, "k int, o int, v string")
    agg = sorted(exact_dedup(df, ["k"], ["o"]).collect())
    win = sorted(exact_dedup(df, ["k"], ["o"], method="window").collect())
    assert agg == win
    assert [r.v for r in agg] == ["a", "x", "only"]


def test_exact_dedup_agg_breaks_ties_deterministically(spark):
    """Where the window survivor would be partition-order-dependent
    (order_cols NOT total), the agg method is still deterministic:
    lexicographic min over the remaining columns."""
    from etl_mudah_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, 3, "zz"), (1, 3, "aa")], "k int, o int, v string"
    )
    one = exact_dedup(df, ["k"], ["o"]).collect()
    two = exact_dedup(df.repartition(7), ["k"], ["o"]).collect()
    assert one == two
    assert one[0].v == "aa"


def test_exact_dedup_rejects_unknown_method(spark):
    from etl_mudah_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, 1)], "k int, o int")
    import pytest as _pt

    with _pt.raises(ValueError, match="method"):
        exact_dedup(df, ["k"], ["o"], method="nope")


def test_stream_minhash_ingest_equals_one_shot_incremental(spark, tmp_path):
    """The streaming text-ingest loop (per-micro-batch dedup + index
    append) must EXACTLY equal the one-shot minhash_dedup_incremental
    over the concatenated batch: the band hash family is
    deterministic, so a pair collides in the same (band_id, band_hash)
    whether its two sides arrive in one micro-batch, in two, or one
    pre-indexed — cross-batch pairs surface exactly once via the
    append, never zero or twice."""
    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_build,
    )
    from etl_mudah_spark.streaming.ingest import stream_minhash_dedup_ingest

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    corpus = full_df.where(F.col("doc_id") % 2 == 0)
    batch = full_df.where(F.col("doc_id") % 2 == 1)

    def pairset(df):
        return {
            (frozenset((r["doc_a"], r["doc_b"])), round(r["jaccard"], 6))
            for r in df.collect()
        }

    one_idx = str(tmp_path / "one_idx")
    minhash_index_build(corpus, one_idx)
    want = pairset(
        minhash_dedup_incremental(spark, batch, one_idx, threshold=0.3)
    )

    st_idx = str(tmp_path / "st_idx")
    minhash_index_build(corpus, st_idx)
    batch.repartitionByRange(3, "doc_id").write.parquet(
        str(tmp_path / "drop")
    )
    got = pairset(
        stream_minhash_dedup_ingest(
            spark,
            str(tmp_path / "drop"),
            st_idx,
            str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
            threshold=0.3,
        )
    )
    assert got == want and got, "known near-dup pairs exist in the corpus"


def test_stream_minhash_ingest_replay_is_idempotent_after_normalization(
    spark, tmp_path
):
    """The documented at-least-once contract: a replayed micro-batch
    (crash between the pairs append and the checkpoint commit) may
    duplicate rows in the raw pairs sink and re-append its docs to the
    index, but the consumer-side least/greatest + distinct
    normalization yields the SAME pair set — re-colliding a known doc
    only re-finds already-emitted pairs (self-pairs are filtered by
    the id inequality)."""
    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_append,
        minhash_index_build,
    )
    from etl_mudah_spark.streaming.ingest import stream_minhash_dedup_ingest

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    corpus = full_df.where(F.col("doc_id") % 2 == 0)
    batch = full_df.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    minhash_index_build(corpus, idx)
    batch.repartitionByRange(3, "doc_id").write.parquet(
        str(tmp_path / "drop")
    )
    pairs_path = str(tmp_path / "pairs")
    streamed = stream_minhash_dedup_ingest(
        spark,
        str(tmp_path / "drop"),
        idx,
        pairs_path,
        str(tmp_path / "ckpt"),
        threshold=0.3,
    )

    def norm(df):
        return {
            (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
            for r in df.collect()
        }

    before = norm(streamed)
    # replay the last micro-batch by hand: dedup against the
    # already-appended index, append pairs, re-append the docs
    replayed = batch.where(F.col("doc_id") >= 4)
    minhash_dedup_incremental(
        spark, replayed, idx, threshold=0.3
    ).write.mode("append").parquet(pairs_path)
    minhash_index_append(replayed, idx)
    after = norm(spark.read.parquet(pairs_path))
    assert after == before and before


def test_minhash_index_compact_preserves_results(spark, tmp_path):
    """Compacting a streamed-into index (build + two appends = many
    small files per band partition) must leave incremental-dedup
    results EXACTLY unchanged while reducing the file count — the
    compaction relocates rows, never changes them, and keeps the
    band_id hive layout that prunes the probe join. One
    ``compact_files`` over the index path compacts both sub-tables."""
    import glob

    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_append,
        minhash_index_build,
    )
    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import manifest_resolve

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    idx = str(tmp_path / "idx")
    minhash_index_build(full_df.where(F.col("doc_id") <= 1), idx)
    minhash_index_append(full_df.where(F.col("doc_id").isin(2, 3)), idx)
    minhash_index_append(full_df.where(F.col("doc_id").isin(4)), idx)
    probe = full_df.where(F.col("doc_id") == 5)

    def pairset():
        return {
            (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]),
             round(r["jaccard"], 6))
            for r in minhash_dedup_incremental(
                spark, probe, idx, threshold=0.1
            ).collect()
        }

    def n_files():  # live version only: compaction retains the old one
        live = manifest_resolve(idx)
        return len(glob.glob(f"{live}/**/*.parquet", recursive=True))

    before_pairs, before_files = pairset(), n_files()
    compact_files(spark, idx, max_files=1)
    after_pairs, after_files = pairset(), n_files()
    assert after_pairs == before_pairs
    assert after_files < before_files


def test_minhash_index_append_after_compaction_lands_in_live_version(
    spark, tmp_path
):
    """Compaction publishes the index as the next manifest version; a
    later append must land INSIDE the live version (not beside v=N/,
    where partition discovery would break and the probe would miss
    it), so the compacted index answers like an uncompacted twin."""
    import os

    from etl_mudah_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_append,
        minhash_index_build,
    )
    from etl_mudah_spark.operators.layout import compact_files

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    ref, idx = str(tmp_path / "ref"), str(tmp_path / "idx")
    for p in (ref, idx):
        minhash_index_build(full_df.where(F.col("doc_id") == 0), p)
    compact_files(spark, idx, max_files=1)
    for p in (ref, idx):  # doc 1 duplicates doc 0
        minhash_index_append(full_df.where(F.col("doc_id") == 1), p)
    probe = full_df.where(F.col("doc_id") == 2)

    def pairset(p):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
            for r in minhash_dedup_incremental(
                spark, probe, p, threshold=0.1, include_batch_pairs=False
            ).collect()
        }

    got = pairset(idx)
    assert got == pairset(ref)
    assert {a for a, _, _ in got} == {0, 1}
    # v=1 is the build, v=2 the compaction (v=1 retained, keep=1)
    assert sorted(os.listdir(idx)) == ["_current", "v=00000001", "v=00000002"]


def _minhash_answer(spark, idx):
    from etl_mudah_spark.operators.dedup import minhash_dedup_incremental

    probe = spark.createDataFrame([(10, CORPUS[2][1])], "doc_id bigint, text string")
    return sorted(
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
        for r in minhash_dedup_incremental(
            spark, probe, idx, threshold=0.1, include_batch_pairs=False
        ).collect()
    )


def test_minhash_index_build_crash_leaves_live_index_answering(
    spark, tmp_path, publish_crash
):
    """A rebuild that crashes inside the index's version write or
    before its pointer flip leaves the live index answering exactly as
    before; the next build publishes and answers like a fresh index
    over the grown corpus."""
    from etl_mudah_spark.operators.dedup import minhash_index_build

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    grown = full_df.where(F.col("doc_id") <= 3)
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    minhash_index_build(full_df.where(F.col("doc_id") <= 1), idx)
    minhash_index_build(grown, ref)
    before = _minhash_answer(spark, idx)
    assert {a for a, _, _ in before} == {0, 1}
    for window in ("write", "flip"):
        with publish_crash(idx, window):
            minhash_index_build(grown, idx)
        assert _minhash_answer(spark, idx) == before, window
    minhash_index_build(grown, idx)
    assert _minhash_answer(spark, idx) == _minhash_answer(spark, ref) != before


def test_minhash_index_rebuild_over_shrunk_corpus_crash_keeps_live_answers(
    spark, tmp_path, publish_crash
):
    """A rebuild over a corpus that DROPS documents, crashing in either
    window, must leave the live index answering as before: bands and
    shingles share one pointer, so the old bands can never meet the new
    shingles (which lack the dropped docs and would fail every old
    candidate's verification)."""
    from etl_mudah_spark.operators.dedup import minhash_index_build

    full_df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    old = full_df.where(F.col("doc_id").isin(0, 1))
    new = full_df.where(F.col("doc_id").isin(2, 3))
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    minhash_index_build(old, idx)
    minhash_index_build(new, ref)
    before, after = _minhash_answer(spark, idx), _minhash_answer(spark, ref)
    assert before and after and before != after
    for window in ("write", "flip"):
        with publish_crash(idx, window):
            minhash_index_build(new, idx)
        assert _minhash_answer(spark, idx) == before, window
    minhash_index_build(new, idx)
    assert _minhash_answer(spark, idx) == after
