"""Property-based tests (hypothesis): engine invariants that example
tests can't sweep — idempotency, input-order invariance, two-phase-rank
equivalence — over randomized inputs.

Each example batches all generated rows into ONE DataFrame so an
example costs a couple of Spark jobs; max_examples stays small (Spark
job latency dominates) and deadline is off for the same reason.
Shrinking still reduces any failure to a minimal row list.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mudah_spark.operators.merge import merge_dataframes
from etl_mudah_spark.operators.pii import scrub
from etl_mudah_spark.operators.sampling import bucketed_global_rank, keymod_flag

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ---------------------------------------------------------------------------
# bucketed_global_rank == single-window row_number
# ---------------------------------------------------------------------------
@given(vals=st.lists(st.integers(-100, 100), min_size=1, max_size=50))
@settings(**_SETTINGS)
def test_bucketed_rank_matches_single_window(spark, vals):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, v bigint"
    )
    got = {
        r["id"]: r["rn"]
        for r in bucketed_global_rank(
            df, F.floor(F.col("v") / 10).cast("bigint"), ["v", "id"]
        ).collect()
    }
    exp = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# grouped_bucketed_running_sum == per-group single-window running sum
# (the round-11 shard-packing decomposition must be exact for ANY
# group layout, including empty buckets, one-row groups, and negative
# values)
# ---------------------------------------------------------------------------
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_grouped_bucketed_running_sum_matches_single_window(spark, rows):
    from etl_mudah_spark.operators.sampling import (
        grouped_bucketed_running_sum,
    )

    # group 3 maps to NULL: the offsets join is null-safe (ADVICE r11),
    # so a NULL group must behave exactly like PARTITION BY's own
    # NULL partition, not silently drop its rows
    df = spark.createDataFrame(
        [(i, None if g == 3 else f"g{g}", v) for i, (g, v) in enumerate(rows)],
        "id bigint, g string, v bigint",
    )
    got = {
        r["id"]: r["cum"]
        for r in grouped_bucketed_running_sum(
            df, ["g"], F.floor(F.col("id") / 7).cast("bigint"),
            [F.col("id")], F.col("v")
        ).collect()
    }
    exp = {
        r["id"]: r["cum"]
        for r in df.withColumn(
            "cum", F.sum("v").over(Window.partitionBy("g").orderBy("id"))
        ).collect()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# grouped_bucketed_running_sum on DUPLICATE order keys: the chosen
# semantics is an explicit ROWS frame over an arbitrary tie order
# (ADVICE r11 — the default RANGE frame would give every tied row the
# whole tie class's sum). Pinned invariants, valid for ANY tie order:
# each tie class contributes |class| distinct prefix positions, and the
# class's cumulative total (= the RANGE value) appears among them,
# because the last tied row processed always closes the class.
# ---------------------------------------------------------------------------
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 4), st.integers(1, 9)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_grouped_bucketed_running_sum_rows_frame_on_ties(spark, rows):
    from collections import defaultdict

    from etl_mudah_spark.operators.sampling import (
        grouped_bucketed_running_sum,
    )

    df = spark.createDataFrame(
        [(f"g{g}", k, v) for g, k, v in rows], "g string, k bigint, v bigint"
    )
    got = grouped_bucketed_running_sum(
        df, ["g"], F.expr("k DIV 2"), [F.col("k")], F.col("v")
    ).collect()
    by_class = defaultdict(list)
    for r in got:
        by_class[(r["g"], r["k"])].append(r["cum"])
    range_cum = defaultdict(int)
    totals = defaultdict(int)
    for g, k, v in sorted(rows):
        totals[(f"g{g}", k)] += v
    running = defaultdict(int)
    for (g, k), tot in sorted(totals.items()):
        running[g] += tot
        range_cum[(g, k)] = running[g]
    for cls, cums in by_class.items():
        n_rows = sum(1 for g, k, _ in rows if (f"g{g}", k) == cls)
        # v >= 1, so prefixes within a class strictly increase: the
        # class must occupy |class| DISTINCT positions (ROWS frame) ...
        assert len(set(cums)) == n_rows == len(cums), (cls, cums)
        # ... and close at the RANGE-frame value
        assert max(cums) == range_cum[cls], (cls, cums, range_cum[cls])


# ---------------------------------------------------------------------------
# PII scrub: idempotent; clean text is untouched
# ---------------------------------------------------------------------------
_frag = st.one_of(
    st.sampled_from(
        [
            "a@b.com",
            "x 192.168.0.1 y",
            "call +60 123-4567 89 now",
            "1.2.3.999999999",
            "12345678.1.2.3.4",
            "<EMAIL>",
            "plain words",
        ]
    ),
    st.text(alphabet="ab01.@-+() <>", max_size=16),
)


@given(frags=st.lists(_frag, min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_pii_scrub_is_idempotent(spark, frags):
    df = spark.createDataFrame([(" ".join(frags),)], "text string")
    row = df.select(
        scrub("text").alias("once"), scrub(scrub("text")).alias("twice")
    ).first()
    assert row["once"] == row["twice"]


@given(words=st.lists(st.text(alphabet="abcdefg ", max_size=10), max_size=8))
@settings(**_SETTINGS)
def test_pii_scrub_leaves_clean_text_alone(spark, words):
    text = " ".join(words)
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(scrub("text").alias("s"))
        .first()
    )
    assert row["s"] == text


# ---------------------------------------------------------------------------
# merge_dataframes: idempotent re-merge; staged-order invariance
# ---------------------------------------------------------------------------
_T0 = dt.datetime(2024, 1, 1)
_TB = dt.datetime(2024, 2, 1)

_merge_row = st.tuples(
    st.integers(1, 5),                       # listing_id — collisions likely
    st.integers(0, 500).map(float),          # price
    st.sampled_from([dt.datetime(2024, 1, d) for d in (2, 3, 4)]),  # listing_date
    st.sampled_from(["r1", "r2"]),
)

_MERGE_SCHEMA = (
    "listing_id bigint, price double, listing_date timestamp, "
    "region_id string, created_at timestamp, updated_at timestamp"
)


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


@given(staged=st.lists(_merge_row, min_size=1, max_size=10), seed=st.randoms())
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_merge_idempotent_and_staged_order_invariant(spark, staged, seed):
    target = spark.createDataFrame(
        [(1, 100.0, _T0, "r1", _T0, _T0), (9, 900.0, _T0, "r2", _T0, _T0)],
        _MERGE_SCHEMA,
    )
    rows = [(k, p, d, rg, None, None) for k, p, d, rg in staged]
    shuffled = list(rows)
    seed.shuffle(shuffled)
    kwargs = dict(
        key_cols=["listing_id"],
        order_cols=["listing_date", "price", "listing_id"],
        batch_ts=_TB,
    )
    once = merge_dataframes(
        target, spark.createDataFrame(rows, _MERGE_SCHEMA), **kwargs
    )
    # same batch re-merged into the result changes nothing (reference
    # contract: double-running the DAG must not duplicate or drift)
    twice = merge_dataframes(
        once, spark.createDataFrame(rows, _MERGE_SCHEMA), **kwargs
    )
    # survivor choice depends only on order_cols, not input row order
    permuted = merge_dataframes(
        target, spark.createDataFrame(shuffled, _MERGE_SCHEMA), **kwargs
    )
    expect = _canon_rows(once)
    assert _canon_rows(twice) == expect
    assert _canon_rows(permuted) == expect


# ---------------------------------------------------------------------------
# keymod sampling: 0 keeps nothing, 1 keeps all, monotone in weight
# ---------------------------------------------------------------------------
@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=60),
    w1=st.floats(0.0, 1.0),
    w2=st.floats(0.0, 1.0),
)
@settings(**_SETTINGS)
def test_keymod_flag_monotone_in_weight(spark, keys, w1, w2):
    lo, hi = sorted((w1, w2))
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    row = df.select(
        F.sum(keymod_flag("k", F.lit(0.0)).cast("int")).alias("none"),
        F.sum(keymod_flag("k", F.lit(1.0)).cast("int")).alias("all"),
        F.sum(
            (keymod_flag("k", F.lit(lo)) & ~keymod_flag("k", F.lit(hi))).cast("int")
        ).alias("lo_not_hi"),
    ).first()
    assert row["none"] == 0
    assert row["all"] == len(keys)
    assert row["lo_not_hi"] == 0  # kept(lo) ⊆ kept(hi)


# ---------------------------------------------------------------------------
# as-of join == per-row "latest right row with ts' <= ts" lookup
# ---------------------------------------------------------------------------
@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50), st.integers(0, 999)),
        max_size=15,
    ),
)
@settings(**_SETTINGS)
def test_asof_backward_matches_pointwise_lookup(spark, lefts, rights):
    from etl_mudah_spark.operators.asof import asof_join_backward

    # unique (key, ts) on the right — the contract's deterministic case
    rdedup = {(k, t): v for k, t, v in rights}
    rrows = [(k, t, v) for (k, t), v in rdedup.items()]
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid bigint, k bigint, ts bigint"
    )
    rdf = spark.createDataFrame(rrows or [(0, -1, 0)], "k bigint, ts bigint, val bigint")
    if not rrows:
        rdf = rdf.where("k < 0")
    got = {
        r["lid"]: r["val_asof"]
        for r in asof_join_backward(
            ldf, rdf, ["k"], "ts", "ts", ["val"]
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        prior = [(rt, v) for (rk, rt), v in rdedup.items() if rk == k and rt <= t]
        want = max(prior)[1] if prior else None
        assert got[i] == want, (i, k, t, got[i], want)


# ---------------------------------------------------------------------------
# distributed connected components == union-find oracle
# ---------------------------------------------------------------------------
def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=20
    )
)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_duplicate_clusters_match_union_find(spark, edges):
    from etl_mudah_spark.operators.graph import duplicate_clusters

    pairs = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    got = {r["node"]: r for r in duplicate_clusters(df).collect()}
    roots = _union_find(pairs)
    comp_min = {}
    comp_size = {}
    for n, r in roots.items():
        comp_min[r] = min(comp_min.get(r, n), n)
        comp_size[r] = comp_size.get(r, 0) + 1
    assert set(got) == set(roots)
    for n, r in roots.items():
        assert got[n]["cluster_id"] == comp_min[r]
        assert got[n]["n_docs"] == comp_size[r]
        assert got[n]["is_survivor"] == (n == comp_min[r])


# ---------------------------------------------------------------------------
# token_budget_mix: monotone in budget, exact under-budget keep-all
# ---------------------------------------------------------------------------
@given(
    toks=st.lists(st.integers(1, 50), min_size=1, max_size=40),
    b1=st.integers(0, 2000),
    b2=st.integers(0, 2000),
)
@settings(**_SETTINGS)
def test_token_budget_mix_monotone_in_budget(spark, toks, b1, b2):
    """A bigger token budget never drops a doc the smaller budget kept,
    and a budget >= the stratum's supply keeps everything."""
    from etl_mudah_spark.operators.sampling import token_budget_mix

    lo, hi = sorted((b1, b2))
    df = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(toks)],
        "doc_id bigint, source string, n_tok bigint",
    )

    def kept(budget):
        out = token_budget_mix(
            df, "doc_id", "source", "n_tok", F.lit(budget)
        ).collect()
        return {r["doc_id"] for r in out if r["_kept"]}

    kept_lo, kept_hi = kept(lo), kept(hi)
    assert kept_lo <= kept_hi
    if hi >= sum(toks):
        assert kept_hi == set(range(len(toks)))


# ---------------------------------------------------------------------------
# streaming SCD2 ingest == from-scratch collapse, under adversarial
# batching (VERDICT r5 item 8): out-of-order effective_ts, duplicate
# keys across batches, rows replayed into later batches, NULL attrs.
# ---------------------------------------------------------------------------
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),                       # cust_id
            st.sampled_from(["a", "b", None]),       # tier (incl. NULL)
            st.sampled_from(["2024-01-01T00:00:00",  # ts — few values =>
                             "2024-02-01T00:00:00",  # ties + disorder
                             "2024-03-01T00:00:00"]),
        ),
        min_size=1,
        max_size=10,
    ),
    n_batches=st.integers(1, 3),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_stream_scd2_matches_batch_collapse_under_adversarial_batching(
    spark, tmp_path_factory, rows, n_batches
):
    import json as _json
    import os as _os
    import time as _time

    from etl_mudah_spark.operators.scd import scd2_collapse
    from etl_mudah_spark.streaming.ingest import stream_scd2_ingest

    tmp = tmp_path_factory.mktemp("scd2_prop")
    drop = tmp / "drop"
    drop.mkdir()
    log_p, hist_p = str(tmp / "log"), str(tmp / "hist")
    ddl = "cust_id bigint, tier string, ts timestamp"
    kw = dict(key_cols=["cust_id"], attr_cols=["tier"], ts_col="ts",
              tiebreak_cols=["tier"])

    # deal rows round-robin into batches, then REPLAY the previous
    # batch's first row into each later batch (cross-batch duplicates)
    batches = [rows[i::n_batches] for i in range(n_batches)]
    batches = [b for b in batches if b]
    for i in range(1, len(batches)):
        batches[i] = [batches[i - 1][0]] + batches[i]

    now = _time.time()
    for i, batch in enumerate(batches):
        path = _os.path.join(str(drop), f"b{i}.jsonl")
        with open(path, "w") as f:
            for cid, tier, ts in batch:
                f.write(_json.dumps(
                    {"cust_id": cid, "tier": tier, "ts": ts}) + "\n")
        _os.utime(path, (now - 60 + i, now - 60 + i))
        stream_scd2_ingest(spark, str(drop), ddl, log_p, hist_p,
                           str(tmp / f"ckpt{i}"), **kw)

    log = spark.read.parquet(log_p)
    # cross-batch replays never re-append: the log holds every distinct
    # (key, ts, attr) exactly once UNLESS the same row legitimately
    # appeared twice inside one batch (within-batch duplicates are two
    # log events). So: distinct <= log <= sum of per-batch distincts.
    n_log = log.count()
    n_distinct = log.dropDuplicates(["cust_id", "ts", "tier"]).count()
    # upper bound: a FIRST batch may carry within-batch duplicates (two
    # legitimate log events), but rows seen in ANY earlier batch are
    # never re-appended — so the log can never exceed the raw row count
    # and must cover every distinct change.
    assert n_distinct <= n_log <= sum(len(b) for b in batches)
    full = scd2_collapse(log, ["cust_id"], ["tier"], "ts", ["tier"])
    from etl_mudah_spark.operators.manifest import manifest_read

    got = sorted(map(tuple, manifest_read(spark, hist_p).collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want


# ---------------------------------------------------------------------------
# BPE tokenizer invariants over random word corpora: the count is
# bracketed by the structural bounds, full training degenerates to the
# word count, and train+apply is deterministic.
# ---------------------------------------------------------------------------
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcdef", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    n_merges=st.integers(0, 40),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_bpe_counts_bracketed_and_deterministic(spark, docs, n_merges):
    from etl_mudah_spark.operators import bpe

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    merges = bpe.bpe_train(df, n_merges=n_merges, sample_mod=1)
    assert merges == bpe.bpe_train(df, n_merges=n_merges, sample_mod=1)
    rows = bpe.bpe_token_counts(df, merges).collect()
    by_id = {r["doc_id"]: r["n_bpe"] for r in rows}
    for i, t in enumerate(docs):
        words = t.split()
        n_chars_nonspace = sum(len(w) for w in words)
        # each word yields between 1 and len(word)+1 tokens
        assert len(words) <= by_id[i] <= n_chars_nonspace + len(words)
    # saturated training fuses every sampled word to one token
    full = bpe.bpe_train(df, n_merges=10_000, sample_mod=1)
    sat = {r["doc_id"]: r["n_bpe"]
           for r in bpe.bpe_token_counts(df, full).collect()}
    for i, t in enumerate(docs):
        assert sat[i] == len(t.split())


# ---------------------------------------------------------------------------
# prefix_filtered_jaccard == Python brute-force Jaccard
# ---------------------------------------------------------------------------
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("red blue fast slow car bike sale new old".split()),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**_SETTINGS)
def test_prefix_jaccard_matches_bruteforce(spark, docs, threshold):
    """The prefix filter is LOSSLESS: over random small-vocab corpora
    (high shingle collision rates — the adversarial case for candidate
    pruning) the pair set equals an independent Python brute force."""
    from etl_mudah_spark.operators.dedup import prefix_filtered_jaccard

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id bigint, text string")

    def shingles(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in enumerate(docs)}
    expect = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= threshold:
                    expect.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filtered_jaccard(df, threshold=threshold).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# weighted_sample_topn == Python A-ES oracle
# ---------------------------------------------------------------------------
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10_000), st.floats(0.5, 1000.0, allow_nan=False)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(1, 10),
)
@settings(**_SETTINGS)
def test_weighted_sample_matches_python_oracle(spark, rows, n):
    import math

    from etl_mudah_spark.operators.sampling import (
        LCG_A,
        LCG_C,
        LCG_M,
        weighted_sample_topn,
    )

    df = spark.createDataFrame(rows, "k bigint, w double")

    def key(i, w):
        u = ((i * LCG_A + LCG_C) % LCG_M + 1) / (LCG_M + 1)
        return math.log(u) / w

    expect = [k for k, w in sorted(rows, key=lambda r: (-key(*r), r[0]))[:n]]
    got = [r["k"] for r in weighted_sample_topn(df, "k", F.col("w"), n).collect()]
    assert got == expect
