"""batch_topk: one-pass batch retrieval vs per-probe brute force, plus
the plan claims (broadcast probe batch, salted partial window)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_mudah_spark.operators import similarity as sim
from etl_mudah_spark.tables import load
from tests.conftest import SF_SMOKE


def _probes(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def test_batch_topk_equals_per_probe_brute(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    got = sim.batch_topk(emb, _probes(emb), k=5).collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert sorted(by_probe) == [0, 1, 2, 3, 4]
    for pid, rows in by_probe.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == pid).first()["embedding"]
        ]
        brute = sim.brute_force_topk(
            emb.where(F.col("vec_id") != pid), qvec, k=5
        ).collect()
        assert [(r["vec_id"], r["cosine_sim"]) for r in rows] == [
            (b["vec_id"], b["cosine_sim"]) for b in brute
        ]


def test_batch_topk_rank_orders_by_similarity(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    for rows in (
        sim.batch_topk(emb, _probes(emb), k=5)
        .groupBy("probe_id")
        .agg(F.sort_array(F.collect_list(F.struct("rank", "cosine_sim"))).alias("rs"))
        .collect()
    ):
        sims = [r["cosine_sim"] for r in rows["rs"]]
        assert sims == sorted(sims, reverse=True)


def test_batch_topk_plan_broadcasts_probes_and_salts_partials(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    df = sim.batch_topk(emb, _probes(emb), k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # probe batch is the broadcast side of the non-equi join
    assert "BroadcastNestedLoopJoin BuildRight" in plan or "BroadcastExchange" in plan
    # both windows are partitioned: stage 1 by (probe, salt), stage 2 by
    # probe over the tiny partials — nothing sorts in one task
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Window") >= 2


def test_semantic_dedup_pairs_are_exact_within_cells(spark):
    """SemDeDup blocking: every returned pair truly clears the cosine
    threshold (perfect precision — only recall is approximate), ids are
    canonical (a < b), and the pair set is a subset of the exact
    all-pairs result."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.tables import load
    from tests.conftest import SF_SMOKE

    emb = load(spark, SF_SMOKE, "embeddings")
    got = sim.semantic_dedup_pairs(emb, threshold=0.45, n_cells=4).collect()
    assert got, "smoke corpus has known near-dup pairs"
    assert all(r["id_a"] < r["id_b"] for r in got)
    assert all(r["cosine_sim"] >= 0.45 for r in got)

    e = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    a, b = e.alias("a"), e.alias("b")
    cos = sim.cosine(F.col("a.v"), F.col("b.v"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= 0.45)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in got} <= exact


def test_srp_incremental_equals_full_run_batch_pairs(spark, tmp_path):
    """srp_dedup_incremental over a persisted index must EXACTLY equal
    the batch-touching pairs of a from-scratch cosine_near_duplicates
    over corpus ∪ batch — the hyperplanes are deterministic, so
    candidates and verification are identical; only the corpus-side
    recompute is skipped."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.plans.datapipe import EMB_DIM
    from etl_mudah_spark.tables import load
    from tests.conftest import SF_SMOKE

    emb = load(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "srp_idx")
    sim.srp_index_build(corpus, idx, dim=EMB_DIM, n_planes=8, n_tables=24)

    incr = sim.srp_dedup_incremental(
        spark, batch, idx, dim=EMB_DIM, threshold=0.45,
        n_planes=8, n_tables=24,
    )
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in incr.collect()
    }
    full = sim.cosine_near_duplicates(
        emb, threshold=0.45, n_planes=8, n_tables=24, dim=EMB_DIM
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert got == want and got, "known near-dup pairs exist at smoke scale"


def test_batch_topk_pair_filter_mines_hard_negatives(spark):
    """The pair-predicate path (round 13): with a label-inequality
    filter, every returned candidate's label differs from its anchor's,
    and the result equals per-probe brute force over the label-filtered
    corpus (the filter changes WHICH rows rank, not how)."""
    emb = load(spark, SF_SMOKE, "embeddings")
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        "embedding",
        F.col("label").alias("p_label"),
    )
    got = sim.batch_topk(
        emb,
        probes,
        k=5,
        corpus_cols=("label",),
        pair_filter=F.col("label") != F.col("p_label"),
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in
              emb.select("vec_id", "label").collect()}
    for r in got:
        assert labels[r["vec_id"]] != labels[r["probe_id"]]
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, rows in by_probe.items():
        rows.sort(key=lambda r: r["rank"])
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == pid).first()["embedding"]
        ]
        brute = sim.brute_force_topk(
            emb.where(
                (F.col("vec_id") != pid)
                & (F.col("label") != labels[pid])
            ),
            qvec,
            k=5,
        ).collect()
        assert [(r["vec_id"], r["cosine_sim"]) for r in rows] == [
            (b["vec_id"], b["cosine_sim"]) for b in brute
        ]


def test_batch_topk_without_filter_unchanged_by_new_params(spark):
    """Default-path regression pin: the new corpus_cols/pair_filter
    parameters must not perturb the unfiltered result."""
    emb = load(spark, SF_SMOKE, "embeddings")
    a = sim.batch_topk(emb, _probes(emb), k=3).collect()
    b = sim.batch_topk(emb, _probes(emb), k=3, corpus_cols=()).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_batch_topk_per_anchor_result_is_panel_size_invariant(spark):
    """Panel-size property (VERDICT r13 item 8): each anchor's kNN rows
    depend only on (anchor, corpus), never on which OTHER anchors share
    the panel — so growing emb_knn_label_agreement's 25-anchor panel
    must not change any existing anchor's neighbors or vote. Pinned by
    exact equality of the shared anchors' rows at two panel sizes, each
    already brute-force-pinned by the tests above."""
    emb = load(spark, SF_SMOKE, "embeddings")

    def knn(panel_n):
        probes = emb.where(F.col("vec_id") < panel_n).select(
            F.col("vec_id").alias("probe_id"),
            "embedding",
            F.col("label").alias("probe_label"),
        )
        rows = sim.batch_topk(
            emb, probes, k=5, corpus_cols=("label",), keep_pair_cols=True
        ).collect()
        return sorted(
            (r["probe_id"], r["rank"], r["vec_id"], r["cosine_sim"],
             r["probe_label"], r["label"])
            for r in rows
            if r["probe_id"] < 10
        )

    small, big = knn(10), knn(25)
    assert small and small == big


def _half_up(x: float, places: int) -> float:
    """Mirror Spark's F.round (BigDecimal.valueOf + HALF_UP): Python's
    built-in round is banker's and would diverge at .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def test_mmr_topk_matches_greedy_reference(spark):
    """mmr_topk must equal a from-scratch Python replication of the
    greedy on the same rounded float path: per step, argmax of
    0.7*rel - 0.3*max-sim-to-selected with (score desc, id asc) ties —
    every pick, rel, and score exactly equal."""
    import math

    emb = load(spark, SF_SMOKE, "embeddings")
    probes = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("probe_id"), "embedding")
        .limit(3)
    )
    got = sim.mmr_topk(
        emb, probes, k=5, shortlist=10, lam=0.7, penalty=0.3
    ).collect()
    base = sim.batch_topk(emb, probes, k=10).collect()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def unit(v):
        n = max(math.sqrt(sum(x * x for x in v)), 1e-12)
        return [x / n for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    for pid in (0, 1, 2):
        sl = sorted(
            (r for r in base if r["probe_id"] == pid),
            key=lambda r: r["rank"],
        )
        cands = [(r["vec_id"], r["cosine_sim"]) for r in sl]
        selected = []
        for _step in range(5):
            chosen_ids = [c for c, _, _ in selected]
            best = None
            for cid, rel in cands:
                if cid in chosen_ids:
                    continue
                if selected:
                    ms = max(
                        _half_up(dot(unit(vecs[cid]), unit(vecs[s])), 4)
                        for s in chosen_ids
                    )
                    score = _half_up(0.7 * rel - 0.3 * ms, 6)
                else:
                    score = _half_up(0.7 * rel, 6)
                if (
                    best is None
                    or score > best[2]
                    or (score == best[2] and cid < best[0])
                ):
                    best = (cid, rel, score)
            selected.append(best)
        got_p = sorted(
            (r for r in got if r["probe_id"] == pid),
            key=lambda r: r["step"],
        )
        assert [(r["step"], r["vec_id"], r["rel"], r["mmr_score"]) for r in got_p] == [
            (i + 1, c, rel, sc) for i, (c, rel, sc) in enumerate(selected)
        ]


def test_mmr_topk_structure_and_diversity_penalty(spark):
    """Structural pins: k distinct picks per probe, all drawn from the
    relevance shortlist; step 1 IS the relevance argmax; and from step
    2 on the picked scores are non-increasing (each candidate's
    max-sim-to-selected only grows as the set grows, and the previous
    argmax left the pool — note a NEGATIVE max-sim is a reward, so
    step 2 may legitimately exceed 0.7x rel and even step 1's
    score)."""
    emb = load(spark, SF_SMOKE, "embeddings")
    probes = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("probe_id"), "embedding")
        .limit(3)
    )
    got = sim.mmr_topk(emb, probes, k=4, shortlist=12).collect()
    base = sim.batch_topk(emb, probes, k=12).collect()
    top1 = {
        r["probe_id"]: r["vec_id"] for r in base if r["rank"] == 1
    }
    short = {}
    for r in base:
        short.setdefault(r["probe_id"], set()).add(r["vec_id"])
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert sorted(by_probe) == [0, 1, 2]
    for pid, rows in by_probe.items():
        ids = [r["vec_id"] for r in sorted(rows, key=lambda r: r["step"])]
        assert len(ids) == 4 and len(set(ids)) == 4
        assert set(ids) <= short[pid]
        assert ids[0] == top1[pid]
        tail = [
            r["mmr_score"]
            for r in sorted(rows, key=lambda r: r["step"])
            if r["step"] >= 2
        ]
        assert tail == sorted(tail, reverse=True)


def test_batch_topk_rejects_cross_side_name_collisions(spark):
    """Collision guard (ADVICE r13): a probe extra sharing a name with
    id_col or a corpus_cols entry used to resolve ambiguously (or throw
    a bare AnalysisException deep in the join); it must fail fast with
    a descriptive error instead."""
    import pytest

    emb = load(spark, SF_SMOKE, "embeddings")
    # probe carries 'label' un-renamed while corpus_cols also asks for
    # 'label' — the exact footgun the kNN/hard-negative callers dodge
    # by convention
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding", "label"
    )
    with pytest.raises(ValueError, match="label"):
        sim.batch_topk(emb, probes, k=3, corpus_cols=("label",))
    # internal working names are reserved too
    probes2 = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        "embedding",
        F.col("label").alias("cosine_sim"),
    )
    with pytest.raises(ValueError, match="cosine_sim"):
        sim.batch_topk(emb, probes2, k=3)


def test_stream_srp_ingest_equals_one_shot_incremental(spark, tmp_path):
    """The streaming ingest loop (per-micro-batch dedup + index
    append) must EXACTLY equal the one-shot srp_dedup_incremental over
    the concatenated batch: the hyperplane family is deterministic, so
    a pair collides in the same first table whether its two sides
    arrive in one micro-batch, in two, or one pre-indexed — cross-batch
    pairs surface exactly once via the append, never zero or twice."""
    from etl_mudah_spark.plans.datapipe import EMB_DIM
    from etl_mudah_spark.streaming.ingest import stream_srp_dedup_ingest

    emb = load(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)

    one_idx = str(tmp_path / "one_idx")
    sim.srp_index_build(corpus, one_idx, dim=EMB_DIM, n_planes=8, n_tables=24)
    one = sim.srp_dedup_incremental(
        spark, batch, one_idx, dim=EMB_DIM, threshold=0.45,
        n_planes=8, n_tables=24,
    )
    want = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in one.collect()
    }

    st_idx = str(tmp_path / "st_idx")
    sim.srp_index_build(corpus, st_idx, dim=EMB_DIM, n_planes=8, n_tables=24)
    batch.repartitionByRange(3, "vec_id").write.parquet(
        str(tmp_path / "drop")
    )
    streamed = stream_srp_dedup_ingest(
        spark,
        str(tmp_path / "drop"),
        st_idx,
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        dim=EMB_DIM,
        threshold=0.45,
        n_planes=8,
        n_tables=24,
    )
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in streamed.collect()
    }
    assert got == want and got, "known near-dup pairs exist at smoke scale"


def test_srp_index_compact_preserves_results(spark, tmp_path):
    """Compacting a streamed-into SRP index (build + two appends) must
    leave incremental-dedup results exactly unchanged while reducing
    the file count; one ``compact_files`` over the index path compacts
    both sub-tables."""
    import glob

    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.operators.manifest import manifest_resolve
    from etl_mudah_spark.plans.datapipe import EMB_DIM

    emb = load(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "idx")
    sim.srp_index_build(
        emb.where(F.col("vec_id") % 4 == 0), idx,
        dim=EMB_DIM, n_planes=8, n_tables=24,
    )
    sim.srp_index_append(
        emb.where(F.col("vec_id") % 4 == 1), idx,
        dim=EMB_DIM, n_planes=8, n_tables=24,
    )
    sim.srp_index_append(
        emb.where(F.col("vec_id") % 4 == 2), idx,
        dim=EMB_DIM, n_planes=8, n_tables=24,
    )
    probe = emb.where(F.col("vec_id") % 4 == 3)

    def pairset():
        return {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]),
             r["cosine_sim"])
            for r in sim.srp_dedup_incremental(
                spark, probe, idx, dim=EMB_DIM, threshold=0.45,
                n_planes=8, n_tables=24,
            ).collect()
        }

    def n_files():  # live version only: compaction retains the old one
        live = manifest_resolve(idx)
        return len(glob.glob(f"{live}/**/*.parquet", recursive=True))

    before_pairs, before_files = pairset(), n_files()
    compact_files(spark, idx, max_files=1)
    after_pairs, after_files = pairset(), n_files()
    assert after_pairs == before_pairs and before_pairs
    assert after_files < before_files


def _srp_answer(spark, idx, batch):
    from etl_mudah_spark.plans.datapipe import EMB_DIM

    return sorted(
        tuple(r)
        for r in sim.srp_dedup_incremental(
            spark, batch, idx, dim=EMB_DIM, threshold=0.45,
            n_planes=8, n_tables=24, include_batch_pairs=False,
        ).collect()
    )


def test_srp_index_build_crash_leaves_live_index_answering(
    spark, tmp_path, publish_crash
):
    """The SRP twin of the MinHash rebuild crash test: a crash in the
    index's publish, in either window, leaves the live index answering
    as before; the next build publishes and answers like a fresh index
    over the grown corpus."""
    from etl_mudah_spark.plans.datapipe import EMB_DIM

    emb = load(spark, SF_SMOKE, "embeddings")
    grown = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    params = dict(dim=EMB_DIM, n_planes=8, n_tables=24)
    sim.srp_index_build(grown, ref, **params)
    want = _srp_answer(spark, ref, batch)
    assert want, "known near-dup pairs exist at smoke scale"
    # the live index lacks one paired corpus vector, so the rebuild shows
    old = grown.where(F.col("vec_id") != want[0][0])
    sim.srp_index_build(old, idx, **params)
    before = _srp_answer(spark, idx, batch)
    for window in ("write", "flip"):
        with publish_crash(idx, window):
            sim.srp_index_build(grown, idx, **params)
        assert _srp_answer(spark, idx, batch) == before, window
    sim.srp_index_build(grown, idx, **params)
    assert _srp_answer(spark, idx, batch) == want != before


def test_srp_index_rebuild_over_shrunk_corpus_crash_keeps_live_answers(
    spark, tmp_path, publish_crash
):
    """A rebuild over a corpus that DROPS vectors, crashing in either
    window, leaves the live index answering as before: buckets and
    vectors share one pointer, so old buckets never meet new vectors
    that lack their candidates."""
    from etl_mudah_spark.plans.datapipe import EMB_DIM

    emb = load(spark, SF_SMOKE, "embeddings")
    old = emb.where(F.col("vec_id") % 4 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    params = dict(dim=EMB_DIM, n_planes=8, n_tables=24)
    sim.srp_index_build(old, idx, **params)
    before = _srp_answer(spark, idx, batch)
    assert before, "known near-dup pairs exist at smoke scale"
    # the rebuild drops a paired corpus vector but keeps the others
    new = old.where(F.col("vec_id") != before[0][0])
    sim.srp_index_build(new, ref, **params)
    after = _srp_answer(spark, ref, batch)
    assert after and after != before
    for window in ("write", "flip"):
        with publish_crash(idx, window):
            sim.srp_index_build(new, idx, **params)
        assert _srp_answer(spark, idx, batch) == before, window
    sim.srp_index_build(new, idx, **params)
    assert _srp_answer(spark, idx, batch) == after
