"""Whole-registry scale audit: every registered query's physical plan
is checked for the two patterns that turn into 100 TB incidents —
CartesianProduct (all-pairs blowup) and an unpartitioned Window (the
entire input sorted in ONE task).

tests/test_plans.py pins named per-query claims (pushdown, broadcast,
TakeOrdered); this file is the blanket invariant over all 110 queries,
so a future query can't reintroduce a scale-killer unnoticed. The
BroadcastNestedLoopJoin allowlist is reviewed, not inferred: every
entry is a crossJoin whose broadcast side is provably tiny (a 1-row
global aggregate, a literal grid, a k-row codebook/probe, or a
capped-size dimension), i.e. the sanctioned re-aggregation pattern
from SURVEY.md §2.4/A13.
"""

from __future__ import annotations

import re

import pytest

from etl_mudah_spark.plans import registry
from tests.conftest import SF_SMOKE, conf_set

# Queries whose plan legitimately contains BroadcastNestedLoopJoin.
# Each broadcast side is bounded INDEPENDENT of input scale:
#   - 1-row global aggregate (share/threshold/percentile re-agg):
#     share_above_avg, nation_acctbal_concentration, brand_share,
#     price_segments, priority_shares, customer_balance_deciles,
#     idle_rich_customers_by_nation, parts_pareto_80, doc_exact_dedup,
#     doc_dedup_keep_best, events_user_hll, doc_minhash_near_dup,
#     doc_simhash_near_dup, doc_minhash_incremental, term_idf_top20
#   - literal/param grid or probe vector (k rows, k fixed):
#     price_kde (KDE grid), ann_srp_topk / ann_pq_topk / ann_ivf_topk
#     (probe row), emb_cosine_near_dup / emb_cosine_near_dup_lsh
#     (threshold scalar / sampled pair stats)
#   - small bounded dimension with a non-equi condition:
#     events_promo_range_join (promo windows — dozens of rows)
_BNLJ_ALLOWED = {
    "events_user_hll",
    "doc_minhash_near_dup",
    "doc_simhash_near_dup",
    "doc_minhash_incremental",
    "doc_stream_minhash_ingest",  # same 1-row recall-invariant crossJoin shape as doc_minhash_incremental, fed by the streaming ingest loop
    "emb_cosine_near_dup_lsh",
    "ann_srp_topk",
    "ann_pq_topk",
    "ann_ivf_topk",
    "ann_batch_topk",  # probe batch (5 rows) broadcast, non-equi self-exclusion
    "emb_hard_negatives",  # same 5-row limit()-bounded anchor batch broadcast; the label-inequality pair filter rides the same non-equi join
    "emb_knn_label_agreement",  # 25-row limit()-bounded anchor panel broadcast, same batch_topk non-equi shape
    "emb_sim_label_calibration",  # the same 25-row limit()-bounded panel broadcast (batch_topk, k=10)
    "emb_mmr_diverse_topk",  # 3-row limit()-bounded anchor batch broadcast in the shortlist pass (batch_topk); the greedy steps join bounded checkpointed relations
    "ann_bruteforce_topk",  # 1-row probe_row broadcast (round-6 df-probe)
    "ann_filtered_topk",  # same 1-row probe_row broadcast
    "ann_filtered_indexed",  # same 1-row probe_row broadcast over the IVF scan
    "ann_pq_filtered_topk",  # same 1-row probe_row broadcast over the PQ scan
    "ann_ivfpq_topk",  # same 1-row probe_row broadcast (cell rank + residual ADC)
    "ann_ivfpq_filtered_topk",  # same, over the pruned composite index scan
    "emb_semantic_dedup",  # exact all-pairs TWIN side (verification tier, like emb_cosine_near_dup) + 1-row stats broadcast
    "emb_srp_incremental_dedup",  # the same exact all-pairs TWIN side (batch-touching restriction) verifying the incremental index path
    "emb_stream_srp_ingest",  # same exact all-pairs TWIN side verifying the streaming ingest loop (the streamed pairs themselves come from the bucketed incremental path)
    "vocab_cms_topk",  # 1-row corpus-count broadcast for the CMS slack bound
    "doc_split_no_leakage",  # two 1-row audit aggregates (naive/cluster cross-pair counts) crossJoined onto the 3-row split summary
    "customer_balance_deciles",
    "idle_rich_customers_by_nation",
    "share_above_avg",
    "nation_acctbal_concentration",
    "term_idf_top20",
    "doc_bm25_search",  # 1-row (N, avgdl) corpus-stats broadcast
    "doc_hybrid_rrf",  # same BM25 1-row stats broadcast inside the fusion
    "doc_unigram_surprisal",  # 1-row corpus token-total broadcast
    "price_kde",
    "events_promo_range_join",
    "brand_share",
    "price_segments",
    "priority_shares",
    "doc_exact_dedup",
    "emb_cosine_near_dup",
    "doc_dedup_keep_best",
    "parts_pareto_80",
    "orders_quality_report",  # 1-row excess-count × 1-row total broadcast crossJoin
    "orders_customer_fk_audit",  # same 1-row violations × 1-row total crossJoin
    "doc_bigram_pmi",  # 1-row (U, B) grand-total broadcast onto the pair counts
    "part_basket_lift",  # 1-row order-total broadcast onto the pair counts
    "events_key_skew",  # 1-row stats × 1-row hottest-key broadcast crossJoins
    "doc_tfidf_similar",  # 1-row n_docs broadcast onto the |vocab|-row idf frame
    "doc_dup_triangles",  # three 1-row count aggregates broadcast-crossJoined
    "part_brand_target_encoding",  # 1-row grand-total (global prior) broadcast
    "priority_customer_overlap",  # 10-row priority-pair frame broadcast with a < condition (priority domain is bounded)
    "orders_replica_diff",  # 1-row drill-down summary broadcast onto the 1-row bucket count
    "orders_dow_seasonality",  # 1-row grand-daily-mean broadcast
    "daily_revenue_changepoint",  # 1-row (mu, n_days) stats broadcast
    "part_brand_type_mi",  # 1-row total + 1-row entropy broadcasts over the bounded-domain joint
    "events_value_drift_psi",  # two 1-row side-total broadcasts onto the <=11-bin drift table
    "doc_keyness_g2",  # 1-row corpus-totals broadcast onto the term counts (A13)
    "orders_benford_audit",  # 1-row total broadcast onto the <=9 digit counts (A13)
    "events_daily_acf",  # 1-row mean + 1-row denominator broadcasts onto the O(days) spine
    "part_er_match_scores",  # three 1-row u-probability broadcasts into the pair scorer
    "doc_lang_kappa",  # 1-row po/pe/total broadcasts over the bounded confusion matrix
    "daily_revenue_theilsen",  # calendar-bounded O(days) spine self-paired with a < condition + 1-row n_days broadcast
    "events_stream_drift_psi",  # psi_from_counts 1-row side-total broadcasts over the <=11-bin state
    "events_value_ks_drift",  # 1-row (n_a, n_b) totals broadcast onto the distinct-value diff frame
    "doc_quality_pr_curve",  # 1-row n_pos broadcast onto the |distinct scores| curve
    "doc_quality_avg_precision",  # same 1-row n_pos broadcast inside the AP reduction
    "doc_quality_brier",  # 1-row (n, n_pos) base-rate broadcast onto the score groups
    "events_conformal_interval",  # 1-row calibration-count and 1-row conformal-quantile broadcasts onto the O(days) spine
    "events_stream_ks_binned",  # 1-row side-totals broadcast onto the <=11-bin drained state
    "events_value_mad_outliers",  # 1-row median and 1-row MAD broadcasts onto the value scan
    "events_value_quantile_rollup",  # 1-row totals + 1-row exact-twin broadcasts onto the <=40-bin counter table
    "doc_cluster_modularity",  # 1-row edge-count broadcast onto the per-cluster (e_c, d_c) terms
    "events_stream_quantile_sketch",  # 1-row totals broadcast onto the <=40-bin drained state
    "events_type_quantile_norm",  # 1-row pooled-total broadcast into the integer rank targets
    "customer_km_survival",  # 1-row cohort-size broadcast onto the distinct-duration relation
    "segment_churn_logrank",  # 1-row per-group totals broadcast onto the distinct-duration relation
    "customer_revenue_lorenz",  # 1-row (n, total) broadcasts onto the ranked customer relation and the 10-decile table
    "part_golden_records",  # the same three 1-row u-probability broadcasts as part_er_match_scores (visible in the pre-localCheckpoint captured plan since round 10)
    "ann_recall_at_k",  # 1-row probe_row broadcasts through the persisted IVF/IVF-PQ query paths (5-probe batch, one 1-row broadcast each)
    "ann_ivfpq_maintained",  # the same 1-row probe_row broadcast over the maintained composite index scan
    "corpus_prep_e2e",  # 1-row stage-accounting aggregates broadcast onto the shard manifest (A13), visible in the captured publish-write plan
}

# Windows that legitimately run over ONE partition: their input is
# already aggregate-reduced to a bounded cardinality before the window,
# so the single task sees O(buckets)/O(days) rows, not the corpus.
#   - customer_balance_deciles / parts_pareto_80 / doc_global_shuffle:
#     phase-2 cumulative sum over the 256 bucket COUNTS of the
#     two-phase bucketed rank (operators/sampling.py) — the whole point
#     of that design is that only these ≤256 rows hit one task.
#   - daily_revenue_moving_avg: 7-day moving average over one row per
#     DAY (post-aggregation), O(calendar days) regardless of data size.
# (vocab_zipf_fit's rank window runs over its TakeOrdered top-200
# result, which is already a single partition — no Exchange
# SinglePartition appears, so the detector rightly stays quiet.)
_GLOBAL_WINDOW_ALLOWED = {
    "customer_balance_deciles",
    "events_hourly_interpolated",  # IGNORE-NULLS carry windows over the O(calendar hours) post-aggregation spine, like daily_revenue_moving_avg
    "parts_pareto_80",
    "doc_global_shuffle",
    "doc_shard_pack_global",  # phase-2 cumsum over the <=256 md5-prefix bucket TOTALS of the global token running sum (sampling.bucketed_running_sum)
    "daily_revenue_moving_avg",
    "doc_hybrid_rrf",  # rank windows over the two DEPTH-row (20) top-k lists; visible as Exchange SinglePartition since probe_row gained its structural limit(1) (round 12)
    "customer_balance_neighbors",  # the same phase-2 cumsum over the ~11k floor(acctbal) bucket COUNTS (visible in the pre-localCheckpoint captured plan since round 10)
    "part_price_size_frontier",  # skyline phase-2 prefix max over the ~1.2k floor(price) bucket MAXIMA (operators/skyline.py)
    "daily_revenue_changepoint",  # CUSUM over the O(calendar days) post-aggregation daily spine, like daily_revenue_moving_avg
    "doc_quality_auc",  # phase-2 cumsum over the <=64 score-bucket TOTALS of the two-phase AUC prefix sum (ml/metrics.py)
    "customer_revenue_gini",  # phase-2 cumsum over the O(hundreds) floor(revenue/10k) bucket COUNTS of the two-phase rank
    "daily_revenue_theilsen",  # phase-2 cumsum over the O(12) month bucket COUNTS ranking the daily spine
    "events_value_ks_drift",  # phase-2 cumsum over the ~300 floor(value) bucket TOTALS of the two KS prefix sums (operators/drift.py)
    "events_stream_ks_binned",  # cumulative-count window over the <=11-bin drained state (ks_binned_from_counts)
    "events_value_mad_outliers",  # phase-2 cumsum over the ~300 floor(value) bucket TOTALS of the two global median selections
    "events_value_quantile_rollup",  # cumulative-count window over the <=40-bin merged counter table (histogram_quantiles) + the exact-twin phase-2 cumsum
    "events_stream_quantile_sketch",  # the same <=40-bin cumulative-count window over the drained stream state
    "events_type_quantile_norm",  # phase-2 cumsum over the ~300 floor(value) bucket TOTALS of the pooled rank prefix sum
    "customer_km_survival",  # phase-2 cumsums over the ~25 floor(t/100) bucket TOTALS of the three KM prefix passes
    "segment_churn_logrank",  # the same floor(t/100) phase-2 cumsums for the two per-group at-risk passes
    "customer_revenue_lorenz",  # phase-2 cumsum of the two-phase rank + the 10-row decile cumulative window
    "doc_quality_pr_curve",  # phase-2 cumsum over the <=64 score-bucket TOTALS of the descending PR prefix sums (ml/metrics.py)
    "doc_quality_avg_precision",  # same <=64-bucket phase-2 cumsum via pr_curve_exact
    "events_conformal_interval",  # residual-rank window over the O(calendar-days) calibration spine, like daily_revenue_moving_avg
}

_EXCHANGE = re.compile(r"Exchange (SinglePartition|hashpartitioning|rangepartitioning)")


def _global_windows(plan: str) -> list[str]:
    """Physical Window nodes fed by ``Exchange SinglePartition``.

    A partitioned window's child chain shows ``Exchange
    hashpartitioning(part_cols, n)``; a GLOBAL ordered window requires
    all rows in one partition — ``Exchange SinglePartition`` — i.e. the
    whole input sorted in a single task. The node text alone can't
    distinguish ``[funcs], [order]`` (global) from ``[funcs], [part]``
    (partitioned, unordered), so classify by the first exchange BELOW
    the window instead (pre-order plan text: the child subtree follows
    the node line).
    """
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window [" not in line:
            continue
        for nxt in lines[i + 1:]:
            m = _EXCHANGE.search(nxt)
            if m:
                if m.group(1) == "SinglePartition":
                    hits.append(line.strip()[:120])
                break
    return hits


class _PlanCapture:
    """Record the physical plan of every DataFrame whose lineage a
    query truncates mid-construction — ``localCheckpoint`` (iterative
    operators: connected components, PageRank) and ``parquet`` writes
    (staged pipelines, persisted indexes, manifest publishes).

    Without this the audit only sees the post-truncation plan, so a
    CartesianProduct or single-task window BEFORE the checkpoint is
    invisible — the round-9 blind spot for part_golden_records and
    customer_balance_neighbors, previously hand-waived in comments and
    now machine-checked like everything else."""

    def __init__(self):
        self.plans: list[str] = []
        self.analyzed: list[str] = []

    def __enter__(self):
        # Patch the CLASSIC DataFrame subclass, not the pyspark.sql
        # facade: in Spark 4 the facade's localCheckpoint is overridden
        # by pyspark.sql.classic.dataframe.DataFrame, so patching the
        # parent never intercepts real calls.
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pragma: no cover — older pyspark
            from pyspark.sql import DataFrame
        from pyspark.sql import DataFrameWriter

        self._df_cls = DataFrame
        self._orig_ckpt = DataFrame.localCheckpoint
        self._orig_parquet = DataFrameWriter.parquet
        cap = self.plans
        cap_an = self.analyzed

        def ckpt(df_self, *args, **kwargs):
            qe = df_self._jdf.queryExecution()
            cap.append(qe.executedPlan().toString())
            cap_an.append(qe.analyzed().toString())
            return self._orig_ckpt(df_self, *args, **kwargs)

        def parquet(w_self, *args, **kwargs):
            df = getattr(w_self, "_df", None)
            if df is not None:
                qe = df._jdf.queryExecution()
                cap.append(qe.executedPlan().toString())
                cap_an.append(qe.analyzed().toString())
            return self._orig_parquet(w_self, *args, **kwargs)

        DataFrame.localCheckpoint = ckpt
        DataFrameWriter.parquet = parquet
        return self

    def __exit__(self, *exc):
        from pyspark.sql import DataFrameWriter

        self._df_cls.localCheckpoint = self._orig_ckpt
        DataFrameWriter.parquet = self._orig_parquet
        return False


def _collect_plans(spark):
    """One registry pass yielding BOTH plan texts per query: physical
    (executed — the shuffle/window/join-strategy audits) and analyzed
    logical (pre-optimization — the only tree that still shows
    ResolvedHint nodes, which the forced-broadcast audit needs)."""
    physical, analyzed = {}, {}
    for name, q in registry.REGISTRY.items():
        with _PlanCapture() as cap:
            df = q.spark_fn(spark, SF_SMOKE)
            qe = df._jdf.queryExecution()
            main = qe.executedPlan().toString()
            main_an = qe.analyzed().toString()
        physical[name] = "\n".join([main, *cap.plans])
        analyzed[name] = "\n".join([main_an, *cap.analyzed])
    return physical, analyzed


@pytest.fixture(scope="module")
def _plan_texts(spark):
    # Pinned at the engine session's threshold: the forced-broadcast
    # allowlist hygiene check assumes big_orders_preagg's footer-gated
    # hint fires, i.e. its smoke-scale bound stays under this value.
    with conf_set(spark, "spark.sql.autoBroadcastJoinThreshold", str(64 << 20)):
        return _collect_plans(spark)


@pytest.fixture(scope="module")
def all_plans(_plan_texts):
    return _plan_texts[0]


@pytest.fixture(scope="module")
def all_analyzed(_plan_texts):
    return _plan_texts[1]


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, f"CartesianProduct (all-pairs, unbroadcast): {offenders}"


def test_no_unpartitioned_window_anywhere(all_plans):
    offenders = []
    for name, plan in all_plans.items():
        if name in _GLOBAL_WINDOW_ALLOWED:
            continue
        for hit in _global_windows(plan):
            offenders.append((name, hit))
    assert not offenders, (
        "Global (unpartitioned) Window = whole input sorted in one task; "
        f"use operators/sampling.py bucketed_global_rank instead: {offenders}"
    )
    # Allowlist hygiene: every allowlisted name must still exhibit the
    # bounded-input global window it was reviewed for.
    stale = [
        n for n in _GLOBAL_WINDOW_ALLOWED if not _global_windows(all_plans[n])
    ]
    assert not stale, f"Allowlisted global window no longer present — remove: {stale}"


def test_bnlj_only_on_reviewed_tiny_broadcasts(all_plans):
    actual = {n for n, p in all_plans.items() if "BroadcastNestedLoopJoin" in p}
    new = actual - _BNLJ_ALLOWED
    assert not new, (
        "New BroadcastNestedLoopJoin appeared — review that the broadcast "
        f"side is scale-independent, then allowlist: {sorted(new)}"
    )
    # Allowlist hygiene: drop entries whose plans no longer need them.
    stale = _BNLJ_ALLOWED - actual
    assert not stale, f"Allowlisted BNLJ no longer present — remove: {sorted(stale)}"


def test_unpartitioned_window_detector_trips(spark):
    # Guard the guard: build a deliberately-global and a partitioned
    # window and check the exchange-based classifier separates them.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    bad = df.withColumn("rn", F.row_number().over(W.orderBy("id")))
    good = df.withColumn("rn", F.row_number().over(W.partitionBy("k").orderBy("id")))
    unordered = df.withColumn("mx", F.max("id").over(W.partitionBy("k")))
    assert _global_windows(bad._jdf.queryExecution().executedPlan().toString())
    assert not _global_windows(good._jdf.queryExecution().executedPlan().toString())
    assert not _global_windows(unordered._jdf.queryExecution().executedPlan().toString())


# --- forced-broadcast audit (VERDICT r11 item 2 / next-round item 3) ---
#
# round 11's doc_split_no_leakage force-broadcast a duplication-
# proportional cluster map — tiny at test SF, an OOM-by-hint at 100 TB
# with a realistic near-dup rate. The BNLJ audit above cannot see it
# (it was an equi-join), so this rule walks the ANALYZED logical plan:
# every ResolvedHint (strategy=broadcast) subtree must bound each file
# Relation it contains by an Aggregate / Distinct / Limit / literal
# Range on the path — or read a fixed-cardinality TPC-H dim (region=5,
# nation=25 rows at EVERY scale factor). An unbounded forced broadcast
# is a failing build; AQE broadcasts small relations without the hint,
# so the fix is always "drop the hint".

_PREFIX_CHARS = set(":+- ")

# Reviewed exceptions — every entry must carry a why, and a stronger
# bound than the plan shapes _is_bounding recognizes:
#
# big_orders_preagg (round 15): the hint is applied ONLY when a
# driver-side parquet footer read (layout.filtered_scan_bytes_bound
# over the range-sorted rollup's row-group min/max) PROVES the
# filtered side's compressed bytes fit under the session's
# autoBroadcastJoinThreshold — a bytes bound at hint time, stronger
# than the structural Aggregate/Limit shapes this audit walks for. At
# real scale the bound grows past the threshold and the hint is never
# applied. The gate is pinned both ways in tests/test_optimization_r15.py
# (fires when proven small; does not fire when the threshold shrinks
# below the bound).
_UNBOUNDED_BROADCAST_ALLOWED: set[str] = {"big_orders_preagg"}


def _node_depth(line: str) -> int:
    for i, ch in enumerate(line):
        if ch not in _PREFIX_CHARS:
            return i
    return len(line)


def _top_level_groups(s: str) -> int:
    """Count top-level [...] groups in a node's argument text (global
    aggregates print one group, grouped aggregates two)."""
    depth = 0
    groups = 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth -= 1
    return groups


def _is_bounding(node: str) -> bool:
    """True when this logical node (prefix-stripped text) bounds its
    output independent of input scale, or reduces it enough that the
    broadcast decision belongs to the caller's review (any Aggregate /
    Distinct: grouped aggregates over unbounded domains are the
    reviewer's call — the rule's teeth are raw/filtered corpus scans,
    the doc_split failure class)."""
    return node.startswith((
        "GlobalLimit", "LocalLimit",
        "Range (", "LocalRelation", "OneRowRelation",
        "Aggregate ", "Deduplicate", "Distinct",
    ))


def unbounded_broadcast_hints(analyzed: str) -> list[str]:
    """File Relations inside a broadcast-hint subtree with no bounding
    ancestor on the path up to the hint — one snippet per bad hint."""
    lines = analyzed.splitlines()
    depths = [_node_depth(ln) for ln in lines]
    hits = []
    for i, ln in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in ln:
            continue
        d = depths[i]
        j = i + 1
        sub = []
        while j < len(lines) and depths[j] > d:
            sub.append(j)
            j += 1
        for r in sub:
            node = lines[r][depths[r]:]
            if not node.startswith("Relation"):
                continue
            # region/nation are FIXED-cardinality TPC-H dims (5/25
            # rows at every scale factor) — a raw broadcast of them is
            # bounded by the data model, not the plan
            if "r_regionkey#" in node or "n_nationkey#" in node:
                continue
            cur = depths[r]
            bounded = False
            for a in range(r - 1, i, -1):
                if depths[a] < cur:
                    cur = depths[a]
                    if _is_bounding(lines[a][depths[a]:]):
                        bounded = True
                        break
            if not bounded:
                hits.append(node[:100])
                break  # one flag per hint is enough
    return hits


def test_no_forced_broadcast_of_unbounded_relation(all_analyzed):
    offenders = {
        name: hits
        for name, plan in all_analyzed.items()
        if name not in _UNBOUNDED_BROADCAST_ALLOWED
        and (hits := unbounded_broadcast_hints(plan))
    }
    assert not offenders, (
        "F.broadcast forced onto a corpus-proportional relation (OOM by "
        "hint at scale — drop the hint, AQE broadcasts small relations "
        f"on its own): {offenders}"
    )
    # Allowlist hygiene: an entry whose plan no longer trips the
    # detector (or that is no longer registered) is stale — remove it
    # so the audit keeps its teeth.
    stale = [
        n
        for n in _UNBOUNDED_BROADCAST_ALLOWED
        if not unbounded_broadcast_hints(all_analyzed.get(n, ""))
    ]
    assert not stale, f"Allowlisted broadcast hint no longer present — remove: {stale}"


def test_forced_broadcast_detector_trips(spark):
    # Guard the guard with the round-11 failure shape and its fixes.
    from pyspark.sql import functions as F

    scan = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    raw = scan.select("doc_id").join(
        F.broadcast(scan.select("doc_id", "source")), "doc_id"
    )
    assert unbounded_broadcast_hints(analyzed(raw)), "raw-scan hint must flag"
    filtered = scan.select("doc_id").join(
        F.broadcast(scan.where(F.col("n_chars") > 10).select("doc_id")),
        "doc_id",
    )
    assert unbounded_broadcast_hints(analyzed(filtered)), (
        "a filter does not bound cardinality — must still flag"
    )
    limited = scan.join(
        F.broadcast(scan.select("doc_id").limit(10)), "doc_id"
    )
    assert not unbounded_broadcast_hints(analyzed(limited))
    global_agg = scan.crossJoin(
        F.broadcast(scan.agg(F.count("*").alias("n")))
    )
    assert not unbounded_broadcast_hints(analyzed(global_agg))
    unhinted = scan.select("doc_id").join(scan.select("doc_id", "source"), "doc_id")
    assert not unbounded_broadcast_hints(analyzed(unhinted)), (
        "no hint, no flag — AQE-chosen broadcasts are fine"
    )


def test_packing_windows_are_bucketed_not_whole_source(all_plans):
    """VERDICT r10 item 2: the shard-packing running sum must never
    stream a whole source through one task. Every physical Window that
    orders by doc_id in a packing plan must carry the _pkb doc_id-range
    bucket in its partition spec (the grouped_bucketed_running_sum
    shape); a bare PARTITION BY source window over the doc relation is
    the serialization this pin forbids. The per-source offsets window
    (orders by _pkb over the bounded totals relation) is exempt by
    construction — it does not order by doc_id."""
    offenders = []
    seen_bucketed = 0
    for name in (
        "doc_shard_pack",
        "doc_shard_pack_bpe",
        "corpus_prep_e2e",
        "doc_shard_pack_stability",
    ):
        for line in all_plans[name].splitlines():
            if "Window [" not in line:
                continue
            s = line.strip()
            # the ORDER BY spec is the last bracket group of the node
            if "doc_id#" not in s.split("], [")[-1]:
                continue  # offsets window (orders by _pkb) etc.
            if "_pkb#" in s:
                seen_bucketed += 1
            else:
                offenders.append((name, s[:160]))
    assert not offenders, (
        f"packing window orders by doc_id without the _pkb bucket: {offenders}"
    )
    # guard against the pin going vacuous if plan text format changes
    # (1 bucketed data window in each of pack/pack_bpe/corpus_prep + 2
    # in the stability query's double pack)
    assert seen_bucketed >= 5, (
        f"expected a bucketed doc_id window per packing plan, saw "
        f"{seen_bucketed} — the plan-text matcher may have rotted"
    )
